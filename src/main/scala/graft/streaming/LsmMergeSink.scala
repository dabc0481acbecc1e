package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.model.Envelope
import graft.operators.Materialize

/** LSM-style (merge-on-read) MERGE sink: each epoch appends its reduced
  * batch as an immutable DELTA — O(|batch|) write I/O, no read of prior
  * state, no probe job — and the latest-row-per-key merge is deferred to
  * read time across base buckets + outstanding deltas. Once the delta
  * count reaches `compactEvery`, a compaction folds all deltas into the
  * buckets they touch (and only those), resetting read amplification.
  *
  * This is the log-structured half of the sink family (reference JDBC
  * sink buffering semantics, `JdbcChangeEventSink.java:89-186`, realized
  * the way Hudi MOR / Paimon / log-compacted topics do): the
  * [[BucketedMergeSink]] pays a bounded-but-fixed merge cost EVERY epoch
  * (probe + touched-bucket rewrite), which dominates when batches are
  * small; this sink makes the per-epoch cost proportional to the batch
  * alone and amortizes the merge over `compactEvery` epochs. At 100 TB
  * with high-frequency triggers this is the difference between a sink
  * whose steady-state cost tracks the CHANGE RATE and one that tracks
  * the table.
  *
  * Layout under `dir`: `d<epoch>/` delta dirs and `v<epoch>/` compacted
  * bucket dirs (both parquet, partitioned by `_bucket`), `m<epoch>
  * .manifest` version files, `CURRENT` pointer (atomic swap). Manifest
  * lines: `B <bucket> <path> <ddl>` for base buckets, `D <seq> <path>
  * <ddl> <b0,b1,...>` for deltas in arrival order; the bucket list lets
  * compaction and bucket-pruned reads enumerate leaf dirs with no
  * listing or footer I/O.
  */
class LsmMergeSink(dir: String, buckets: Int = 16, compactEvery: Int = 8)
    extends CdcSink {
  private val root = new HPath(dir)
  private val pointer = new HPath(root, "CURRENT")

  private def bucketCol = pmod(xxhash64(col("key")), lit(buckets))

  /** Same on-disk-layout guard as the bucketed sink: a different bucket
    * count on reopen would route keys away from their existing state.
    * The count of record is the CURRENT manifest's `K` line (atomic
    * with the layout — see BucketedMergeSink.storedBucketCount);
    * `_buckets` is the pre-K fallback.
    */
  private def checkBucketCount(): Unit =
    storedBucketCount match {
      case Some(stored) => require(stored == buckets,
        s"sink $dir was written with buckets=$stored, opened with $buckets")
      case None =>
        SinkFs.mkdirs(root)
        SinkFs.writeString(new HPath(root, "_buckets"), buckets.toString)
    }

  private def storedBucketCount: Option[Int] =
    pinnedArtifact(root, pointer, None)
      .flatMap(mf => kLine(SinkFs.readLines(mf)))
      .orElse(legacyBucketsFile)

  private def kLine(lines: Seq[String]): Option[Int] =
    lines.find(_.startsWith("K\t")).map(_.split("\t")(1).trim.toInt)

  /** Pre-K-line fallback — sound only for never-rebucketed tables
    * (rebucket always writes a K line).
    */
  private def legacyBucketsFile: Option[Int] = {
    val f = new HPath(root, "_buckets")
    if (SinkFs.exists(f)) Some(SinkFs.readString(f).trim.toInt) else None
  }

  case class Manifest(base: Map[Int, (String, String)],
                      deltas: Seq[(Long, String, String, Seq[Int])]) {
    def deltaLeafs: Seq[(String, String)] = deltas.flatMap {
      case (_, p, ddl, bs) => bs.map(b => (s"$p/_bucket=$b", ddl))
    }
  }

  def manifest: Manifest =
    if (!SinkFs.exists(pointer)) Manifest(Map.empty, Seq.empty)
    else parseManifest(new HPath(root, SinkFs.readPointer(pointer)))

  /** Committed epoch ids with retained manifests, ascending (time-travel
    * index; `vacuum()` erodes what old versions can still read).
    * Bounded by the CURRENT pointer's epoch: a crash between writing
    * `m<e>.manifest` and the atomic swap leaves an uncommitted manifest
    * on disk — epochs are monotonic, so manifests past the pointer are
    * exactly the uncommitted ones and must not be readable.
    */
  def versions: Seq[Long] = {
    val tip = committedEpoch.getOrElse(return Nil)
    val M = """m(\d+)\.manifest""".r
    SinkFs.listNames(root)
      .collect { case M(epoch) => epoch.toLong }
      .filter(_ <= tip).sorted
  }

  /** Read the CURRENT pointer, not manifest existence — the commit point
    * is the atomic swap (see BucketedMergeSink.committedEpoch).
    */
  override def committedEpoch: Option[Long] =
    if (!SinkFs.exists(pointer)) None
    else """m(\d+)\.manifest""".r
      .findFirstMatchIn(SinkFs.readPointer(pointer))
      .map(_.group(1).toLong)

  override protected def commitArtifact(epoch: Long): HPath =
    new HPath(root, s"m$epoch.manifest")

  /** Manifest as of `epochId` (newest committed ≤ it — VERSION AS OF). */
  def manifestAt(epochId: Long): Manifest = {
    val v = versions.filter(_ <= epochId)
    if (v.isEmpty) Manifest(Map.empty, Seq.empty)
    else parseManifest(new HPath(root, s"m${v.last}.manifest"))
  }

  /** Merge-on-read state AS OF `epochId`; strict about vacuumed data. */
  def stateAt(spark: SparkSession, epochId: Long): Option[DataFrame] = {
    val m = manifestAt(epochId)
    if (m.base.isEmpty && m.deltas.isEmpty) return None
    val refs = m.base.values.map(_._1) ++ m.deltaLeafs.map(_._1)
    val gone = refs.filterNot(p => SinkFs.exists(new HPath(p)))
    require(gone.isEmpty,
      s"version data vacuumed away for epoch $epochId: ${gone.take(3).mkString(", ")}")
    stateOf(spark, m)
  }

  def viewAt(spark: SparkSession, epochId: Long): DataFrame =
    stateAt(spark, epochId).getOrElse(
      throw new IllegalStateException(s"no committed state at epoch $epochId"))
      .filter(col("op") =!= Envelope.OpDelete).select(col("after.*"))

  private def parseManifest(mf: HPath): Manifest =
    manifestOf(SinkFs.readLines(mf))

  private def manifestOf(all: Seq[String]): Manifest = {
    val lines = all.filter(_.nonEmpty)
    val base = lines.filter(_.startsWith("B\t")).map { l =>
      val Array(_, b, p, ddl) = l.split("\t", 4)
      b.toInt -> (absPath(p), ddl)
    }.toMap
    val deltas = lines.filter(_.startsWith("D\t")).map { l =>
      val Array(_, seq, p, ddl, bs) = l.split("\t", 5)
      (seq.toLong, absPath(p), ddl,
        bs.split(",").iterator.filter(_.nonEmpty).map(_.toInt).toSeq)
    }.toSeq.sortBy(_._1)
    Manifest(base, deltas)
  }

  /** Manifest path entries are stored ROOT-RELATIVE (and resolved back
    * on parse), so a table directory is relocatable as a unit — rename,
    * restore, rsync — without orphaning its own data: an absolute path
    * baked into a manifest keeps pointing at the OLD location and the
    * read silently serves nothing. Absolute entries (pre-r14 manifests)
    * still resolve as-is, in place.
    */
  private def relPath(p: String): String = {
    val prefix = root.toString + "/"
    if (p.startsWith(prefix)) p.substring(prefix.length) else p
  }

  private def absPath(p: String): String = {
    val hp = new HPath(p)
    if (hp.isAbsolute) p else new HPath(root, p).toString
  }


  /** One schema-known read per distinct DDL, `unionByName` across schema
    * versions (K4 evolution without per-read footer merging).
    */
  private def readByDdl(spark: SparkSession,
                        dirs: Seq[(String, String)]): Option[DataFrame] = {
    val existing = dirs.distinct.filter(d => SinkFs.exists(new HPath(d._1)))
    if (existing.isEmpty) return None
    val parts = existing.groupBy(_._2).toSeq.sortBy(_._1).map { case (ddl, ds) =>
      spark.read.schema(StructType.fromDDL(ddl)).parquet(ds.map(_._1): _*)
    }
    Some(parts.reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  /** Merge-on-read state, bucket-pruned: only buckets with an outstanding
    * delta pay the latest-per-key shuffle (base-bucket files + delta
    * files for those buckets); every untouched compacted bucket is
    * already one-row-per-key and unions through VERBATIM — no Exchange,
    * no re-read of cold state. Mirrors `compact()`'s touched-only logic
    * on the read side: at 100 TB with one hot bucket, a read shuffles
    * |hot bucket| + deltas, not the table.
    */
  def state(spark: SparkSession): Option[DataFrame] =
    stateOf(spark, manifest)

  private def stateOf(spark: SparkSession, m: Manifest): Option[DataFrame] = {
    graft.expressions.GraftFunctions.register(spark)
    val touched = m.deltas.flatMap(_._4).toSet
    val untouched = readByDdl(spark,
      m.base.filterNot(kv => touched(kv._1)).values.toSeq)
    val merged = readByDdl(spark,
      m.base.filter(kv => touched(kv._1)).values.toSeq ++ m.deltaLeafs)
      .map { hot =>
        hot.groupBy(col("key"))
          .agg(graft.expressions.GraftFunctions.latestByPos(
            struct(col("after"), col("op"), col("pos")), col("pos")).as("e"))
          .select(col("key"), col("e.after").as("after"),
            col("e.op").as("op"), col("e.pos").as("pos"))
      }
    (untouched, merged) match {
      case (Some(u), Some(t)) =>
        Some(u.unionByName(t, allowMissingColumns = true))
      case (u, t) => u.orElse(t)
    }
  }

  def view(spark: SparkSession): DataFrame = {
    val s = state(spark).getOrElse(
      throw new IllegalStateException(s"no committed state in $dir"))
    s.filter(col("op") =!= Envelope.OpDelete).select(col("after.*"))
  }

  /** Point-lookup read: merge-on-read over ONE bucket — its base dir
    * plus only the deltas that touched it — from ONE pinned manifest
    * (see [[CdcSink.stateBucket]]). Reuses [[stateOf]] on a
    * bucket-restricted manifest, so the untouched-bucket verbatim path
    * and the hot merge path behave exactly like the full read, just
    * over one bucket.
    */
  override def stateBucket(spark: SparkSession, asOf: Option[Long],
                           bucketOf: Int => Int): Option[DataFrame] = {
    val lines = SinkFs.readLines(
      pinnedArtifact(root, pointer, asOf).getOrElse(return None))
    val k = kLine(lines).orElse(legacyBucketsFile).getOrElse(return None)
    val m = manifestOf(lines)
    if (m.base.isEmpty && m.deltas.isEmpty) return None
    val bucket = bucketOf(k)
    val restricted = Manifest(
      m.base.filter(_._1 == bucket),
      m.deltas.filter(_._4.contains(bucket))
        .map { case (s, p, d, _) => (s, p, d, Seq(bucket)) })
    // sound only if every referenced dir is still on disk (readByDdl
    // silently drops missing dirs — fine for the CURRENT manifest, not
    // for a pruned historical read): eroded → full-read fallback,
    // whose strict stateAt raises the vacuumed error
    val refs = restricted.base.values.map(_._1) ++
      restricted.deltaLeafs.map(_._1)
    if (refs.exists(r => !SinkFs.exists(new HPath(r)))) return None
    if (restricted.base.isEmpty && restricted.deltas.isEmpty)
      return (m.base.values.map(_._2) ++ m.deltas.map(_._3))
        .find(_.nonEmpty).map(ddl => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType.fromDDL(ddl)))
    stateOf(spark, restricted)
  }

  /** Max merge position WITHOUT the merge-on-read reduce: the global
    * max over raw base + delta events equals the reduced state's (the
    * max IS some key's latest event; superseded events only have lower
    * positions, and tombstones are retained rows in both). The default
    * would run the latest-per-key object aggregate over the whole
    * table — an O(table) shuffle on EVERY DML statement, measured as
    * the dominant term of a point UPDATE at 15M rows; this is one
    * column-pruned scan of `pos`, no shuffle.
    */
  override def tipPos(spark: SparkSession): Option[Long] = {
    val tip = committedEpoch
    if (tip.isEmpty) return None
    // the committed epoch's .maxpos sidecar first: O(1) driver
    // metadata, flat in the outstanding delta count (see
    // CdcSink.recordMaxPos)
    tip.flatMap(storedMaxPos).orElse(tipPosFromFiles(spark))
  }

  private def tipPosFromFiles(spark: SparkSession): Option[Long] = {
    val m = manifest
    val dirs = (m.base.values.map(_._1) ++ m.deltaLeafs.map(_._1))
      .toSeq.distinct.map(new HPath(_))
    // footer statistics: O(#files) metadata, zero row I/O (the
    // Iceberg/Delta file-stats answer); raw-file scan as the fallback
    SinkFs.parquetMaxLong(dirs, "pos").orElse {
      readByDdl(spark, m.base.values.toSeq ++ m.deltaLeafs).flatMap { raw =>
        Option(raw.agg(max(col("pos"))).head.get(0)).map {
          case l: java.lang.Long => l.longValue()
          case other => other.toString.toLong
        }
      }
    }
  }

  /** LSM changefeed fast path: the epoch's OWN delta dir `d<epoch>/` is
    * exactly the reduced batch it appended — op='d' tombstones included,
    * zero recompute, I/O = the batch's own bytes. Absent (rebucket
    * epoch, vacuumed delta) → None, the diff fallback.
    */
  override def changesAt(spark: SparkSession, epoch: Long,
                         prevEpoch: Option[Long]): Option[DataFrame] = {
    val d = new HPath(root, s"d$epoch")
    if (!SinkFs.isDirectory(d)) None
    else Some(spark.read.parquet(d.toString).drop("_bucket"))
  }

  def merge(batch: DataFrame, epochId: Long): Boolean = {
    // epoch claim first (serializes same-epoch rivals: stream merge vs
    // SQL DML), then the replay guard under it — see MergeSink.merge
    claimEpoch(epochId)
    try {
      // replay of an already-committed epoch (foreachBatch retry between
      // the sink's manifest swap and Spark's checkpoint commit) must be a
      // no-op: re-appending would duplicate the d<epoch> delta entry and
      // skew the compaction cadence. Committed versions are monotonic.
      val committed = committedEpoch
      if (committed.exists(_ >= epochId)) {
        CdcSink.warnReplay(s"LsmMergeSink($dir)", epochId, committed.get)
        return false
      }
      mergeClaimed(batch, epochId, committed)
    } finally releaseClaim(epochId)
  }

  /** Returns false when the batch touched no buckets (nothing commits). */
  private def mergeClaimed(batch: DataFrame, epochId: Long,
                           committed: Option[Long]): Boolean = {
    checkBucketCount()
    val spark = batch.sparkSession
    graft.expressions.GraftFunctions.register(spark)
    // ONE shuffle for reduce + bucket clustering (the bucket is a pure
    // function of the key, so a bucket partition already co-locates
    // every key's events — see Materialize.reduceToBuckets): the hot
    // append path pays a single exchange + sort instead of a key
    // shuffle, an object-hash aggregate AND a bucket shuffle.
    // writeTasks <= 0 (r16): session/AQE-adaptive partition count —
    // a trickle epoch coalesces to few write tasks, a snapshot epoch
    // stays wide (guide §2's scale-adaptive partitioning); tasks stream
    // their buckets through one rolling writer via the sorted
    // partitioned write either way.
    // the epoch's max position rides the write job as an observed
    // metric (CollectMetrics) — zero extra I/O, zero extra job — and
    // feeds the O(1) tip-position sidecar below
    val obs = org.apache.spark.sql.Observation()
    val reduced = Materialize.reduceToBuckets(batch, buckets, writeTasks = 0)
      .observe(obs, max(col("pos")).as("maxpos"))
    val ddl = StructType(reduced.schema
      .filterNot(_.name == "_bucket")).toDDL
    val ddir = new HPath(root, s"d$epochId")
    reduced.write.mode("overwrite").options(CdcSink.writeOptions).partitionBy("_bucket").parquet(ddir.toString)
    // touched buckets from the written directory names — driver metadata
    // listing of <= `buckets` entries, no data read
    val touched = SinkFs.listNames(ddir)
      .filter(_.startsWith("_bucket=")).map(_.stripPrefix("_bucket=").toInt)
      .sorted
    if (touched.isEmpty) { SinkFs.deleteRecursive(ddir); return false }
    val m = manifest
    // tip-position sidecar: prev epoch's sidecar (or a ONE-TIME legacy
    // footer bootstrap over the whole manifest) + the new delta's own
    // observed max — nothing extra at write time, O(1) at every DML
    // read (compaction rewrites never change the max: latest-per-key
    // keeps each key's newest position and tombstones are retained rows)
    val prevTip = committed.flatMap(storedMaxPos).orElse(
      if (committed.isEmpty) None
      else SinkFs.parquetMaxLong(
        (m.base.values.map(_._1) ++ m.deltaLeafs.map(_._1))
          .toSeq.distinct.map(new HPath(_)), "pos"))
    val newMax = obs.get.get("maxpos").collect {
      case l: java.lang.Long => l.longValue()
    }
    recordMaxPos(epochId, (committed, prevTip, newMax) match {
      case (_, _, None) => None // new files lack stats: keep falling back
      case (None, _, nm) => nm // first commit: the delta IS the table
      case (_, Some(p), Some(n)) => Some(math.max(p, n))
      case _ => None // legacy bootstrap failed: keep falling back
    })
    val nextSeq = (m.deltas.map(_._1) :+ 0L).max + 1
    val withDelta = m.copy(deltas =
      m.deltas :+ ((nextSeq, ddir.toString, ddl, touched)))
    if (withDelta.deltas.size >= compactEvery)
      compact(spark, withDelta, epochId, committed)
    else writeManifest(withDelta, epochId, observed = committed)
    true
  }

  /** Fold all outstanding deltas into the buckets they touch: read ONLY
    * touched base buckets + the deltas, merge latest-per-key, rewrite
    * those buckets. Untouched buckets keep their files byte-for-byte.
    */
  private def compact(spark: SparkSession, m: Manifest, epochId: Long,
                      observed: Option[Long]): Unit = {
    val touched = m.deltas.flatMap(_._4).toSet
    val prevTouched = readByDdl(spark,
      m.base.filter(kv => touched(kv._1)).values.toSeq)
      .map(_.withColumn("_bucket", bucketCol)
        .filter(col("_bucket").isin(touched.toSeq.map(_.toLong): _*)))
    val deltaRows = readByDdl(spark, m.deltaLeafs).get
      .withColumn("_bucket", bucketCol)
    val all = prevTouched match {
      case None => deltaRows
      case Some(prev) =>
        prev.unionByName(deltaRows, allowMissingColumns = true)
    }
    // latest-per-key AND write clustering in ONE exchange (r16, guide
    // §2.4): the groupBy(key) aggregate + repartition(_bucket) form paid
    // two payload shuffles for a fold whose reduce falls out of the same
    // (bucket, key, pos DESC) sort the partitioned write needs.
    // writeTasks <= 0 = session/AQE-adaptive partition count
    val merged = graft.operators.Materialize.latestPerKeyToBuckets(
      all, writeTasks = 0)
    val vdir = new HPath(root, s"v$epochId").toString
    val ddl = StructType(merged.schema.filterNot(_.name == "_bucket")).toDDL
    merged
      .write.mode("overwrite").options(CdcSink.writeOptions).partitionBy("_bucket").parquet(vdir)
    val newBase = m.base ++ touched.map(b => b -> (s"$vdir/_bucket=$b", ddl))
    writeManifest(Manifest(newBase, Seq.empty), epochId, observed = observed)
  }

  /** `observed` = the committed epoch the (claim-holding) caller based
    * this manifest on — the CAS half of the commit swap.
    */
  private def writeManifest(m: Manifest, epochId: Long,
                            count: Int = buckets,
                            observed: Option[Long]): Unit = {
    val mfName = s"m$epochId.manifest"
    SinkFs.mkdirs(root)
    val baseLines = m.base.toSeq.sortBy(_._1).map {
      case (b, (p, d)) => s"B\t$b\t${relPath(p)}\t$d"
    }
    val deltaLines = m.deltas.map {
      case (seq, p, d, bs) =>
        s"D\t$seq\t${relPath(p)}\t$d\t${bs.mkString(",")}"
    }
    SinkFs.writeString(new HPath(root, mfName),
      (s"K\t$count" +: (baseLines ++ deltaLines)).mkString("", "\n", "\n"))
    publishEpoch(root, pointer, epochId, observed, mfName)
  }

  /** Fold all outstanding deltas into their buckets NOW as a fresh
    * epoch — the on-demand half of the compaction cadence (`CALL
    * graft.system.compact(...)`), running the same touched-only fold
    * as the automatic `compactEvery` trigger. Returns the committed
    * epoch, or None when there are no outstanding deltas (nothing
    * folds, nothing commits).
    */
  def compactNow(spark: SparkSession): Option[Long] = {
    val observed = committedEpoch
    if (observed.isEmpty) return None
    val epochId = observed.get + 1
    claimEpoch(epochId)
    try {
      // re-check under the claim: a rival committing our epoch between
      // resolution and the claim must fail loudly, not fold stale state
      val now = committedEpoch
      if (now != observed)
        throw new ConcurrentEpochCommitException(
          s"LsmMergeSink($dir): committed tip moved from $observed to " +
            s"$now while claiming compaction epoch $epochId — re-run")
      val m = manifest
      if (m.deltas.isEmpty) None
      else {
        // compaction adds no rows: the tip carries forward
        recordMaxPos(epochId, observed.flatMap(storedMaxPos))
        compact(spark, m, epochId, observed); Some(epochId)
      }
    } finally releaseClaim(epochId)
  }

  /** RE-BUCKET COMPACTION (see [[BucketedMergeSink.rebucket]]): the
    * full merge-on-read state rewrites as a fresh all-base layout under
    * the new bucket count — outstanding deltas fold in as a side
    * effect, so the result is also a full compaction. O(table) I/O;
    * schedule with table growth. Returns the new-count handle; this
    * instance keeps serving reads but refuses further merges.
    */
  def rebucket(spark: SparkSession, newBuckets: Int,
               epochId: Long): LsmMergeSink = {
    require(newBuckets > 0, s"newBuckets $newBuckets must be positive")
    claimEpoch(epochId)
    try rebucketClaimed(spark, newBuckets, epochId)
    finally releaseClaim(epochId)
  }

  private def rebucketClaimed(spark: SparkSession, newBuckets: Int,
                              epochId: Long): LsmMergeSink = {
    val observed = committedEpoch
    require(observed.exists(_ < epochId),
      s"rebucket needs committed state and a fresh epoch id " +
        s"(committed=$observed, got $epochId)")
    val st = state(spark).get
    val rb = st.withColumn("_bucket",
      pmod(xxhash64(col("key")), lit(newBuckets)))
    val vdir = new HPath(root, s"v$epochId").toString
    val ddl = StructType(rb.schema.filterNot(_.name == "_bucket")).toDDL
    val writeTasks = math.min(newBuckets,
      spark.sparkContext.defaultParallelism * 2)
    rb.repartition(writeTasks, col("_bucket"))
      .sortWithinPartitions(col("_bucket"))
      .write.mode("overwrite").options(CdcSink.writeOptions).partitionBy("_bucket").parquet(vdir)
    val written = SinkFs.listNames(new HPath(vdir))
      .filter(_.startsWith("_bucket=")).map(_.stripPrefix("_bucket=").toInt)
      .sorted
    val newBase = written.map(b => b -> (s"$vdir/_bucket=$b", ddl)).toMap
    // a rebucket rewrites the WHOLE table (tombstones included), so its
    // own footer max is the tip — also the upgrade path for legacy
    // tables with no sidecar yet
    recordMaxPos(epochId, SinkFs.parquetMaxLong(
      written.map(b => new HPath(s"$vdir/_bucket=$b")), "pos")
      .orElse(observed.flatMap(storedMaxPos)))
    // commit = the swap inside writeManifest; the K line flips layout
    // and count together, `_buckets` refreshes after as a legacy mirror
    writeManifest(Manifest(newBase, Seq.empty), epochId, count = newBuckets,
      observed = observed)
    SinkFs.writeString(new HPath(root, "_buckets"), newBuckets.toString)
    new LsmMergeSink(dir, newBuckets, compactEvery)
  }

  /** Delete `d*`/`v*` dirs not referenced by the current manifest. */
  def vacuum(): Int = {
    val m = manifest
    val live = (m.base.values.map(p => new HPath(p._1).getParent) ++
      m.deltas.map(d => new HPath(d._2))).map(_.getName).toSet
    val dead = SinkFs.listDirNames(root).filter(n =>
      (n.startsWith("v") || n.startsWith("d")) && !live(n))
    dead.foreach(n => SinkFs.deleteRecursive(new HPath(root, n)))
    dead.size
  }
}
