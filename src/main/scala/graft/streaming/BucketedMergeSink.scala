package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Envelope
import graft.operators.Materialize

/** Bucket-partitioned MERGE sink: state is hash-partitioned into `buckets`
  * by PK, and a merge rewrites ONLY the buckets its batch touches — the
  * file-pruning behavior Delta/Iceberg `MERGE INTO` gets from data
  * skipping, built on a manifest: each committed version is a manifest
  * file mapping bucket → the parquet directory that last wrote it, swapped
  * in atomically. Untouched buckets keep their old files byte-for-byte.
  *
  * At 100 TB this is the difference between a MERGE that rewrites the
  * table and one that rewrites ~|batch keys| / |table keys| of it; bucket
  * count scales with table size (here small for tests).
  */
/** @param changefeedDelta when true, every epoch also persists its
  *   reduced batch as a `c<epoch>/` CHANGE-DELTA sidecar and `$changes`
  *   serves it directly (see [[MergeSink]] — the Delta
  *   `enableChangeDataFeed` analog). Without it the bucketed feed
  *   derives from a touched-bucket manifest diff: exact, but its I/O is
  *   bucket-bound, not change-bound — a SCATTERED update epoch touches
  *   every bucket and re-reads two versions of ~the table (measured:
  *   85 MB per 1000-row epoch at 1.5M rows; the sidecar reads 0.2 MB).
  */
class BucketedMergeSink(dir: String, buckets: Int = 16,
                        changefeedDelta: Boolean = false) extends CdcSink {
  private val root = new HPath(dir)
  private val pointer = new HPath(root, "CURRENT")

  private def bucketCol = pmod(xxhash64(col("key")), lit(buckets))

  /** The bucket count is part of the on-disk layout: reopening an
    * existing sink with a different count would route keys to other
    * buckets than their state lives in (duplicate/stale rows, silent).
    * Asserted on every commit against [[storedBucketCount]].
    */
  private def checkBucketCount(): Unit =
    storedBucketCount match {
      case Some(stored) => require(stored == buckets,
        s"sink $dir was written with buckets=$stored, opened with $buckets")
      case None =>
        SinkFs.mkdirs(root)
        SinkFs.writeString(new HPath(root, "_buckets"), buckets.toString)
    }

  /** The layout's committed bucket count: the CURRENT manifest's `K`
    * line — atomic with the file layout it describes, so a `rebucket`
    * commits count and layout in ONE pointer swap (a separate count
    * file could survive a crash describing the other side's layout) —
    * falling back to the legacy `_buckets` file for pre-K manifests.
    */
  private def storedBucketCount: Option[Int] =
    pinnedArtifact(root, pointer, None)
      .flatMap(mf => kLine(SinkFs.readLines(mf)))
      .orElse(legacyBucketsFile)

  private def kLine(lines: Seq[String]): Option[Int] =
    lines.find(_.startsWith("K\t")).map(_.split("\t")(1).trim.toInt)

  /** Pre-K-line fallback. Only sound for tables never rebucketed —
    * rebucket always writes a K line, so a legacy manifest's count
    * cannot have drifted from `_buckets`.
    */
  private def legacyBucketsFile: Option[Int] = {
    val f = new HPath(root, "_buckets")
    if (SinkFs.exists(f)) Some(SinkFs.readString(f).trim.toInt) else None
  }

  /** bucket -> (data directory, schema DDL) of its current version. The
    * DDL travels in the manifest so reads never open parquet footers to
    * discover schemas — at thousands of buckets a mergeSchema footer
    * sweep per micro-batch is a driver-side scale killer.
    */
  def manifest: Map[Int, (String, String)] =
    if (!SinkFs.exists(pointer)) Map.empty
    else parseManifest(new HPath(root, SinkFs.readPointer(pointer)))

  /** Read bucket dirs grouped by schema version: one schema-known read
    * per distinct DDL (zero footer I/O), `unionByName` across versions —
    * K4 evolution semantics without mergeSchema's cost.
    */
  private def readBuckets(spark: SparkSession,
                          dirs: Seq[(String, String)]): Option[DataFrame] = {
    val existing = dirs.distinct.filter(d => SinkFs.exists(new HPath(d._1)))
    if (existing.isEmpty) return None
    val byDdl = existing.groupBy(_._2)
    val parts = byDdl.toSeq.sortBy(_._1).map { case (ddl, ds) =>
      val paths = ds.map(_._1)
      if (ddl.isEmpty) // legacy dirs without recorded schema
        spark.read.option("mergeSchema", "true").parquet(paths: _*)
      else
        spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
          .parquet(paths: _*)
    }
    Some(parts.reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  def state(spark: SparkSession): Option[DataFrame] =
    readBuckets(spark, manifest.values.toSeq)

  /** Committed epoch ids whose manifests are still on disk, ascending —
    * the sink's time-travel index (every commit keeps its manifest; only
    * `vacuum()` erodes what the older ones can read). Bounded by the
    * CURRENT pointer's epoch: a crash between writing `m<e>.manifest`
    * and the atomic swap leaves an uncommitted manifest on disk —
    * epochs are monotonic, so manifests past the pointer are exactly
    * the uncommitted ones and must not be time-travel-readable.
    */
  def versions: Seq[Long] = {
    val tip = committedEpoch.getOrElse(return Nil)
    val M = """m(\d+)\.manifest""".r
    SinkFs.listNames(root)
      .collect { case M(epoch) => epoch.toLong }
      .filter(_ <= tip).sorted
  }

  /** The commit point is the CURRENT swap, so the replay guard must read
    * the POINTER, not manifest-file existence: a crash between writing
    * `m<e>.manifest` and moving CURRENT would otherwise mark epoch e
    * committed while CURRENT still serves e-1 — the replay gets skipped
    * and the epoch's data is silently lost.
    */
  override def committedEpoch: Option[Long] =
    if (!SinkFs.exists(pointer)) None
    else """m(\d+)\.manifest""".r
      .findFirstMatchIn(SinkFs.readPointer(pointer))
      .map(_.group(1).toLong)

  private def parseManifest(mf: HPath): Map[Int, (String, String)] =
    manifestOf(SinkFs.readLines(mf))

  private def manifestOf(lines: Seq[String]): Map[Int, (String, String)] =
    lines
      .filter(l => l.nonEmpty && !l.startsWith("K\t")) // K = bucket count
      .map { l =>
        l.split("\t", 3) match {
          case Array(b, p, ddl) => b.toInt -> (absPath(p), ddl)
          case Array(b, p) => b.toInt -> (absPath(p), "") // pre-DDL manifest
        }
      }.toMap

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


  override protected def commitArtifact(epoch: Long): HPath =
    new HPath(root, s"m$epoch.manifest")

  /** The manifest as of `epochId`: the newest committed version ≤ it
    * (Delta/Iceberg VERSION AS OF semantics).
    */
  def manifestAt(epochId: Long): Map[Int, (String, String)] = {
    val v = versions.filter(_ <= epochId)
    if (v.isEmpty) Map.empty
    else parseManifest(new HPath(root, s"m${v.last}.manifest"))
  }

  /** Time-travel read: full state AS OF `epochId`. Strict about erosion:
    * a version directory vacuumed away raises instead of silently
    * returning partial state.
    */
  def stateAt(spark: SparkSession, epochId: Long): Option[DataFrame] = {
    val m = manifestAt(epochId)
    if (m.isEmpty) return None
    val gone = m.values.map(_._1).filterNot(p => SinkFs.exists(new HPath(p)))
    require(gone.isEmpty,
      s"version data vacuumed away for epoch $epochId: ${gone.take(3).mkString(", ")}")
    readBuckets(spark, m.values.toSeq)
  }

  /** Latest-row view AS OF `epochId` (tombstoned deletes excluded). */
  def viewAt(spark: SparkSession, epochId: Long): DataFrame =
    stateAt(spark, epochId).getOrElse(
      throw new IllegalStateException(s"no committed state at epoch $epochId"))
      .filter(col("op") =!= Envelope.OpDelete).select(col("after.*"))

  /** Max merge position: the committed epoch's `.maxpos` sidecar first
    * (O(1) driver metadata — see [[CdcSink.recordMaxPos]]), parquet
    * footer statistics of the current manifest's leaf dirs second
    * (zero row I/O, pre-sidecar epochs — see
    * [[SinkFs.parquetMaxLong]]), the trait's column scan last.
    */
  override def tipPos(spark: SparkSession): Option[Long] = {
    val tip = committedEpoch
    if (tip.isEmpty) return None
    tip.flatMap(storedMaxPos).orElse(
      SinkFs.parquetMaxLong(
        manifest.values.map(p => new HPath(p._1)).toSeq.distinct, "pos"))
      .orElse(super.tipPos(spark))
  }

  /** Point-lookup read: ONE bucket's rows from ONE pinned manifest
    * (see [[CdcSink.stateBucket]]) — one pointer read, one manifest
    * parse for both the `K` line and the bucket entry; the manifest
    * maps the bucket straight to its single live directory, so the
    * read is one leaf dir.
    */
  override def stateBucket(spark: SparkSession, asOf: Option[Long],
                           bucketOf: Int => Int): Option[DataFrame] = {
    val lines = SinkFs.readLines(
      pinnedArtifact(root, pointer, asOf).getOrElse(return None))
    val k = kLine(lines).orElse(legacyBucketsFile).getOrElse(return None)
    val m = manifestOf(lines)
    if (m.isEmpty) return None
    m.get(bucketOf(k)) match {
      case Some((p, _)) if !SinkFs.exists(new HPath(p)) => None // eroded
      case Some(ref) => readBuckets(spark, Seq(ref))
      case None => // the bucket holds no rows: empty frame, known schema
        m.values.map(_._2).find(_.nonEmpty).map(ddl =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType.fromDDL(ddl)))
    }
  }

  /** Buckets whose data can differ between two committed epochs: the
    * two manifests name each bucket's version directory, so a bucket
    * pointing at the SAME path in both versions is byte-identical and
    * is excluded with zero data I/O — the manifest diff is pure driver
    * metadata (≤ `buckets` map lookups).
    */
  def changedBuckets(e1: Long, e2: Long): Set[Int] = {
    val m1 = manifestAt(e1)
    val m2 = manifestAt(e2)
    (m1.keySet ++ m2.keySet)
      .filter(b => m1.get(b).map(_._1) != m2.get(b).map(_._1))
  }

  /** Bucketed changefeed fast path: the epoch's manifest names exactly
    * which buckets it rewrote, so the change rows derive from reading
    * ONLY those buckets at `epoch` diffed on key against the SAME
    * buckets at `prevEpoch` — I/O tracks the touched-bucket set (the
    * change rate), never the full table. Tombstones are retained as
    * op='d' state rows, so deletes surface through the pos diff like
    * any change. Exact manifests required; vacuumed → None (diff
    * fallback). A rebucket epoch remaps every bucket path, so touched =
    * all and the derivation degrades to the (correct) full key diff —
    * rebucket is already O(table) by contract.
    */
  override def changesAt(spark: SparkSession, epoch: Long,
                         prevEpoch: Option[Long]): Option[DataFrame] = {
    // change-delta sidecar first (epochs written under changefeedDelta):
    // O(|batch|) bytes, no bucket reads at all. Same first-retained-epoch
    // guard as MergeSink: an incremental sidecar is not a snapshot.
    val c = new HPath(root, s"c$epoch")
    if (SinkFs.isDirectory(c) && (prevEpoch.isDefined || epoch == 0L))
      return Some(CdcSink.readSidecar(spark, c))
    val curMf = new HPath(root, s"m$epoch.manifest")
    if (!SinkFs.exists(curMf)) return None
    val cur = parseManifest(curMf)
    val out = prevEpoch match {
      case None => // first epoch: everything is a change
        readBuckets(spark, cur.values.toSeq)
      case Some(p) =>
        val prevMf = new HPath(root, s"m$p.manifest")
        if (!SinkFs.exists(prevMf)) return None
        val prev = parseManifest(prevMf)
        val touched = (cur.keySet ++ prev.keySet)
          .filter(b => cur.get(b).map(_._1) != prev.get(b).map(_._1))
        // vacuumed touched-bucket data on either side → diff fallback
        // (whose stateAt raises the strict erosion error) rather than
        // silently over-reporting changes against missing prev rows
        val refs = (cur.filter(kv => touched(kv._1)) ++
          prev.filter(kv => touched(kv._1))).values.map(_._1)
        if (refs.exists(r => !SinkFs.exists(new HPath(r)))) return None
        readBuckets(spark, cur.filter(kv => touched(kv._1)).values.toSeq)
          .map { c =>
            readBuckets(spark,
              prev.filter(kv => touched(kv._1)).values.toSeq) match {
              case None => c
              case Some(pr) =>
                // changed == the merge position moved (same criterion as
                // the diff fallback, restricted to touched buckets)
                c.join(pr.select(col("key"), col("pos").as("__prev_pos")),
                    Seq("key"), "left_outer")
                  .filter(col("__prev_pos").isNull ||
                    col("__prev_pos") =!= col("pos"))
                  .drop("__prev_pos")
            }
          }
    }
    out.map(_.select(col("key"), col("after"), col("op"), col("pos")))
  }

  /** `viewAt` restricted to a bucket subset — only those buckets' files
    * are scanned (same erosion strictness, applied to the subset).
    */
  def viewAt(spark: SparkSession, epochId: Long,
             only: Set[Int]): DataFrame = {
    val m = manifestAt(epochId).filter(kv => only(kv._1))
    val gone = m.values.map(_._1).filterNot(p => SinkFs.exists(new HPath(p)))
    require(gone.isEmpty,
      s"version data vacuumed away for epoch $epochId: ${gone.take(3).mkString(", ")}")
    readBuckets(spark, m.values.toSeq) match {
      case Some(df) =>
        df.filter(col("op") =!= Envelope.OpDelete).select(col("after.*"))
      case None =>
        // schema-only frame with ZERO file I/O: rebuild the union schema
        // readBuckets would produce from the manifest's recorded DDLs
        // (falling back to a full viewAt().limit(0) would list and
        // erosion-check EVERY bucket of the version — and throw if
        // untouched buckets were since vacuumed — just to emit no rows)
        val ddls = manifestAt(epochId).values.map(_._2).toSeq
          .distinct.filter(_.nonEmpty).sorted
        if (ddls.isEmpty) viewAt(spark, epochId).limit(0) // legacy dirs
        else {
          val parts = ddls.map(d => spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType.fromDDL(d)))
          parts.reduce(_.unionByName(_, allowMissingColumns = true))
            .filter(col("op") =!= Envelope.OpDelete).select(col("after.*"))
        }
    }
  }

  def view(spark: SparkSession): DataFrame = {
    val s = state(spark).getOrElse(
      throw new IllegalStateException(s"no committed state in $dir"))
    s.filter(col("op") =!= Envelope.OpDelete).select(col("after.*"))
  }

  /** Delete version directories no longer referenced by the current
    * manifest (the sink's VACUUM). Bucket dirs live under `v<epoch>/`;
    * a version dir is live while ANY bucket still points into it.
    */
  def vacuum(): Int = {
    val live = manifest.values
      .map { case (p, _) => new HPath(p).getParent.getName }.toSet
    val dead = SinkFs.listDirNames(root)
      .filter(n => n.startsWith("v") && !live(n))
    dead.foreach(n => SinkFs.deleteRecursive(new HPath(root, n)))
    dead.size
  }

  /** Feed-retention vacuum: reclaim `c<epoch>/` change-delta sidecars
    * below `floorEpoch` — without it a `changefeed=true` table's
    * sidecars accumulate for its lifetime (the version dirs recycle,
    * the sidecars never did). Records the loud `_feed_floor` first;
    * feed reads below it then fail as vacuumed (see
    * [[CdcSink.vacuumSidecars]]).
    */
  def vacuumFeed(floorEpoch: Long): Int =
    CdcSink.vacuumSidecars(root, floorEpoch)

  /** Oldest epoch the feed still serves after a feed-retention vacuum
    * (None = never feed-vacuumed). See [[CdcSink.feedFloor]].
    */
  override def changefeedFloor: Option[Long] = CdcSink.feedFloor(root)

  /** RE-BUCKET COMPACTION: rewrite the full state under a NEW bucket
    * count — the operation that lets the count FOLLOW TABLE GROWTH
    * (see [[CdcSink.heuristicBuckets]]; a pinned count makes every
    * touched-bucket rewrite inflate ∝ table/buckets as the table
    * grows). Commits like any epoch: the new layout lands whole under
    * `v<epochId>`, the manifest maps every live bucket into it, and the
    * CURRENT swap is atomic — so time travel to PRE-rebucket epochs
    * still reads the old layout byte-for-byte (`changedBuckets` across
    * the boundary reports all buckets: ids mean different things on
    * each side). O(table) I/O by design — schedule it like a
    * compaction, not per epoch. Returns the handle for the new count;
    * this instance keeps serving reads but refuses further merges
    * (`checkBucketCount` fails on the persisted new count).
    */
  def rebucket(spark: SparkSession, newBuckets: Int,
               epochId: Long): BucketedMergeSink = {
    require(newBuckets > 0, s"newBuckets $newBuckets must be positive")
    claimEpoch(epochId)
    try rebucketClaimed(spark, newBuckets, epochId)
    finally releaseClaim(epochId)
  }

  private def rebucketClaimed(spark: SparkSession, newBuckets: Int,
                              epochId: Long): BucketedMergeSink = {
    val observed = committedEpoch
    require(observed.exists(_ < epochId),
      s"rebucket needs committed state and a fresh epoch id " +
        s"(committed=$observed, got $epochId)")
    val st = state(spark).get
    val rb = st.withColumn("_bucket", pmod(xxhash64(col("key")), lit(newBuckets)))
    val vdir = new HPath(root, s"v$epochId").toString
    val ddl = org.apache.spark.sql.types.StructType(
      rb.schema.filterNot(_.name == "_bucket")).toDDL
    val writeTasks = math.min(newBuckets,
      spark.sparkContext.defaultParallelism * 2)
    rb.repartition(writeTasks, col("_bucket"))
      .sortWithinPartitions(col("_bucket"))
      .write.mode("overwrite").options(CdcSink.writeOptions).partitionBy("_bucket").parquet(vdir)
    val written = SinkFs.listNames(new HPath(vdir))
      .filter(_.startsWith("_bucket=")).map(_.stripPrefix("_bucket=").toInt)
      .sorted
    val newManifest = written.map(b => b -> (s"$vdir/_bucket=$b", ddl)).toMap
    // a rebucket rewrites the WHOLE table, so its own footer max is the
    // tip — also the legacy-table sidecar upgrade path
    recordMaxPos(epochId, SinkFs.parquetMaxLong(
      written.map(b => new HPath(s"$vdir/_bucket=$b")), "pos")
      .orElse(observed.flatMap(storedMaxPos)))
    val mfName = s"m$epochId.manifest"
    SinkFs.writeString(new HPath(root, mfName),
      (s"K\t$newBuckets" +: newManifest.toSeq.sortBy(_._1)
        .map { case (b, (p, d)) => s"$b\t${relPath(p)}\t$d" })
        .mkString("", "\n", "\n"))
    // the COMMIT is the swap: the manifest's K line flips layout and
    // count together; `_buckets` refreshes after as a legacy mirror
    publishEpoch(root, pointer, epochId, observed, mfName)
    SinkFs.writeString(new HPath(root, "_buckets"), newBuckets.toString)
    new BucketedMergeSink(dir, newBuckets)
  }

  def merge(batch: DataFrame, epochId: Long): Boolean = {
    // epoch claim first (serializes same-epoch rivals: stream merge vs
    // SQL DML), then the replay guard under it — see MergeSink.merge
    claimEpoch(epochId)
    try {
      val committed = committedEpoch
      if (committed.exists(_ >= epochId)) {
        CdcSink.warnReplay(s"BucketedMergeSink($dir)", epochId, committed.get)
        return false
      }
      mergeClaimed(batch, epochId, committed)
      true
    } finally releaseClaim(epochId)
  }

  private def mergeClaimed(batch: DataFrame, epochId: Long,
                           committed: Option[Long]): Unit = {
    checkBucketCount()
    val spark = batch.sparkSession
    graft.expressions.GraftFunctions.register(spark)
    // the epoch's incoming event rows `(key, after, op, pos, _bucket)`.
    // r16 rewrite (guide §2.4 "remove shuffles outright" + §1.2 step 1):
    // the old path reduced the batch in its own shuffle, persisted it,
    // probed touched buckets off the cache, then paid TWO more payload
    // exchanges in the merge (groupBy(key) aggregate + repartition for
    // the partitioned write). The merge-side reduce IS the write-side
    // clustering — latest-per-key within a bucket falls out of the same
    // sort the bucketed write needs — so the whole epoch now pays ONE
    // payload exchange (Materialize.latestPerKeyToBuckets below), and
    // the touched probe is a key-only column-pruned scan (map-side
    // distinct of ≤ `buckets` longs, no persist, no payload shuffle).
    val incoming =
      if (!changefeedDelta)
        batch.filter(col("op") =!= graft.model.Envelope.OpTombstone)
          .select(col("key"), col("after"), col("op"),
            col("source.pos").as("pos"))
          .withColumn("_bucket", bucketCol)
      else {
        // change-delta sidecar: the feed must serve the REDUCED batch,
        // bit-identical to what merges below — write it first, read it
        // back so feed and merge share one evaluation (see MergeSink).
        // The .ddl file pins the read schema (an empty epoch's sidecar
        // has no footers to infer from)
        val noBucket = Materialize.reduceToBuckets(batch, buckets, 0)
          .drop("_bucket")
        SinkFs.mkdirs(root)
        SinkFs.writeString(new HPath(root, s"c$epochId.ddl"),
          noBucket.schema.toDDL)
        noBucket.write.mode("overwrite").options(CdcSink.writeOptions)
          .parquet(new HPath(root, s"c$epochId").toString)
        spark.read.schema(noBucket.schema)
          .parquet(new HPath(root, s"c$epochId").toString)
          .withColumn("_bucket", bucketCol)
      }
    // driver learns WHICH buckets are touched (tiny: ≤ `buckets` rows)
    val touched = incoming.select(col("_bucket")).distinct()
      .collect().map(_.getLong(0).toInt).toSet
    val prevManifest = manifest
    val prevTouched = readBuckets(spark,
      prevManifest.filter(kv => touched(kv._1)).values.toSeq)
      // older versions may hold rows of untouched buckets in shared
      // dirs; keep only touched buckets' rows
      .map(_.withColumn("_bucket", bucketCol)
        .filter(col("_bucket").isin(touched.toSeq.map(_.toLong): _*)))
    // by-name union with missing columns allowed: same evolution
    // semantics as MergeSink (a batch under an evolved schema merges
    // into older state). Reduce + write clustering in ONE exchange on
    // min(touched, cores) tasks, buckets placed by id: left to AQE, a
    // small epoch's exchange (under its per-partition minimum size)
    // coalesced into ONE task that sorted and wrote every touched
    // bucket while the other cores idled — the driver already holds
    // `touched`, so the count costs nothing
    val writeTasks = math.min(touched.size max 1,
      spark.sparkContext.defaultParallelism)
    val merged = Materialize.latestPerKeyToBuckets(
      prevTouched match {
        case None => incoming
        case Some(prev) =>
          prev.unionByName(incoming, allowMissingColumns = true)
      }, writeTasks)
    val vdir = new HPath(root, s"v$epochId").toString
    // the rewritten buckets' max position rides the write job as an
    // observed metric (zero extra I/O) — feeds the tip sidecar below
    val obs = org.apache.spark.sql.Observation()
    val observed = merged.observe(obs, max(col("pos")).as("maxpos"))
    val ddl = org.apache.spark.sql.types.StructType(
      merged.schema.filterNot(_.name == "_bucket")).toDDL
    // already clustered AND sorted by _bucket (latestPerKeyToBuckets):
    // the sorted dynamic-partition write streams each task's whole
    // buckets through one rolling writer with no further exchange or
    // sort — one file per bucket, `writeTasks` writers in parallel
    observed
      .write.mode("overwrite").options(CdcSink.writeOptions).partitionBy("_bucket").parquet(vdir)
    val newManifest = prevManifest ++
      touched.map(b => b -> (s"$vdir/_bucket=$b", ddl)).toMap
    // tip-position sidecar: prev epoch's sidecar (or a one-time
    // legacy footer bootstrap over the prev manifest) + the rewritten
    // buckets' observed max — nothing extra here, O(1) per DML read
    val prevTip = committed.flatMap(storedMaxPos).orElse(
      if (committed.isEmpty) None
      else SinkFs.parquetMaxLong(
        prevManifest.values.map(p => new HPath(p._1)).toSeq.distinct,
        "pos"))
    val newMax = obs.get.get("maxpos").collect {
      case l: java.lang.Long => l.longValue()
    }
    recordMaxPos(epochId,
      if (touched.isEmpty) prevTip
      else (committed, prevTip, newMax) match {
        case (_, _, None) => None // stats missing: keep falling back
        case (None, _, nm) => nm // first commit
        case (_, Some(p), Some(n)) => Some(math.max(p, n))
        case _ => None // legacy bootstrap failed: keep falling back
      })
    val mfName = s"m$epochId.manifest"
    SinkFs.mkdirs(root)
    SinkFs.writeString(new HPath(root, mfName),
      (s"K\t$buckets" +: newManifest.toSeq.sortBy(_._1)
        .map { case (b, (p, d)) => s"$b\t${relPath(p)}\t$d" })
        .mkString("", "\n", "\n"))
    publishEpoch(root, pointer, epochId, committed, mfName)
  }
}

