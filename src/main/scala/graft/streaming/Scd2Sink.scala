package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.Envelope
import graft.operators.Scd2

/** Streaming SCD-2 maintenance: the history table kept current under
  * micro-batch change feeds, with the [[LsmMergeSink]] cost model —
  * closed versions physically APPEND ONCE and are never re-read or
  * rewritten on the hot path; only the bounded OPEN-version set of the
  * touched buckets rewrites per epoch. Each epoch:
  *
  *  1. routes batch events by key hash into `buckets`;
  *  2. reads ONLY the touched buckets' OPEN versions (one row per live
  *     key — bounded by key count, never by history length); closed
  *     history is not read at all;
  *  3. re-enters each stored open version as a synthetic read event and
  *     runs the interval algebra ([[Scd2.intervals]]) over
  *     (synthetic ∪ batch) — a key with no batch events reproduces its
  *     open row bit-for-bit, a key with events closes it;
  *  4. ONE partitioned write splits the result: rows that gained a
  *     `valid_to_pos` are NEW closures (they were open or batch-internal
  *     a moment ago) and land in this epoch's closed-version DELTA —
  *     O(|batch|) bytes; still-open rows replace the touched buckets'
  *     open set. Untouched buckets keep every file byte-for-byte;
  *  5. once `compactEvery` closed deltas are outstanding, a compaction
  *     folds them into the closed-base buckets they touch (pure
  *     re-grouping — closed rows are immutable so no merge logic runs),
  *     resetting read amplification;
  *  6. commits by manifest + atomic CURRENT swap (the
  *     [[BucketedMergeSink]] idempotent-epoch contract: replaying a
  *     committed epoch is a no-op).
  *
  * 100 TB shape: per-epoch write I/O is O(|batch| + open keys of
  * touched buckets) — with a hot key hammering one bucket every epoch,
  * cost tracks the CHANGE RATE, while the unbounded closed history
  * stays append-only cold data (the prior design re-read and re-wrote a
  * touched bucket's full history each epoch, i.e. I/O grew linearly
  * with history length under exactly that workload).
  *
  * Layout under `dir`: `e<epoch>/` per-epoch dirs partitioned by
  * (`_closed`,`_bucket`) — `_closed=true` is the closed delta,
  * `_closed=false/_bucket=b` the rewritten open sets — plus
  * `b<epoch>/` compacted closed-base dirs, `m<epoch>.manifest` version
  * files and the `CURRENT` pointer. Manifest lines: `O <bucket> <path>
  * <ddl>` open sets, `B <bucket> <path> <ddl>` closed base, `C <seq>
  * <path> <ddl> <b0,b1,...>` closed deltas in arrival order (the
  * bucket list lets compaction enumerate leaf dirs with no listing or
  * footer I/O; the DDL keys schema-evolution-safe reads, K4).
  */
/** @param changefeedDelta when true, every epoch also persists its
  *   LAST-EVENT-PER-KEY reduction as a `c<epoch>/` change-delta sidecar
  *   and `$changes` serves it directly (see [[MergeSink]]) — O(|batch|)
  *   feed I/O even for scattered updates, where the epoch-partition
  *   derivation must re-read the touched buckets' previous OPEN sets
  *   (bucket-bound, ~the table when every bucket is touched). Sidecar
  *   rows keep the events' own ops (a feed consumer sees 'u'/'c'/'d' as
  *   emitted, deletes as tombstones at their true closing position);
  *   both derivations reconstruct the same live table under
  *   latest-by-pos.
  */
class Scd2Sink(dir: String, buckets: Int = 16, compactEvery: Int = 8,
               changefeedDelta: Boolean = false)
    extends CdcSink {
  private val root = new HPath(dir)
  private val pointer = new HPath(root, "CURRENT")

  private def bucketCol = pmod(xxhash64(col("key")), lit(buckets))

  /** Open sets per bucket, closed base per bucket, closed deltas in
    * arrival order (seq, path, ddl, touched buckets).
    */
  case class Manifest(open: Map[Int, (String, String)],
                      base: Map[Int, (String, String)],
                      deltas: Seq[(Long, String, String, Seq[Int])]) {
    def deltaLeafs: Seq[(String, String)] = deltas.flatMap {
      case (_, p, ddl, bs) => bs.map(b => (s"$p/_bucket=$b", ddl))
    }
    def closedDirs: Seq[(String, String)] =
      base.values.toSeq ++ deltaLeafs
  }

  def manifest: Manifest =
    if (!SinkFs.exists(pointer)) Manifest(Map.empty, Map.empty, Seq.empty)
    else parseManifest(new HPath(root, SinkFs.readPointer(pointer)))

  private def parseManifest(mf: HPath): Manifest =
    manifestOf(mf, SinkFs.readLines(mf))

  private def manifestOf(mf: HPath, all: Seq[String]): Manifest = {
    val lines = all.filter(_.nonEmpty)
    // fail FAST on a pre-LSM layout (untagged '<bucket>\t<path>' lines):
    // silently matching nothing would discard the stored history while
    // committedEpoch still reports the old epoch — replayed epochs would
    // be skipped as "already committed" and the history rebuilt wrong
    val legacy = lines.filterNot(l =>
      l.startsWith("O\t") || l.startsWith("B\t") || l.startsWith("C\t") ||
        l.startsWith("K\t")) // K = the layout's bucket count
    require(legacy.isEmpty,
      s"$mf contains ${legacy.size} pre-LSM manifest line(s) " +
        s"(e.g. '${legacy.head.take(60)}'): this directory was written by " +
        "the rewrite-on-merge Scd2Sink layout, which this version does " +
        "not read — re-materialize the history into a fresh directory")
    def byBucket(tag: String) = lines.filter(_.startsWith(tag)).map { l =>
      val Array(_, b, p, ddl) = l.split("\t", 4)
      b.toInt -> (absPath(p), ddl)
    }.toMap
    val deltas = lines.filter(_.startsWith("C\t")).map { l =>
      val Array(_, seq, p, ddl, bs) = l.split("\t", 5)
      (seq.toLong, absPath(p), ddl,
        bs.split(",").iterator.filter(_.nonEmpty).map(_.toInt).toSeq)
    }.toSeq.sortBy(_._1)
    Manifest(byBucket("O\t"), byBucket("B\t"), deltas)
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


  /** The bucket count is part of the on-disk layout (same hazard as
    * BucketedMergeSink.checkBucketCount): reopening with a different
    * count would route keys away from their stored open versions —
    * silent duplicate/contradictory history rows. The count of record
    * is the CURRENT manifest's `K` line (atomic with the layout it
    * describes — see BucketedMergeSink.storedBucketCount); `_buckets`
    * is the pre-K fallback.
    */
  private def checkBucketCount(): Unit =
    storedBucketCount match {
      case Some(stored) => require(stored == buckets,
        s"history $dir was written with buckets=$stored, opened with $buckets")
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

  /** Read the CURRENT pointer, not manifest existence — the commit point
    * is the atomic swap (see BucketedMergeSink.committedEpoch).
    */
  override def committedEpoch: Option[Long] =
    if (!SinkFs.exists(pointer)) None
    else """m(\d+)\.manifest""".r
      .findFirstMatchIn(SinkFs.readPointer(pointer))
      .map(_.group(1).toLong)

  /** One schema-known read per distinct DDL, `unionByName` across schema
    * versions (K4 evolution without per-read footer merging); entries
    * whose dir is absent (a touched bucket that ended with zero rows of
    * that class) read as empty.
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

  /** The full history table (user-facing shape): closed base + closed
    * deltas + open sets, a pure union — no merge work at read time
    * because every row is already a finalized version interval.
    */
  def history(spark: SparkSession): DataFrame =
    historyOption(spark).getOrElse(
      throw new IllegalStateException(s"no committed history in $dir"))

  /** [[history]] as an Option: a sink with no committed manifest reads
    * as None instead of throwing (the catalog's empty-table read).
    */
  def historyOption(spark: SparkSession): Option[DataFrame] =
    historyOf(spark, manifest)

  /** [[history]] AS OF a committed epoch (the `$history` metadata
    * table's time travel); strict about vacuumed data, like `stateAt`.
    */
  def historyAt(spark: SparkSession, epochId: Long): Option[DataFrame] =
    checkedManifestAt(epochId).flatMap(historyOf(spark, _))

  private def historyOf(spark: SparkSession,
                        m: Manifest): Option[DataFrame] =
    readByDdl(spark, m.closedDirs ++ m.open.values.toSeq).map(Scd2.present)

  /** Committed epoch ids with retained manifests, ascending (the
    * time-travel index, like [[LsmMergeSink.versions]]; `vacuum()`
    * erodes what the older ones can still read). Bounded by the
    * CURRENT pointer's epoch: a crash between writing `m<e>.manifest`
    * and the atomic swap leaves an UNCOMMITTED manifest on disk —
    * epochs are monotonic, so everything past the pointer is not
    * durable state and must not be time-travel-readable.
    */
  def versions: Seq[Long] = {
    val tip = committedEpoch.getOrElse(return Nil)
    val M = """m(\d+)\.manifest""".r
    SinkFs.listNames(root)
      .collect { case M(epoch) => epoch.toLong }
      .filter(_ <= tip).sorted
  }

  override protected def commitArtifact(epoch: Long): HPath =
    new HPath(root, s"m$epoch.manifest")

  /** Manifest as of `epochId` (newest committed ≤ it — VERSION AS OF). */
  def manifestAt(epochId: Long): Manifest = {
    val v = versions.filter(_ <= epochId)
    if (v.isEmpty) Manifest(Map.empty, Map.empty, Seq.empty)
    else parseManifest(new HPath(root, s"m${v.last}.manifest"))
  }

  /** Manifest AS OF `epochId` if any epoch ≤ it committed; strict about
    * vacuumed data (the shared preamble of `stateAt`/`historyAt`).
    */
  private def checkedManifestAt(epochId: Long): Option[Manifest] = {
    val m = manifestAt(epochId)
    if (m.open.isEmpty && m.base.isEmpty && m.deltas.isEmpty) return None
    val refs = m.open.values.map(_._1) ++ m.closedDirs.map(_._1)
    val gone = refs.filterNot(p => SinkFs.exists(new HPath(p)))
    require(gone.isEmpty,
      s"version data vacuumed away for epoch $epochId: ${gone.take(3).mkString(", ")}")
    Some(m)
  }

  /** Current rows as reduced envelope state (key, after, op, pos) — the
    * shape the other sinks' `state` returns, so the catalog read surface
    * is uniform. A stored open version is by construction the current
    * image of its key, so it re-surfaces as a synthetic read (`op='r'`)
    * at its `valid_from_pos` — the same re-entry convention `merge` uses.
    */
  def state(spark: SparkSession): Option[DataFrame] = stateOf(spark, manifest)

  /** Point-lookup read: ONE bucket's open set from ONE pinned manifest
    * (see [[CdcSink.stateBucket]]) — the live table is exactly the open
    * versions, so the lookup never touches closed history.
    */
  override def stateBucket(spark: SparkSession, asOf: Option[Long],
                           bucketOf: Int => Int): Option[DataFrame] = {
    val mf = pinnedArtifact(root, pointer, asOf).getOrElse(return None)
    val lines = SinkFs.readLines(mf)
    val k = kLine(lines).orElse(legacyBucketsFile).getOrElse(return None)
    val m = manifestOf(mf, lines)
    if (m.open.isEmpty && m.base.isEmpty && m.deltas.isEmpty) return None
    val bucket = bucketOf(k)
    val ref = m.open.filter(_._1 == bucket)
    // eroded open data → full-read fallback (strict stateAt errors)
    if (ref.values.exists(r => !SinkFs.exists(new HPath(r._1)))) return None
    stateOf(spark, m.copy(open = ref))
  }

  /** `state` AS OF a committed epoch; strict about vacuumed data. */
  def stateAt(spark: SparkSession, epochId: Long): Option[DataFrame] =
    checkedManifestAt(epochId).flatMap(stateOf(spark, _))

  private def stateOf(spark: SparkSession, m: Manifest): Option[DataFrame] =
    readByDdl(spark, m.open.values.toSeq)
      // every key deleted: empty state with the history's schema
      .orElse(readByDdl(spark, m.closedDirs).map(_.limit(0)))
      .map(_.select(col("key"), col("after"),
        lit(Envelope.OpRead).as("op"), col("valid_from_pos").as("pos")))

  /** Keys whose open version at `prevEpochId` was CLOSED with no
    * reopening by `epochId` — deletes, which leave no state row here —
    * with the TRUE closing position from the interval history (the
    * changefeed needs it: a synthetic position would mis-order against
    * a later genuine re-insert under latest-by-pos).
    */
  override def droppedAt(spark: SparkSession, epochId: Long,
                         prevEpochId: Long): Option[DataFrame] =
    for {
      mPrev <- checkedManifestAt(prevEpochId)
      mCur <- checkedManifestAt(epochId)
      prevOpen <- readByDdl(spark, mPrev.open.values.toSeq)
      closed <- readByDdl(spark, mCur.closedDirs)
    } yield {
      val curKeys = readByDdl(spark, mCur.open.values.toSeq)
        .map(_.select(col("key")))
        .getOrElse(prevOpen.select(col("key")).limit(0))
      val gone = prevOpen.select(col("key"))
        .join(curKeys, Seq("key"), "left_anti")
      val closePos = closed.groupBy(col("key"))
        .agg(max(col("valid_to_pos")).as("pos"))
      gone.join(closePos, Seq("key"), "left").select(col("key"), col("pos"))
    }

  /** scd2 changefeed fast path, from the epoch's OWN partitions: a key
    * changed at `epoch` iff it gained a CLOSURE this epoch (a row in
    * `e<epoch>/_closed=true`, O(|batch|) by construction) or is brand
    * new (open at `epoch`, absent from the prev manifest's open sets of
    * the touched buckets). Emitted in the sinks' raw change shape —
    * still-open keys as (key, after, op='r', pos=valid_from_pos),
    * matching what the state diff would produce, and deleted keys as
    * op='d' tombstones at their true closing position. I/O = the epoch
    * dir + the touched buckets' prev open sets — tracks the change
    * rate, never the history length. None (diff fallback) when the
    * epoch dir is vacuumed or the epoch is a REBUCKET (its `e<epoch>`
    * holds the whole re-grouped history, detectable because the
    * manifest's closed BASE points into it — a normal merge only ever
    * points closed deltas there).
    */
  override def changesAt(spark: SparkSession, epoch: Long,
                         prevEpoch: Option[Long]): Option[DataFrame] = {
    // change-delta sidecar first (epochs written under changefeedDelta):
    // O(|batch|) bytes, no open-set reads. Same first-retained-epoch
    // guard as MergeSink: an incremental sidecar is not a snapshot.
    val c = new HPath(root, s"c$epoch")
    if (SinkFs.isDirectory(c) && (prevEpoch.isDefined || epoch == 0L))
      return Some(CdcSink.readSidecar(spark, c))
    val edir = new HPath(root, s"e$epoch")
    if (!SinkFs.isDirectory(edir)) return None
    val mCur = manifestAt(epoch)
    if (mCur.base.values.exists(_._1.startsWith(edir.toString)))
      return None // rebucket epoch: e<epoch> is the full history
    def readClass(cls: String): Option[DataFrame] = {
      val d = new HPath(edir, s"_closed=$cls")
      if (!SinkFs.isDirectory(d)) None
      else Some(spark.read.parquet(d.toString).drop("_bucket"))
    }
    val openNow = readClass("false")
    val closures = readClass("true")
    if (openNow.isEmpty && closures.isEmpty) return None
    // touched buckets = the epoch's own partition dirs (driver listing)
    val touched = Seq("false", "true").flatMap { cls =>
      SinkFs.listNames(new HPath(edir, s"_closed=$cls"))
        .filter(_.startsWith("_bucket="))
        .map(_.stripPrefix("_bucket=").toInt)
    }.toSet
    val prevOpen = prevEpoch.flatMap { p =>
      val m = manifestAt(p)
      val refs = m.open.filter(kv => touched(kv._1))
      // vacuumed prev open data → diff fallback (strict erosion error
      // there), never silently mis-derived new-key/delete sets
      if (refs.values.exists(r => !SinkFs.exists(new HPath(r._1))))
        return None
      readByDdl(spark, refs.values.toSeq)
    }
    val prevKeys = prevOpen.map(_.select(col("key")).distinct())
    val closureKeys = closures.map(_.select(col("key")).distinct())
    // still-open changed rows: closed-a-predecessor OR brand-new
    val changedOpen = openNow.map { o =>
      val withC = closureKeys match {
        case None => o.withColumn("__c", lit(null).cast("int"))
        case Some(ck) =>
          o.join(ck.withColumn("__c", lit(1)), Seq("key"), "left_outer")
      }
      val withP = prevKeys match {
        case None => withC.withColumn("__p", lit(null).cast("int"))
        case Some(pk) =>
          withC.join(pk.withColumn("__p", lit(1)), Seq("key"), "left_outer")
      }
      withP.filter(col("__c").isNotNull || col("__p").isNull)
        .select(col("key"), col("after"),
          lit(Envelope.OpRead).as("op"), col("valid_from_pos").as("pos"))
    }
    // deletes: open at prev, gone from the epoch's open set — the
    // closing position comes from the epoch's own closed delta (a key
    // can only leave the open set by gaining a closure this epoch)
    val afterType = openNow.orElse(closures).get.schema("after").dataType
    val deletes = for (pk <- prevKeys; cl <- closures) yield {
      val openKeys = openNow.map(_.select(col("key")).distinct())
        .getOrElse(pk.limit(0))
      pk.join(openKeys, Seq("key"), "left_anti")
        .join(cl.groupBy(col("key"))
          .agg(max(col("valid_to_pos")).as("pos")), Seq("key"), "inner")
        .select(col("key"), lit(null).cast(afterType).as("after"),
          lit(Envelope.OpDelete).as("op"), col("pos"))
    }
    (changedOpen, deletes) match {
      case (Some(c), Some(d)) => Some(c.unionByName(d))
      case (Some(c), None) => Some(c)
      case (None, Some(d)) => Some(d)
      case (None, None) => None
    }
  }

  /** Max position across ALL intervals — `valid_to_pos` included, so a
    * table whose newest event was a delete still reports the delete's
    * position as the tip (the open-rows max would under-count it).
    */
  override def tipPos(spark: SparkSession): Option[Long] = {
    val tip = committedEpoch
    if (tip.isEmpty) return None
    // the committed epoch's .maxpos sidecar first: O(1) driver
    // metadata, flat in the table's file count (see
    // CdcSink.recordMaxPos)
    tip.flatMap(storedMaxPos).foreach(t => return Some(t))
    val m = manifest
    val fast = legacyTipFromFooters(m)
    if (fast.isDefined) return fast
    readByDdl(spark, m.closedDirs ++ m.open.values.toSeq).flatMap { iv =>
      Option(iv.agg(max(greatest(col("valid_from_pos"),
        coalesce(col("valid_to_pos"), lit(Long.MinValue))))).head.get(0))
        .map {
          case l: java.lang.Long => l.longValue()
          case other => other.toString.toLong
        }
    }
  }

  /** Pre-sidecar footer answer (zero row I/O): the tip is the max over
    * BOTH interval bounds. Only sound when both columns yield a footer
    * answer — a None is ambiguous between "no closures yet" and "stats
    * missing" for files of unknown provenance, so anything else falls
    * back to the scan.
    */
  private def legacyTipFromFooters(m: Manifest): Option[Long] = {
    val dirs = (m.closedDirs.map(_._1) ++ m.open.values.map(_._1))
      .distinct.map(new HPath(_))
    (SinkFs.parquetMaxLong(dirs, "valid_from_pos"),
      SinkFs.parquetMaxLong(dirs, "valid_to_pos")) match {
      case (Some(a), Some(b)) => Some(math.max(a, b))
      case _ => None
    }
  }

  /** CdcSink view = current rows (open versions' payloads) — reads the
    * open sets ONLY, never the closed history.
    */
  override def view(spark: SparkSession): DataFrame = {
    val m = manifest
    val open = readByDdl(spark, m.open.values.toSeq)
      // every key deleted: empty current state with the history's schema
      .orElse(readByDdl(spark, m.closedDirs).map(_.limit(0)))
      .getOrElse(
        throw new IllegalStateException(s"no committed history in $dir"))
    Scd2.present(open)
      .drop("valid_from_pos", "valid_to_pos", "is_current")
  }

  def merge(batch: DataFrame, epochId: Long): Boolean = {
    // epoch claim first (serializes same-epoch rivals: stream merge vs
    // SQL DML), then the replay guard under it — see MergeSink.merge
    claimEpoch(epochId)
    try {
      val committed = committedEpoch
      if (committed.exists(_ >= epochId)) {
        CdcSink.warnReplay(s"Scd2Sink($dir)", epochId, committed.get)
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
    val events = batch
      .filter(col("op") =!= Envelope.OpTombstone)
      .select(col("key"), col("op"), col("after"),
        col("source.pos").as("pos"))
      .withColumn("_bucket", bucketCol)
      .persist()
    try {
      val touched = events.select(col("_bucket")).distinct()
        .collect().map(_.getLong(0).toInt).toSet
      if (touched.isEmpty) return false
      // change-delta sidecar: the epoch's feed rows — last event per key
      // off the cached batch (deletes ride as op='d' tombstones at their
      // closing position), one extra O(|batch|) pass
      if (changefeedDelta) {
        graft.expressions.GraftFunctions.register(spark)
        val sidecar = events.drop("_bucket")
          .groupBy(col("key"))
          .agg(graft.expressions.GraftFunctions.latestByPos(
            struct(col("after"), col("op"), col("pos")), col("pos")).as("e"))
          .select(col("key"), col("e.after").as("after"),
            col("e.op").as("op"), col("e.pos").as("pos"))
        // the .ddl file pins the read schema (an empty epoch's sidecar
        // has no footers to infer from)
        SinkFs.mkdirs(root)
        SinkFs.writeString(new HPath(root, s"c$epochId.ddl"),
          sidecar.schema.toDDL)
        sidecar.write.mode("overwrite").options(CdcSink.writeOptions)
          .parquet(new HPath(root, s"c$epochId").toString)
      }
      val m = manifest
      // bounded read: open versions of touched buckets only (≤ one row
      // per live key there). Closed history is NOT read.
      val prevOpen = readByDdl(spark,
        m.open.filter(kv => touched(kv._1)).values.toSeq)
      val ivals = prevOpen match {
        case None => Scd2.intervals(events.drop("_bucket"))
        case Some(p) =>
          // stored open versions re-enter as synthetic reads; the
          // interval algebra closes them iff the batch has later events.
          // allowMissingColumns: a batch under an EVOLVED after-schema
          // must merge with open rows written before the evolution
          val reopened = p.select(col("key"),
            lit(Envelope.OpRead).as("op"), col("after"),
            col("valid_from_pos").as("pos"))
          Scd2.intervals(reopened.unionByName(events.drop("_bucket"),
            allowMissingColumns = true))
      }
      // ONE write: rows with a valid_to_pos are NEW closures (append-once
      // delta, O(|batch|)); open rows replace the touched buckets' sets
      val out = ivals
        .withColumn("_bucket", bucketCol)
        .withColumn("_closed", col("valid_to_pos").isNotNull)
      val edir = new HPath(root, s"e$epochId")
      val writeTasks = math.min(touched.size.max(1),
        spark.sparkContext.defaultParallelism * 2)
      // the epoch's max over BOTH interval bounds rides the write job
      // as an observed metric (a delete's tip position lives only in
      // valid_to_pos) — zero extra I/O, feeds the tip sidecar below
      val obs = org.apache.spark.sql.Observation()
      out.observe(obs, max(greatest(col("valid_from_pos"),
          coalesce(col("valid_to_pos"), lit(Long.MinValue)))).as("maxpos"))
        .repartition(writeTasks, col("_bucket"))
        .sortWithinPartitions(col("_closed"), col("_bucket"), col("key"),
          col("valid_from_pos"))
        .write.mode("overwrite").options(CdcSink.writeOptions).partitionBy("_closed", "_bucket")
        .parquet(edir.toString)
      val ddl = StructType(out.schema
        .filterNot(f => f.name == "_bucket" || f.name == "_closed")).toDDL
      // driver metadata listing (≤ buckets entries), no data read
      def writtenBuckets(cls: String): Seq[Int] =
        SinkFs.listNames(new HPath(edir, s"_closed=$cls"))
          .filter(_.startsWith("_bucket="))
          .map(_.stripPrefix("_bucket=").toInt).sorted
      val closedBuckets = writtenBuckets("true")
      val openBuckets = writtenBuckets("false")
      // every touched bucket's open set is replaced: buckets that ended
      // with zero open rows (all keys deleted) lose their entry
      val newOpen = (m.open -- touched) ++ openBuckets.map(b =>
        b -> (s"$edir/_closed=false/_bucket=$b", ddl))
      // tip-position sidecar: prev epoch's sidecar (or a one-time
      // legacy footer bootstrap) + this epoch's observed max — nothing
      // extra here, O(1) per DML read
      val newMax = obs.get.get("maxpos").collect {
        case l: java.lang.Long => l.longValue()
      }
      val prevTip = committed.flatMap(storedMaxPos).orElse(
        if (committed.isEmpty) None else legacyTipFromFooters(m))
      recordMaxPos(epochId, (committed, prevTip, newMax) match {
        case (_, _, None) => None // stats missing: keep falling back
        case (None, _, nm) => nm // first commit
        case (_, Some(p), Some(n)) => Some(math.max(p, n))
        case _ => None // legacy bootstrap failed: keep falling back
      })
      val nextSeq = (m.deltas.map(_._1) :+ 0L).max + 1
      val newDeltas =
        if (closedBuckets.isEmpty) m.deltas
        else m.deltas :+
          ((nextSeq, s"$edir/_closed=true", ddl, closedBuckets))
      val next = Manifest(newOpen, m.base, newDeltas)
      if (next.deltas.size >= compactEvery)
        compactClosed(spark, next, epochId, committed)
      else writeManifest(next, epochId, observed = committed)
      true
    } finally { events.unpersist(); () }
  }

  /** Fold outstanding closed deltas into the closed-base buckets they
    * touch. Closed versions are immutable, so this is pure re-grouping
    * I/O (no merge logic, no window): read touched base buckets + delta
    * leaves, rewrite those buckets. Untouched base buckets and all open
    * sets keep their files byte-for-byte.
    */
  private def compactClosed(spark: SparkSession, m: Manifest,
                            epochId: Long, observed: Option[Long]): Unit = {
    val touched = m.deltas.flatMap(_._4).toSet
    val all = readByDdl(spark,
      m.base.filter(kv => touched(kv._1)).values.toSeq ++ m.deltaLeafs)
      .getOrElse {
        writeManifest(m.copy(deltas = Seq.empty), epochId,
          observed = observed); return
      }
    val merged = all.withColumn("_bucket", bucketCol)
    val vdir = new HPath(root, s"b$epochId").toString
    val ddl = StructType(merged.schema.filterNot(_.name == "_bucket")).toDDL
    val writeTasks = math.min(touched.size.max(1),
      spark.sparkContext.defaultParallelism * 2)
    merged.repartition(writeTasks, col("_bucket"))
      .sortWithinPartitions(col("_bucket"), col("key"), col("valid_from_pos"))
      .write.mode("overwrite").options(CdcSink.writeOptions).partitionBy("_bucket").parquet(vdir)
    val newBase = m.base ++ touched.map(b => b -> (s"$vdir/_bucket=$b", ddl))
    writeManifest(Manifest(m.open, newBase, Seq.empty), epochId,
      observed = observed)
  }

  /** `observed` = the committed epoch the (claim-holding) caller based
    * this manifest on — the CAS half of the commit swap.
    */
  private def writeManifest(m: Manifest, epochId: Long,
                            count: Int = buckets,
                            observed: Option[Long]): Unit = {
    val mfName = s"m$epochId.manifest"
    SinkFs.mkdirs(root)
    val openLines = m.open.toSeq.sortBy(_._1).map {
      case (b, (p, d)) => s"O\t$b\t${relPath(p)}\t$d"
    }
    val baseLines = m.base.toSeq.sortBy(_._1).map {
      case (b, (p, d)) => s"B\t$b\t${relPath(p)}\t$d"
    }
    val deltaLines = m.deltas.map {
      case (seq, p, d, bs) =>
        s"C\t$seq\t${relPath(p)}\t$d\t${bs.mkString(",")}"
    }
    SinkFs.writeString(new HPath(root, mfName),
      (s"K\t$count" +: (openLines ++ baseLines ++ deltaLines))
        .mkString("", "\n", "\n"))
    publishEpoch(root, pointer, epochId, observed, mfName)
  }

  /** RE-BUCKET COMPACTION (see [[BucketedMergeSink.rebucket]]): the
    * full history — closed base, closed deltas, open sets — re-groups
    * under a NEW bucket count in one partitioned write; outstanding
    * closed deltas fold into the new base as a side effect. Closed rows
    * are immutable, so this is pure re-grouping I/O — O(history bytes),
    * schedule with table growth. Commits like any epoch (manifest `K`
    * line + atomic swap). Returns the new-count handle; this instance
    * refuses further merges.
    */
  def rebucket(spark: SparkSession, newBuckets: Int,
               epochId: Long): Scd2Sink = {
    require(newBuckets > 0, s"newBuckets $newBuckets must be positive")
    claimEpoch(epochId)
    try rebucketClaimed(spark, newBuckets, epochId)
    finally releaseClaim(epochId)
  }

  private def rebucketClaimed(spark: SparkSession, newBuckets: Int,
                              epochId: Long): Scd2Sink = {
    val observed = committedEpoch
    require(observed.exists(_ < epochId),
      s"rebucket needs committed history and a fresh epoch id " +
        s"(committed=$observed, got $epochId)")
    val m = manifest
    val all = readByDdl(spark, m.closedDirs ++ m.open.values.toSeq)
      .getOrElse(throw new IllegalStateException(s"no committed history in $dir"))
    val out = all
      .withColumn("_bucket", pmod(xxhash64(col("key")), lit(newBuckets)))
      .withColumn("_closed", col("valid_to_pos").isNotNull)
    val edir = new HPath(root, s"e$epochId")
    val writeTasks = math.min(newBuckets,
      spark.sparkContext.defaultParallelism * 2)
    out.repartition(writeTasks, col("_bucket"))
      .sortWithinPartitions(col("_closed"), col("_bucket"), col("key"),
        col("valid_from_pos"))
      .write.mode("overwrite").options(CdcSink.writeOptions).partitionBy("_closed", "_bucket")
      .parquet(edir.toString)
    val ddl = StructType(out.schema
      .filterNot(f => f.name == "_bucket" || f.name == "_closed")).toDDL
    def writtenBuckets(cls: String): Seq[Int] =
      SinkFs.listNames(new HPath(edir, s"_closed=$cls"))
        .filter(_.startsWith("_bucket="))
        .map(_.stripPrefix("_bucket=").toInt).sorted
    val newOpen = writtenBuckets("false").map(b =>
      b -> (s"$edir/_closed=false/_bucket=$b", ddl)).toMap
    val newBase = writtenBuckets("true").map(b =>
      b -> (s"$edir/_closed=true/_bucket=$b", ddl)).toMap
    // a rebucket rewrites the WHOLE history, so its own footer max over
    // both bounds is the tip — also the legacy-table sidecar upgrade
    val allLeafs = (newOpen.values ++ newBase.values).map(p =>
      new HPath(p._1)).toSeq
    recordMaxPos(epochId, SinkFs.parquetMaxLong(allLeafs, "valid_from_pos")
      .map(f => math.max(f,
        SinkFs.parquetMaxLong(allLeafs, "valid_to_pos")
          .getOrElse(Long.MinValue)))
      .orElse(observed.flatMap(storedMaxPos)))
    writeManifest(Manifest(newOpen, newBase, Seq.empty), epochId,
      count = newBuckets, observed = observed)
    SinkFs.writeString(new HPath(root, "_buckets"), newBuckets.toString)
    new Scd2Sink(dir, newBuckets, compactEvery)
  }

  /** Delete `e*`/`b*` dirs no longer referenced by the current manifest
    * (VACUUM; same erosion contract as BucketedMergeSink). A referenced
    * dir stays whole even if only some of its partitions are live.
    */
  def vacuum(): Int = {
    val m = manifest
    // top-level dir under root for each referenced path
    val live = (m.open.values.map(_._1) ++ m.base.values.map(_._1) ++
      m.deltas.map(_._2)).map(topUnderRoot).toSet
    val dead = SinkFs.listDirNames(root).filter(n =>
      (n.startsWith("e") || n.startsWith("b")) && !live(n))
    dead.foreach(n => SinkFs.deleteRecursive(new HPath(root, n)))
    dead.size
  }

  /** Feed-retention vacuum: reclaim `c<epoch>/` change-delta sidecars
    * below `floorEpoch` (see [[BucketedMergeSink.vacuumFeed]] — same
    * lifetime-accumulation leak, same loud `_feed_floor` contract).
    */
  def vacuumFeed(floorEpoch: Long): Int =
    CdcSink.vacuumSidecars(root, floorEpoch)

  /** Oldest epoch the feed still serves after a feed-retention vacuum
    * (None = never feed-vacuumed). See [[CdcSink.feedFloor]].
    */
  override def changefeedFloor: Option[Long] = CdcSink.feedFloor(root)

  /** First path segment below the sink root (the nio `relativize(p)
    * .getName(0)` of the manifest's stored path strings).
    */
  private def topUnderRoot(p: String): String = {
    var cur = new HPath(p)
    while (cur.getParent != null && cur.getParent.toString != root.toString)
      cur = cur.getParent
    cur.getName
  }
}
