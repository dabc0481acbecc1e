package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.Envelope
import graft.operators.Scd2
import graft.streaming.ManifestSink.Manifest

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
  * files and the `CURRENT` pointer. Manifest entries
  * ([[ManifestSink]]): `O` open sets, `B` closed base and `D` closed
  * deltas in arrival order.
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
    extends ManifestSink(dir, buckets, dataDirPrefixes = "eb") {

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
    val m = pinnedManifest(asOf).getOrElse(return None)
    if (m.isEmpty) return None
    val bucket = bucketOf(m.k)
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
    // O(|batch|) bytes, no open-set reads
    val sidecar = sidecarChanges(spark, epoch, prevEpoch)
    if (sidecar.isDefined) return sidecar
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
    val touched = Seq("false", "true")
      .flatMap(cls => writtenBuckets(new HPath(edir, s"_closed=$cls"))).toSet
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

  def merge(batch: DataFrame, epochId: Long): Boolean =
    // epoch claim first (serializes same-epoch rivals: stream merge vs
    // SQL DML), then the replay guard under it — see CdcSink.claimed
    claimed(epochId, replayed(epochId))(mergeClaimed(batch, epochId, _))

  /** Returns false when the batch touched no buckets (nothing commits). */
  private def mergeClaimed(batch: DataFrame, epochId: Long,
                           committed: Option[Long]): Boolean = {
    val m = layoutFor(committed)
    val spark = batch.sparkSession
    val events = batch
      .filter(col("op") =!= Envelope.OpTombstone)
      .select(col("key"), col("op"), col("after"),
        col("source.pos").as("pos"))
      .withColumn("_bucket", bucketCol(buckets))
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
        writeChangeSidecar(epochId, events.drop("_bucket")
          .groupBy(col("key"))
          .agg(graft.expressions.GraftFunctions.latestByPos(
            struct(col("after"), col("op"), col("pos")), col("pos")).as("e"))
          .select(col("key"), col("e.after").as("after"),
            col("e.op").as("op"), col("e.pos").as("pos")))
      }
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
        .withColumn("_bucket", bucketCol(buckets))
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
      val closedBuckets = writtenBuckets(new HPath(edir, "_closed=true"))
      val openBuckets = writtenBuckets(new HPath(edir, "_closed=false"))
      // every touched bucket's open set is replaced: buckets that ended
      // with zero open rows (all keys deleted) lose their entry
      val newOpen = (m.open -- touched) ++ openBuckets.map(b =>
        b -> (s"$edir/_closed=false/_bucket=$b", ddl))
      // tip-position sidecar: prev epoch's sidecar + this epoch's
      // observed max — nothing extra here, O(1) per DML read
      recordTip(epochId, committed, CdcSink.observedMax(obs))
      val next = m.copy(open = newOpen, deltas =
        if (closedBuckets.isEmpty) m.deltas
        else m.deltas :+
          ((m.nextSeq, s"$edir/_closed=true", ddl, closedBuckets)))
      if (next.deltas.size >= compactEvery)
        compactClosed(spark, next, epochId, committed)
      else commitManifest(next, epochId, committed)
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
        commitManifest(m.copy(deltas = Seq.empty), epochId, observed); return
      }
    val merged = all.withColumn("_bucket", bucketCol(buckets))
    val vdir = new HPath(root, s"b$epochId").toString
    val ddl = StructType(merged.schema.filterNot(_.name == "_bucket")).toDDL
    val writeTasks = math.min(touched.size.max(1),
      spark.sparkContext.defaultParallelism * 2)
    merged.repartition(writeTasks, col("_bucket"))
      .sortWithinPartitions(col("_bucket"), col("key"), col("valid_from_pos"))
      .write.mode("overwrite").options(CdcSink.writeOptions).partitionBy("_bucket").parquet(vdir)
    commitManifest(m.copy(deltas = Seq.empty, base = m.base ++
      touched.map(b => b -> (s"$vdir/_bucket=$b", ddl))), epochId, observed)
  }

  /** RE-BUCKET COMPACTION (see [[ManifestSink.rebucket]]): the full
    * history — closed base, closed deltas, open sets — re-groups under
    * a NEW bucket count in one partitioned write; outstanding closed
    * deltas fold into the new base as a side effect. Closed rows are
    * immutable, so this is pure re-grouping I/O — O(history bytes).
    */
  def rebucket(spark: SparkSession, newBuckets: Int,
               epochId: Long): Scd2Sink = {
    require(newBuckets > 0, s"newBuckets $newBuckets must be positive")
    claimed(epochId, c => throw new IllegalArgumentException(
      s"rebucket needs a fresh epoch id (committed=$c, got $epochId)")) {
      observed =>
        require(observed.isDefined,
          s"rebucket needs committed history (got epoch $epochId)")
        val m = manifestOf(observed.get)
        val all = readByDdl(spark, m.closedDirs ++ m.open.values.toSeq)
          .getOrElse(throw new IllegalStateException(
            s"no committed history in $dir"))
        val edir = new HPath(root, s"e$epochId")
        val ddl = rebucketWrite(
          all.withColumn("_closed", col("valid_to_pos").isNotNull),
          newBuckets, edir, Seq(col("_closed"), col("_bucket"), col("key"),
            col("valid_from_pos")), "_closed", "_bucket")
        def leafs(cls: String) = writtenBuckets(new HPath(edir, s"_closed=$cls"))
          .map(b => b -> (s"$edir/_closed=$cls/_bucket=$b", ddl)).toMap
        // a rebucket moves rows, never positions: the tip carries over
        recordTip(epochId, observed, None)
        commitManifest(Manifest(newBuckets, open = leafs("false"),
          base = leafs("true")), epochId, observed)
        new Scd2Sink(dir, newBuckets, compactEvery)
    }
  }
}
