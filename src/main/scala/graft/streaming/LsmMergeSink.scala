package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.model.Envelope
import graft.operators.Materialize
import graft.streaming.ManifestSink.Manifest

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
  * entries ([[ManifestSink]]): `B` base buckets and `D` deltas in
  * arrival order.
  */
class LsmMergeSink(dir: String, buckets: Int = 16, compactEvery: Int = 8)
    extends ManifestSink(dir, buckets, dataDirPrefixes = "vd") {

  /** Merge-on-read state AS OF `epochId`; strict about vacuumed data. */
  def stateAt(spark: SparkSession, epochId: Long): Option[DataFrame] =
    checkedManifestAt(epochId).flatMap(stateOf(spark, _))

  def viewAt(spark: SparkSession, epochId: Long): DataFrame =
    stateAt(spark, epochId).getOrElse(
      throw new IllegalStateException(s"no committed state at epoch $epochId"))
      .filter(col("op") =!= Envelope.OpDelete).select(col("after.*"))

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
    val m = pinnedManifest(asOf).getOrElse(return None)
    if (m.isEmpty) return None
    val bucket = bucketOf(m.k)
    val restricted = Manifest(m.k,
      base = m.base.filter(_._1 == bucket),
      deltas =
      m.deltas.filter(_._4.contains(bucket))
        .map { case (s, p, d, _) => (s, p, d, Seq(bucket)) })
    // sound only if every referenced dir is still on disk (readByDdl
    // silently drops missing dirs — fine for the CURRENT manifest, not
    // for a pruned historical read): eroded → full-read fallback,
    // whose strict stateAt raises the vacuumed error
    val refs = restricted.base.values.map(_._1) ++
      restricted.deltaLeafs.map(_._1)
    if (refs.exists(r => !SinkFs.exists(new HPath(r)))) return None
    if (restricted.isEmpty) // the bucket holds no rows: known schema
      Some(emptyFrame(spark, (m.base.values.map(_._2) ++ m.deltas.map(_._3)).head))
    else stateOf(spark, restricted)
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

  def merge(batch: DataFrame, epochId: Long): Boolean =
    // epoch claim first (serializes same-epoch rivals: stream merge vs
    // SQL DML), then the replay guard under it — see CdcSink.claimed; a
    // replay must be a no-op: re-appending would duplicate the d<epoch>
    // delta entry and skew the compaction cadence
    claimed(epochId, replayed(epochId))(mergeClaimed(batch, epochId, _))

  /** Returns false when the batch touched no buckets (nothing commits). */
  private def mergeClaimed(batch: DataFrame, epochId: Long,
                           committed: Option[Long]): Boolean = {
    val m = layoutFor(committed)
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
    // feeds the O(1) tip-position sidecar below (compaction rewrites
    // never change the max: latest-per-key keeps each key's newest
    // position and tombstones are retained rows)
    val obs = org.apache.spark.sql.Observation()
    val reduced = Materialize.reduceToBuckets(batch, buckets, writeTasks = 0)
      .observe(obs, max(col("pos")).as("maxpos"))
    val ddl = StructType(reduced.schema
      .filterNot(_.name == "_bucket")).toDDL
    val ddir = new HPath(root, s"d$epochId")
    reduced.write.mode("overwrite").options(CdcSink.writeOptions).partitionBy("_bucket").parquet(ddir.toString)
    // touched buckets from the written directory names
    val touched = writtenBuckets(ddir)
    if (touched.isEmpty) { SinkFs.deleteRecursive(ddir); return false }
    recordTip(epochId, committed, CdcSink.observedMax(obs))
    val withDelta = m.copy(deltas =
      m.deltas :+ ((m.nextSeq, ddir.toString, ddl, touched)))
    if (withDelta.deltas.size >= compactEvery)
      compact(spark, withDelta, epochId, committed)
    else commitManifest(withDelta, epochId, committed)
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
      .map(_.withColumn("_bucket", bucketCol(buckets))
        .filter(col("_bucket").isin(touched.toSeq.map(_.toLong): _*)))
    val deltaRows = readByDdl(spark, m.deltaLeafs).get
      .withColumn("_bucket", bucketCol(buckets))
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
    commitManifest(Manifest(m.k, base = m.base ++
      touched.map(b => b -> (s"$vdir/_bucket=$b", ddl))), epochId, observed)
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
    // re-check under the claim: a rival committing our epoch between
    // resolution and the claim must fail loudly, not fold stale state
    def moved(now: Any) = throw new ConcurrentEpochCommitException(
      s"LsmMergeSink($dir): committed tip moved from $observed to " +
        s"$now while claiming compaction epoch $epochId — re-run")
    claimed(epochId, c => moved(Some(c))) { now =>
      if (now != observed) moved(now)
      val m = layoutFor(now)
      if (m.deltas.isEmpty) None
      else {
        // compaction adds no rows: the tip carries forward
        recordTip(epochId, observed, None)
        compact(spark, m, epochId, observed); Some(epochId)
      }
    }
  }

  /** RE-BUCKET COMPACTION (see [[ManifestSink.rebucket]]): the full
    * merge-on-read state rewrites as a fresh all-base layout under the
    * new bucket count — outstanding deltas fold in as a side effect, so
    * the result is also a full compaction.
    */
  def rebucket(spark: SparkSession, newBuckets: Int,
               epochId: Long): LsmMergeSink = {
    require(newBuckets > 0, s"newBuckets $newBuckets must be positive")
    claimed(epochId, c => throw new IllegalArgumentException(
      s"rebucket needs a fresh epoch id (committed=$c, got $epochId)")) {
      observed =>
        require(observed.isDefined,
          s"rebucket needs committed state (got epoch $epochId)")
        val vdir = new HPath(root, s"v$epochId")
        val ddl = rebucketWrite(state(spark).get, newBuckets, vdir,
          Seq(col("_bucket")), "_bucket")
        // a rebucket moves rows, never positions: the tip carries over
        recordTip(epochId, observed, None)
        commitManifest(Manifest(newBuckets, base = writtenBuckets(vdir)
          .map(b => b -> (s"$vdir/_bucket=$b", ddl)).toMap), epochId, observed)
        new LsmMergeSink(dir, newBuckets, compactEvery)
    }
  }
}
