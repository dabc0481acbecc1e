package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Envelope
import graft.operators.Materialize
import graft.streaming.ManifestSink.Manifest

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
                        changefeedDelta: Boolean = false)
    extends ManifestSink(dir, buckets, dataDirPrefixes = "v") {

  def state(spark: SparkSession): Option[DataFrame] =
    readByDdl(spark, manifest.base.values.toSeq)

  /** Time-travel read: full state AS OF `epochId`. Strict about erosion:
    * a version directory vacuumed away raises instead of silently
    * returning partial state.
    */
  def stateAt(spark: SparkSession, epochId: Long): Option[DataFrame] =
    checkedManifestAt(epochId).flatMap(m => readByDdl(spark, m.base.values.toSeq))

  /** Latest-row view AS OF `epochId` (tombstoned deletes excluded). */
  def viewAt(spark: SparkSession, epochId: Long): DataFrame =
    stateAt(spark, epochId).getOrElse(
      throw new IllegalStateException(s"no committed state at epoch $epochId"))
      .filter(col("op") =!= Envelope.OpDelete).select(col("after.*"))

  /** Point-lookup read: ONE bucket's rows from ONE pinned manifest
    * (see [[CdcSink.stateBucket]]) — one pointer read, one manifest
    * parse for both the `K` line and the bucket entry; the manifest
    * maps the bucket straight to its single live directory, so the
    * read is one leaf dir.
    */
  override def stateBucket(spark: SparkSession, asOf: Option[Long],
                           bucketOf: Int => Int): Option[DataFrame] = {
    val m = pinnedManifest(asOf).getOrElse(return None)
    if (m.isEmpty) return None
    m.base.get(bucketOf(m.k)) match {
      case Some((p, _)) if !SinkFs.exists(new HPath(p)) => None // eroded
      case Some(ref) => readByDdl(spark, Seq(ref))
      case None => // the bucket holds no rows: empty frame, known schema
        Some(emptyFrame(spark, m.base.head._2._2))
    }
  }

  /** Buckets whose data can differ between two committed epochs: the
    * two manifests name each bucket's version directory, so a bucket
    * pointing at the SAME path in both versions is byte-identical and
    * is excluded with zero data I/O — the manifest diff is pure driver
    * metadata (≤ `buckets` map lookups).
    */
  def changedBuckets(e1: Long, e2: Long): Set[Int] = {
    val m1 = manifestAt(e1).base
    val m2 = manifestAt(e2).base
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
    // O(|batch|) bytes, no bucket reads at all
    val sidecar = sidecarChanges(spark, epoch, prevEpoch)
    if (sidecar.isDefined) return sidecar
    if (!SinkFs.exists(commitArtifact(epoch))) return None
    val cur = manifestOf(epoch).base
    val out = prevEpoch match {
      case None => // first epoch: everything is a change
        readByDdl(spark, cur.values.toSeq)
      case Some(p) =>
        if (!SinkFs.exists(commitArtifact(p))) return None
        val prev = manifestOf(p).base
        val touched = (cur.keySet ++ prev.keySet)
          .filter(b => cur.get(b).map(_._1) != prev.get(b).map(_._1))
        // vacuumed touched-bucket data on either side → diff fallback
        // (whose stateAt raises the strict erosion error) rather than
        // silently over-reporting changes against missing prev rows
        val refs = (cur.filter(kv => touched(kv._1)) ++
          prev.filter(kv => touched(kv._1))).values.map(_._1)
        if (refs.exists(r => !SinkFs.exists(new HPath(r)))) return None
        readByDdl(spark, cur.filter(kv => touched(kv._1)).values.toSeq)
          .map { c =>
            readByDdl(spark,
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
    val all = manifestAt(epochId).base
    val m = all.filter(kv => only(kv._1))
    val gone = m.values.map(_._1).filterNot(p => SinkFs.exists(new HPath(p)))
    require(gone.isEmpty,
      s"version data vacuumed away for epoch $epochId: ${gone.take(3).mkString(", ")}")
    readByDdl(spark, m.values.toSeq) match {
      case Some(df) =>
        df.filter(col("op") =!= Envelope.OpDelete).select(col("after.*"))
      case None =>
        // schema-only frame with ZERO file I/O: rebuild the union schema
        // readByDdl would produce from the manifest's recorded DDLs
        // (a full viewAt().limit(0) would list and erosion-check EVERY
        // bucket of the version — and throw if untouched buckets were
        // since vacuumed — just to emit no rows)
        all.values.map(_._2).toSeq.distinct.sorted
          .map(emptyFrame(spark, _))
          .reduceOption(_.unionByName(_, allowMissingColumns = true))
          .getOrElse(viewAt(spark, epochId).limit(0))
          .filter(col("op") =!= Envelope.OpDelete).select(col("after.*"))
    }
  }

  def view(spark: SparkSession): DataFrame = {
    val s = state(spark).getOrElse(
      throw new IllegalStateException(s"no committed state in $dir"))
    s.filter(col("op") =!= Envelope.OpDelete).select(col("after.*"))
  }

  /** RE-BUCKET COMPACTION (see [[ManifestSink.rebucket]]): the new
    * layout lands whole under `v<epochId>` and the manifest maps every
    * live bucket into it (`changedBuckets` across the boundary reports
    * all buckets: ids mean different things on each side).
    */
  def rebucket(spark: SparkSession, newBuckets: Int,
               epochId: Long): BucketedMergeSink = {
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
        new BucketedMergeSink(dir, newBuckets)
    }
  }

  def merge(batch: DataFrame, epochId: Long): Boolean =
    // epoch claim first (serializes same-epoch rivals: stream merge vs
    // SQL DML), then the replay guard under it — see CdcSink.claimed
    claimed(epochId, replayed(epochId)) { committed =>
      mergeClaimed(batch, epochId, committed)
      true
    }

  private def mergeClaimed(batch: DataFrame, epochId: Long,
                           committed: Option[Long]): Unit = {
    val prevManifest = layoutFor(committed).base
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
          .withColumn("_bucket", bucketCol(buckets))
      else {
        // change-delta sidecar: the feed must serve the REDUCED batch,
        // bit-identical to what merges below
        writeChangeSidecar(epochId,
          Materialize.reduceToBuckets(batch, buckets, 0).drop("_bucket"))
          .withColumn("_bucket", bucketCol(buckets))
      }
    // driver learns WHICH buckets are touched (tiny: ≤ `buckets` rows)
    val touched = incoming.select(col("_bucket")).distinct()
      .collect().map(_.getLong(0).toInt).toSet
    val prevTouched = readByDdl(spark,
      prevManifest.filter(kv => touched(kv._1)).values.toSeq)
      // older versions may hold rows of untouched buckets in shared
      // dirs; keep only touched buckets' rows
      .map(_.withColumn("_bucket", bucketCol(buckets))
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
    // tip-position sidecar: prev epoch's sidecar + the rewritten
    // buckets' observed max — nothing extra here, O(1) per DML read
    recordTip(epochId, committed, CdcSink.observedMax(obs))
    commitManifest(Manifest(buckets, base = prevManifest ++
      touched.map(b => b -> (s"$vdir/_bucket=$b", ddl))), epochId, committed)
  }
}
