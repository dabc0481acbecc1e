package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import ManifestSink.{Leaf, Manifest}

/** The layout and manifest core of the bucket-layout MERGE sinks
  * ([[BucketedMergeSink]], [[LsmMergeSink]], [[Scd2Sink]]): state lives
  * in parquet leaf dirs partitioned by key-hash bucket, each committed
  * version is an `m<epoch>.manifest` mapping buckets to the leaf dirs
  * that hold them, and the atomic CURRENT swap to it is the commit
  * point. Untouched buckets keep their files byte-for-byte.
  *
  * One manifest format for all three kinds, one parser and one writer:
  * {{{
  * graft-manifest  2                                format line
  * K  <bucket count>                                layout count
  * O  <bucket>  <path>  <ddl>                       open sets (scd2)
  * B  <bucket>  <path>  <ddl>                       base buckets
  * D  <seq>     <path>  <ddl>  <b0,b1,...>          delta runs
  * }}}
  * (tab-separated). Paths are ROOT-RELATIVE, so a table directory
  * relocates as a unit (rename, restore, rsync) without orphaning its
  * data; the DDL pins every read's schema, so reads never open footers
  * to discover one; a delta's bucket list lets compaction and pruned
  * reads enumerate leaf dirs with no listing. The `K` line commits the
  * count atomically with the layout it describes, so a `rebucket` flips
  * both in ONE swap. A reader refuses a manifest without this format
  * line — the directories earlier builds wrote — instead of keeping a
  * fallback per retired feature (Delta's protocol-version rule).
  *
  * @param dataDirPrefixes first letters of the top-level data dirs
  *   this kind writes (vacuum's domain; `c<epoch>/` sidecars are
  *   [[vacuumFeed]]'s)
  */
abstract class ManifestSink(dir: String, buckets: Int,
                            dataDirPrefixes: String) extends CdcSink {
  protected val root = new HPath(dir)
  protected val pointer = new HPath(root, "CURRENT")

  protected def bucketCol(n: Int): Column =
    pmod(xxhash64(col("key")), lit(n))

  /** RE-BUCKET COMPACTION: rewrite the full state under a NEW bucket
    * count — the operation that lets the count FOLLOW TABLE GROWTH (see
    * [[CdcSink.heuristicBuckets]]). Commits like any epoch, so time
    * travel to pre-rebucket epochs still reads the old layout. Returns
    * the handle for the new count; this instance keeps serving reads
    * but refuses further merges (its count no longer matches the `K`
    * line).
    */
  def rebucket(spark: SparkSession, newBuckets: Int,
               epochId: Long): ManifestSink

  override protected def commitArtifact(epoch: Long): HPath =
    new HPath(root, s"m$epoch.manifest")

  /** The commit point is the CURRENT swap, so the replay guard must read
    * the POINTER, not manifest-file existence: a crash between writing
    * `m<e>.manifest` and moving CURRENT would otherwise mark epoch e
    * committed while CURRENT still serves e-1 — the replay gets skipped
    * and the epoch's data is silently lost.
    */
  override def committedEpoch: Option[Long] =
    if (!SinkFs.exists(pointer)) None
    else SinkFs.readPointer(pointer) match {
      case ManifestSink.Named(e) => Some(e.toLong)
      case other => CdcSink.retiredFormat(root,
        s"CURRENT names '$other', not a manifest")
    }

  /** Committed epoch ids whose manifests are still on disk, ascending —
    * the time-travel index (every commit keeps its manifest; only
    * `vacuum()` erodes what the older ones can read). Bounded by the
    * CURRENT pointer's epoch: a crash between writing `m<e>.manifest`
    * and the swap leaves an uncommitted manifest on disk — epochs are
    * monotonic, so manifests past the pointer are exactly the
    * uncommitted ones and must not be time-travel-readable.
    */
  def versions: Seq[Long] = {
    val tip = committedEpoch.getOrElse(return Nil)
    SinkFs.listNames(root)
      .collect { case ManifestSink.Named(epoch) => epoch.toLong }
      .filter(_ <= tip).sorted
  }

  /** The CURRENT manifest (an empty layout before the first commit). */
  def manifest: Manifest = committedEpoch.fold(Manifest(buckets))(manifestOf)

  /** The manifest as of `epochId`: the newest committed version ≤ it
    * (Delta/Iceberg VERSION AS OF semantics).
    */
  def manifestAt(epochId: Long): Manifest =
    versions.filter(_ <= epochId).lastOption
      .fold(Manifest(buckets))(manifestOf)

  /** A committed epoch's manifest (manifests are immutable once named). */
  protected final def manifestOf(epoch: Long): Manifest =
    parse(commitArtifact(epoch))

  /** The manifest a read pins (see [[CdcSink.pinnedArtifact]]). */
  protected final def pinnedManifest(asOf: Option[Long]): Option[Manifest] =
    pinnedArtifact(root, pointer, asOf).map(parse)

  /** The layout a claimed write builds on: the committed manifest,
    * parsed once from the guard's tip read, or an empty layout for a
    * first commit. The bucket count is part of the on-disk layout —
    * reopening with a different count would route keys to other
    * buckets than their state lives in (duplicate/stale rows, silent)
    * — so the `K` line must match this handle's count.
    */
  protected final def layoutFor(committed: Option[Long]): Manifest =
    committed.fold(Manifest(buckets)) { e =>
      val m = manifestOf(e)
      require(m.k == buckets,
        s"sink $dir was written with buckets=${m.k}, opened with $buckets")
      m
    }

  /** Manifest AS OF `epochId` if it maps anything; strict about erosion:
    * a leaf dir vacuumed away raises instead of silently reading as
    * partial state.
    */
  protected final def checkedManifestAt(epochId: Long): Option[Manifest] = {
    val m = manifestAt(epochId)
    if (m.isEmpty) None
    else {
      val gone = m.leafs.map(_._1).filterNot(p => SinkFs.exists(new HPath(p)))
      require(gone.isEmpty, s"version data vacuumed away for epoch " +
        s"$epochId: ${gone.take(3).mkString(", ")}")
      Some(m)
    }
  }

  /** One schema-known read per distinct DDL, `unionByName` across schema
    * versions (K4 evolution without per-read footer merging); entries
    * whose dir is absent (a touched bucket that ended with zero rows of
    * that class) read as empty.
    */
  protected final def readByDdl(spark: SparkSession,
                                leafs: Seq[Leaf]): Option[DataFrame] = {
    val existing = leafs.distinct.filter(d => SinkFs.exists(new HPath(d._1)))
    if (existing.isEmpty) None
    else Some(existing.groupBy(_._2).toSeq.sortBy(_._1).map { case (ddl, ds) =>
      spark.read.schema(StructType.fromDDL(ddl)).parquet(ds.map(_._1): _*)
    }.reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  /** A zero-row frame of a recorded DDL — no file I/O. */
  protected final def emptyFrame(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType.fromDDL(ddl))

  /** Bucket ids a partitioned write produced under `dir` — a driver
    * listing of ≤ buckets names, no data read.
    */
  protected final def writtenBuckets(dir: HPath): Seq[Int] =
    SinkFs.listNames(dir).filter(_.startsWith("_bucket="))
      .map(_.stripPrefix("_bucket=").toInt).sorted

  /** Rebucket's full-state write: `rows` hashed under `newBuckets` into
    * `dir`, partitioned by `partitionCols` (which name `_bucket`) and
    * sorted within each task by `sortCols`. O(table) by design — a
    * rebucket is scheduled like a compaction, not per epoch. Returns
    * the stored rows' DDL (partition columns excluded).
    */
  protected final def rebucketWrite(rows: DataFrame, newBuckets: Int,
                                    dir: HPath, sortCols: Seq[Column],
                                    partitionCols: String*): String = {
    val rb = rows.withColumn("_bucket", bucketCol(newBuckets))
    val writeTasks = math.min(newBuckets,
      rows.sparkSession.sparkContext.defaultParallelism * 2)
    rb.repartition(writeTasks, col("_bucket"))
      .sortWithinPartitions(sortCols: _*)
      .write.mode("overwrite").options(CdcSink.writeOptions)
      .partitionBy(partitionCols: _*).parquet(dir.toString)
    StructType(rb.schema.filterNot(f => partitionCols.contains(f.name))).toDDL
  }

  /** Write `m` as `epoch`'s manifest and publish it — the CURRENT swap,
    * CAS against `observed`, the committed epoch the (claim-holding)
    * caller based `m` on.
    */
  protected final def commitManifest(m: Manifest, epoch: Long,
                                     observed: Option[Long]): Unit = {
    def leafLines(tag: String, byBucket: Map[Int, Leaf]) =
      byBucket.toSeq.sortBy(_._1).map { case (b, (p, d)) =>
        s"$tag\t$b\t${relPath(p)}\t$d"
      }
    val lines = Seq(ManifestSink.FormatLine, s"K\t${m.k}") ++
      leafLines("O", m.open) ++ leafLines("B", m.base) ++
      m.deltas.map { case (seq, p, d, bs) =>
        s"D\t$seq\t${relPath(p)}\t$d\t${bs.mkString(",")}"
      }
    val mf = commitArtifact(epoch)
    SinkFs.mkdirs(root)
    SinkFs.writeString(mf, lines.mkString("", "\n", "\n"))
    publishEpoch(root, pointer, epoch, observed, mf.getName)
  }

  /** Parse one manifest; anything but this build's format — no format
    * line, no `K` line, an untagged, DDL-less or absolute-path entry —
    * is refused loudly, never read as empty or partial.
    */
  private def parse(mf: HPath): Manifest = {
    def refuse(what: String): Nothing =
      CdcSink.retiredFormat(root, s"${mf.getName}: $what")
    val lines = SinkFs.readLines(mf).filter(_.nonEmpty)
    if (!lines.headOption.contains(ManifestSink.FormatLine))
      refuse(s"no '${ManifestSink.FormatLine.replace('\t', ' ')}' format line")
    val k = lines.lift(1).collect { case ManifestSink.KLine(n) => n.toInt }
      .getOrElse(refuse("no K (bucket count) line"))
    def abs(p: String): String =
      if (p.isEmpty || new HPath(p).isAbsolute)
        refuse(s"absolute-path entry '$p'")
      else new HPath(root, p).toString
    def leaf(b: String, p: String, ddl: String): (Int, Leaf) =
      if (ddl.isEmpty) refuse(s"DDL-less entry for '$p'")
      else b.toInt -> (abs(p), ddl)
    val entries = lines.drop(2).map(_.split("\t", -1))
    entries.find {
      case Array("O" | "B", _, _, _) | Array("D", _, _, _, _) => false
      case _ => true
    }.foreach(e => refuse(s"unrecognized entry line '${e.mkString(" ").take(60)}'"))
    Manifest(k,
      open = entries.collect { case Array("O", b, p, d) => leaf(b, p, d) }.toMap,
      base = entries.collect { case Array("B", b, p, d) => leaf(b, p, d) }.toMap,
      deltas = entries.collect { case Array("D", seq, p, d, bs) =>
        val (_, (path, ddl)) = leaf("0", p, d)
        (seq.toLong, path, ddl,
          bs.split(",").iterator.filter(_.nonEmpty).map(_.toInt).toSeq)
      }.sortBy(_._1))
  }

  private def relPath(p: String): String = {
    val prefix = root.toString + "/"
    require(p.startsWith(prefix), s"$p is not under the sink root $root")
    p.substring(prefix.length)
  }

  /** VACUUM: delete top-level data dirs the current manifest no longer
    * references. A referenced dir stays whole even if only some of its
    * partitions are live.
    */
  def vacuum(): Int = {
    val m = manifest
    val live = (m.leafs.map(_._1) ++ m.deltas.map(_._2))
      .map(p => relPath(p).takeWhile(_ != '/')).toSet
    val dead = SinkFs.listDirNames(root).filter(n =>
      dataDirPrefixes.contains(n.head) && !live(n))
    dead.foreach(n => SinkFs.deleteRecursive(new HPath(root, n)))
    dead.size
  }

  /** Feed-retention vacuum: reclaim `c<epoch>/` change-delta sidecars
    * below `floorEpoch` — without it a `changefeed=true` table's
    * sidecars accumulate for its lifetime. Records the loud
    * `_feed_floor` first; feed reads below it then fail as vacuumed (see
    * [[CdcSink.vacuumSidecars]]).
    */
  def vacuumFeed(floorEpoch: Long): Int =
    CdcSink.vacuumSidecars(root, floorEpoch)

  /** Oldest epoch the feed still serves after a feed-retention vacuum
    * (None = never feed-vacuumed). See [[CdcSink.feedFloor]].
    */
  override def changefeedFloor: Option[Long] = CdcSink.feedFloor(root)
}

object ManifestSink {
  /** `(path, schema DDL)` of one leaf dir. */
  type Leaf = (String, String)

  /** `(seq, dir, ddl, buckets)` of one delta run; its leaf dirs are
    * `<dir>/_bucket=<b>`.
    */
  type Delta = (Long, String, String, Seq[Int])

  /** The first line of every manifest this build writes and reads. */
  val FormatLine = "graft-manifest\t2"

  private val KLine = """K\t(\d+)""".r
  private val Named = """m(\d+)\.manifest""".r

  /** A parsed manifest: the layout's bucket count, open sets per bucket
    * (scd2), base leaf per bucket, and delta runs in arrival order.
    */
  final case class Manifest(k: Int, open: Map[Int, Leaf] = Map.empty,
                            base: Map[Int, Leaf] = Map.empty,
                            deltas: Seq[Delta] = Seq.empty) {
    def isEmpty: Boolean = open.isEmpty && base.isEmpty && deltas.isEmpty
    def deltaLeafs: Seq[Leaf] = deltas.flatMap {
      case (_, p, ddl, bs) => bs.map(b => (s"$p/_bucket=$b", ddl))
    }
    def closedDirs: Seq[Leaf] = base.values.toSeq ++ deltaLeafs
    def leafs: Seq[Leaf] = open.values.toSeq ++ closedDirs
    def nextSeq: Long = (deltas.map(_._1) :+ 0L).max + 1
  }
}
