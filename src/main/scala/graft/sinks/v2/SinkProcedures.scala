package graft.sinks.v2

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructField, StructType}

import graft.streaming.{LsmMergeSink, ManifestSink, MergeSink, SinkFs}

/** TABLE-MAINTENANCE procedures of the sink catalog, callable as SQL —
  * Spark 4's native `ProcedureCatalog` contract (the Iceberg
  * `CALL cat.system.<proc>(...)` surface; the reference leaves the
  * analogous housekeeping — replication-slot pruning, schema-history
  * topic compaction — to out-of-band operator tooling, e.g.
  * `debezium-connector-postgres/.../PostgresReplicationConnection.java`
  * slot lifecycle):
  *
  * {{{
  *   CALL graft.system.vacuum(table => 'lsm.orders')
  *   CALL graft.system.compact(table => 'lsm.orders')
  *   CALL graft.system.rebucket(table => 'lsm.orders', buckets => 64)
  * }}}
  *
  * Each is one driver-side call into the sink's existing epoch-claimed
  * maintenance path (`vacuum`/`compactNow`/`rebucket`), so a procedure
  * racing a live writer fails LOUDLY through the same claim/CAS
  * protocol as any commit (never a silently lost epoch), and the
  * result rides back as a one-row `LocalScan`. `rebucket` additionally
  * rewrites the table's stored `buckets` property in `_table.ddl` —
  * the bucket count is part of the on-disk layout, and a stored count
  * that drifted from the manifest's `K` line would fail every
  * subsequent load's layout check.
  *
  * At 100 TB these are the operations that keep the sink family's cost
  * model honest: `compact` bounds LSM read amplification between the
  * automatic `compactEvery` folds, `rebucket` follows table growth so
  * per-bucket bytes stay rewrite-sized, `vacuum` reclaims the retained
  * epochs that time travel and the changefeed no longer need.
  */
private[v2] object SinkProcedures {
  val names: Seq[String] = Seq("vacuum", "compact", "rebucket")

  def load(root: String, name: String): Option[UnboundProcedure] =
    name.toLowerCase(java.util.Locale.ROOT) match {
      case "vacuum"   => Some(new VacuumProcedure(root))
      case "compact"  => Some(new CompactProcedure(root))
      case "rebucket" => Some(new RebucketProcedure(root))
      case _ => None
    }
}

/** Common shape: bind-to-self (the parameter list is static), a
  * `'<kind>.<table>'` first argument resolved against the catalog
  * root, results as a single in-memory scan.
  */
private[v2] abstract class SinkProcedure(root: String, procName: String)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = procName
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  protected def result(schema: StructType,
                       resultRows: InternalRow*): java.util.Iterator[Scan] = {
    val scan: Scan = new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = resultRows.toArray
    }
    java.util.List.of(scan).iterator()
  }

  /** `(kind, dir, stored props)` of a `'<kind>.<table>'` argument. */
  protected def resolveTable(arg: String): (String, String, Map[String, String]) = {
    val parts = arg.split("\\.", -1)
    require(parts.length == 2 && parts.forall(_.nonEmpty),
      s"$procName expects table => '<kind>.<table>' (e.g. 'lsm.orders'), " +
        s"got '$arg'")
    val (kind, tbl) = (parts(0), parts(1))
    require(GraftSinkCatalog.kinds.contains(kind),
      s"unknown sink kind '$kind' — one of " +
        GraftSinkCatalog.kinds.toSeq.sorted.mkString("/"))
    val dir = new HPath(new HPath(root, kind), tbl)
    if (!SinkFs.exists(new HPath(dir, "_table.ddl")))
      throw new NoSuchTableException(Identifier.of(Array(kind), tbl))
    val props = SinkFs.readLines(new HPath(dir, "_table.ddl"))
      .drop(1).flatMap { l =>
        l.split("=", 2) match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        }
      }.toMap
    (kind, dir.toString, props)
  }
}

/** Delete sink artifacts the current version no longer references
  * (old full-kind version dirs, compacted-away LSM deltas, orphaned
  * bucket versions). Time travel and the batch changefeed erode to
  * what the retained artifacts can still serve — eroded epochs read
  * loudly as vacuumed, never silently wrong.
  */
private[v2] class VacuumProcedure(root: String)
    extends SinkProcedure(root, "vacuum") {
  override def description(): String =
    "delete sink artifacts unreferenced by the current version " +
      "(erodes time travel/changefeed retention)"

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("'<kind>.<table>'").build(),
    // feed retention: keep the newest N epochs' change-delta sidecars,
    // reclaim the rest (bucketed/scd2 sidecars otherwise accumulate for
    // the table's lifetime — the versions recycle, the sidecars never
    // did). -1 (the default) = no feed reclaim. The reclaim records the
    // loud erosion `_floor`: a resuming $changes stream or a fromEpoch
    // below it fails as vacuumed, never reads partial history silently.
    ProcedureParameter.in("retain_feed_epochs", IntegerType)
      .defaultValue("-1")
      .comment("keep the newest N epochs' changefeed sidecars; -1 = all")
      .build())

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val (kind, dir, props) = resolveTable(input.getUTF8String(0).toString)
    val retainFeed = if (input.isNullAt(1)) -1 else input.getInt(1)
    val sink = GraftSinkCatalog.sinkFor(kind, dir, props)
    val deleted = sink match {
      case s: ManifestSink => s.vacuum()
      case s: MergeSink => s.vacuum()
      case other => throw new IllegalStateException(
        s"no vacuum for ${other.getClass.getSimpleName}")
    }
    val feedReclaimed =
      if (retainFeed < 0) 0
      else {
        require(retainFeed >= 1,
          s"retain_feed_epochs must be >= 1 (the tip's sidecar always " +
            s"stays) or -1 for no feed reclaim, got $retainFeed")
        val tip = sink.committedEpoch.getOrElse(
          throw new IllegalStateException(
            "feed retention needs a committed epoch"))
        val floor = math.max(0L, tip - retainFeed + 1L)
        sink match {
          case _: LsmMergeSink => throw new UnsupportedOperationException(
            "lsm delta dirs ARE the table's pending state, not sidecars " +
              "— plain vacuum already reclaims them once compacted; " +
              "retain_feed_epochs does not apply")
          case s: ManifestSink => s.vacuumFeed(floor)
          case s: MergeSink => s.vacuumFeed(floor)
          case other => throw new IllegalStateException(
            s"no feed vacuum for ${other.getClass.getSimpleName}")
        }
      }
    result(StructType(Seq(
      StructField("deleted_dirs", IntegerType, nullable = false),
      StructField("feed_sidecars", IntegerType, nullable = false))),
      InternalRow(deleted, feedReclaimed))
  }
}

/** Fold an LSM table's outstanding deltas into their buckets NOW, as a
  * fresh committed epoch — the on-demand half of the `compactEvery`
  * cadence, for bounding merge-on-read amplification before a heavy
  * read window.
  */
private[v2] class CompactProcedure(root: String)
    extends SinkProcedure(root, "compact") {
  override def description(): String =
    "fold an lsm table's outstanding deltas into their buckets as a " +
      "fresh epoch"

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("'lsm.<table>'").build())

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val (kind, dir, props) = resolveTable(input.getUTF8String(0).toString)
    val epoch = GraftSinkCatalog.sinkFor(kind, dir, props) match {
      case s: LsmMergeSink => s.compactNow(SparkSession.active)
      case _ => throw new UnsupportedOperationException(
        "CALL compact applies to lsm tables (deferred merge-on-read " +
          "deltas); full/bucketed tables rewrite state every epoch and " +
          "scd2 folds closed history automatically")
    }
    result(StructType(Seq(
      StructField("compacted", BooleanType, nullable = false),
      StructField("epoch", LongType, nullable = true))),
      InternalRow(epoch.isDefined,
        epoch.map(java.lang.Long.valueOf).orNull))
  }
}

/** Rewrite a bucketed-layout table under a new bucket count (one
  * O(table) epoch; outstanding deltas fold in as a side effect) and
  * update the stored `buckets` property so subsequent loads open the
  * new layout. Schedule with table growth — a pinned count means
  * per-bucket bytes grow with the table ([[graft.streaming.CdcSink
  * .heuristicBuckets]]).
  */
private[v2] class RebucketProcedure(root: String)
    extends SinkProcedure(root, "rebucket") {
  override def description(): String =
    "rewrite an lsm/bucketed/scd2 table under a new bucket count " +
      "(one O(table) epoch) and update its stored buckets property"

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("'<kind>.<table>'").build(),
    ProcedureParameter.in("buckets", IntegerType)
      .comment("new bucket count (> 0)").build())

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val (kind, dir, props) = resolveTable(input.getUTF8String(0).toString)
    val newBuckets = input.getInt(1)
    val spark = SparkSession.active
    val sink = GraftSinkCatalog.sinkFor(kind, dir, props)
    val epoch = sink.committedEpoch.map(_ + 1L).getOrElse(
      throw new IllegalStateException(
        s"rebucket needs committed state — '$kind.${new HPath(dir).getName}' " +
          "has no committed epoch"))
    sink match {
      case s: ManifestSink => s.rebucket(spark, newBuckets, epoch): Unit
      case _: MergeSink => throw new UnsupportedOperationException(
        "full-kind tables have no bucket layout — rebucket applies to " +
          "lsm/bucketed/scd2")
      case other => throw new IllegalStateException(
        s"no rebucket for ${other.getClass.getSimpleName}")
    }
    val oldBuckets = props.get("buckets").map(_.trim.toInt).getOrElse(16)
    // the stored property must follow the layout: sinkFor passes it to
    // the sink constructors, whose layout check refuses a drifted count
    val meta = new HPath(new HPath(dir), "_table.ddl")
    val lines = SinkFs.readLines(meta)
    val kept = lines.drop(1).filterNot(_.startsWith("buckets="))
    SinkFs.writeString(meta,
      (lines.head +: (s"buckets=$newBuckets" +: kept)).mkString("\n"))
    result(StructType(Seq(
      StructField("old_buckets", IntegerType, nullable = false),
      StructField("new_buckets", IntegerType, nullable = false),
      StructField("epoch", LongType, nullable = false))),
      InternalRow(oldBuckets, newBuckets, epoch))
  }
}
