package graft.sinks.v2

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, WriteBuilder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{BaseRelation, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.streaming.{BucketedMergeSink, CdcSink, LsmMergeSink, MergeSink, Scd2Sink, SinkFs}

/** DataSourceV2 `TableCatalog` exposing the MERGE-sink family as catalog
  * tables, so the DataFrameWriterV2 path AND plain reads work end-to-end:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *     classOf[graft.sinks.v2.GraftSinkCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.root", "/data/sinks")
  *   feed.writeTo("graft.lsm.orders").create()          // snapshot epoch
  *   delta.writeTo("graft.lsm.orders").append()         // next epoch
  *   delta.writeTo("graft.lsm.orders")
  *     .option("epoch", "7").append()                   // exactly-once replay guard
  *   spark.table("graft.lsm.orders")                    // latest envelope per key
  *   spark.sql("SELECT after.* FROM graft.lsm.orders " +
  *     "VERSION AS OF 3 WHERE op <> 'd'")               // time travel
  * }}}
  *
  * The NAMESPACE selects the sink flavor — `graft.full.*`
  * ([[MergeSink]], full-state rewrite), `graft.bucketed.*`
  * ([[BucketedMergeSink]]), `graft.lsm.*` ([[LsmMergeSink]],
  * merge-on-read deltas) and `graft.scd2.*` ([[Scd2Sink]], type-2
  * history) — mirroring how the reference picks a sink writer per
  * connector config (`JdbcSinkConnectorConfig.java`) while the table
  * identity stays `catalog.namespace.table`.
  *
  * Writes go through the V1 write bridge (`V1Write` /
  * `InsertableRelation`, `TableCapability.V1_BATCH_WRITE`) rather than
  * per-partition `DataWriter`s, deliberately: a MERGE epoch is a
  * DataFrame-level transaction — key-shuffled reduce, touched-bucket
  * probe, manifest swap — not a row stream; the bridge hands the sink
  * the whole batch DataFrame so the existing epoch protocol (atomic
  * CURRENT swap + replay guard) stays the single commit path. Each
  * `append()` is one epoch: explicit via the `epoch` write option
  * (foreachBatch-style exactly-once — replaying a committed epoch is a
  * warned no-op), else committedEpoch+1 under the optimistic commit
  * loop ([[GraftSinkCatalog.commitWithRetry]]): a default-epoch append
  * or DML statement that loses the epoch race to a concurrent writer
  * rebases on the new tip and retries — both writers' epochs survive
  * (the per-epoch claim in [[graft.streaming.EpochClaim]] serializes
  * same-epoch rivals; a statement that keeps losing fails loudly,
  * never silently). Exactly-once under Spark-level retries still
  * requires the EXPLICIT epoch option, whose replay guard makes
  * re-commits no-ops.
  *
  * SCHEMA CONTRACT (strict, like the reference sink rejecting records
  * whose schema cannot apply — `JdbcChangeEventSink.java`): the stored
  * `_table.ddl` schema is the ENVELOPE schema, and the table declares
  * `ACCEPT_ANY_SCHEMA` so Spark hands the write builder the QUERY's own
  * schema instead of silently null-padding missing nullable envelope
  * columns during by-name output resolution. The builder then validates
  * it against the stored DDL: a missing or extra top-level column, or a
  * retyped non-struct column, fails analysis before any job runs.
  * Nested payload fields inside `key`/`before`/`after`/`source` are NOT
  * frozen — K4 schema evolution (added payload columns) flows through
  * to the sinks' `unionByName` merge.
  *
  * READS return the materialized latest envelope per key — the table
  * behaves like a log-compacted topic: what you wrote is what you read,
  * reduced. Tombstoned deletes stay visible as `op='d'` rows, so
  * `SELECT after.* ... WHERE op <> 'd'` is exactly `sink.view`.
  * `VERSION AS OF <epoch>` time-travels via the sinks' retained
  * manifests (`stateAt`). Column pruning is honored at the top level
  * (and flows into the underlying parquet scans through the sinks' own
  * Catalyst plans); a pinned (time-travel) table refuses writes.
  */
class GraftSinkCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {
  private var catalogName: String = _
  private var root: String = _

  override def name(): String = catalogName

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.root"))
  }

  /** The sink kind an identifier names, if its namespace is valid. The
    * TableCatalog contract wants `loadTable` to raise
    * `NoSuchTableException` and `dropTable` to return false for unknown
    * tables — including unknown NAMESPACES — so those paths go through
    * this Option instead of the throwing [[kindOf]].
    */
  private def kindOpt(ident: Identifier): Option[String] =
    if (ident.namespace.length == 1 &&
        GraftSinkCatalog.kinds.contains(ident.namespace()(0)))
      Some(ident.namespace()(0))
    else None

  private def kindOf(ident: Identifier): String =
    kindOpt(ident).getOrElse(throw new IllegalArgumentException(
      s"expected $catalogName.<kind>.<table> with kind one of " +
        s"${GraftSinkCatalog.kinds.mkString("/")}, got $ident"))

  private def tableDir(ident: Identifier): HPath =
    new HPath(new HPath(root, kindOf(ident)), ident.name)

  private def metaFile(ident: Identifier): HPath =
    new HPath(tableDir(ident), "_table.ddl")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    // the TableCatalog contract: listing an unknown namespace is
    // NoSuchNamespaceException, not an empty listing (SHOW TABLES IN
    // graft.nope must fail, not print nothing)
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    val ns = namespace.foldLeft(new HPath(root))(new HPath(_, _))
    SinkFs.listDirNames(ns)
      .filter(n => SinkFs.exists(
        new HPath(new HPath(ns, n), "_table.ddl")))
      .map(n => Identifier.of(namespace, n))
      .toArray
  }

  // ------------------------------------------------- SupportsNamespaces
  // The namespaces ARE the sink kinds — a fixed, structural set (each
  // selects an on-disk layout + merge strategy), like the reference's
  // fixed per-connector sink writer registry. They always exist and
  // cannot be created, altered, or dropped.

  override def listNamespaces(): Array[Array[String]] =
    GraftSinkCatalog.kinds.toArray.sorted.map(Array(_))

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty // kinds don't nest
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchNamespaceException(namespace)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && GraftSinkCatalog.kinds.contains(namespace(0))

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    java.util.Collections.singletonMap(SupportsNamespaces.PROP_COMMENT,
      GraftSinkCatalog.kindComments(namespace(0)))
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "sink namespaces are the fixed kind set " +
        s"${GraftSinkCatalog.kinds.toSeq.sorted.mkString("/")} — " +
        "they cannot be created")

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "sink namespaces are structural and immutable")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      "sink namespaces are structural — drop the tables, not the kind")

  // ------------------------------------------------- ProcedureCatalog
  // Table maintenance as SQL (`CALL graft.system.vacuum('lsm.orders')`)
  // through Spark 4's native procedure contract — see [[SinkProcedures]].

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val known = SinkProcedures.names.sorted.mkString("/")
    if (!ident.namespace.sameElements(Array("system")))
      throw new IllegalArgumentException(
        s"procedures live under the 'system' namespace — " +
          s"CALL $catalogName.system.<$known>(...), got $ident")
    SinkProcedures.load(root, ident.name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown procedure $ident — expected one of $known"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      SinkProcedures.names.map(n =>
        Identifier.of(Array("system"), n)).toArray
    else Array.empty

  /** Parse + validate an identifier ONCE for both loadTable paths:
    * (kind, base-table ident, metadata suffix). The Iceberg-style
    * suffixes: `<name>$history` (scd2 only) and `<name>$changes`
    * (every kind — the changefeed). Anything else — unknown namespace,
    * unknown suffix, missing base table — is NoSuchTableException per
    * the TableCatalog contract.
    */
  private def resolveIdent(ident: Identifier)
      : (String, Identifier, Option[String]) = {
    val kind = kindOpt(ident).getOrElse(throw new NoSuchTableException(ident))
    // split with limit -1: Java's split drops trailing empty segments, so
    // `orders$` would silently resolve to base table `orders` and `a$b$c`
    // would skip suffix validation — both must be NoSuchTableException
    val (baseName, metaSuffix) = ident.name.split("\\$", -1) match {
      case Array(b) => (b, None)
      case Array(b, s) if b.nonEmpty && s.nonEmpty => (b, Some(s))
      case _ => throw new NoSuchTableException(ident)
    }
    metaSuffix.foreach { s =>
      val valid = (s == "history" && kind == "scd2") || s == "changes"
      if (!valid) throw new NoSuchTableException(ident)
    }
    val baseIdent = Identifier.of(ident.namespace, baseName)
    if (!SinkFs.exists(metaFile(baseIdent)))
      throw new NoSuchTableException(ident)
    (kind, baseIdent, metaSuffix)
  }

  private def loadTable(ident: Identifier, asOf: Option[Long]): Table = {
    val (kind, baseIdent, metaSuffix) = resolveIdent(ident)
    val lines = SinkFs.readLines(metaFile(baseIdent))
    val schema = DataType.fromDDL(lines.head).asInstanceOf[StructType]
    val props = lines.drop(1).flatMap { l =>
      l.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }
    }.toMap
    metaSuffix match {
      case None =>
        new CdcSinkTable(kind, tableDir(baseIdent).toString,
          ident.toString, schema, props, asOf)
      case Some("changes") =>
        new SinkChangesTable(kind, tableDir(baseIdent).toString,
          ident.toString, props, asOf)
      case Some(_) =>
        new Scd2HistoryTable(tableDir(baseIdent).toString, ident.toString,
          GraftSinkCatalog.historySchemaOf(schema), props, asOf)
    }
  }

  override def loadTable(ident: Identifier): Table = loadTable(ident, None)

  /** `VERSION AS OF <epoch>` — a read-only table pinned to the newest
    * committed epoch ≤ the requested one (the sinks' manifest-retention
    * time travel; `vacuum()` erodes what old versions can read).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val epoch =
      try version.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"VERSION AS OF on $ident expects a numeric epoch, got '$version'")
      }
    loadTable(ident, Some(epoch))
  }

  /** `TIMESTAMP AS OF <t>` — Spark passes MICROSECONDS since epoch.
    * Resolved to the newest epoch whose commit time (manifest/version
    * mtime, microseconds before the atomic swap) is ≤ t, then served
    * exactly like `VERSION AS OF` of that epoch.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val (kind, baseIdent, _) = resolveIdent(ident)
    val tsMillis = timestamp / 1000L
    // bucket props are irrelevant to the time->epoch lookup (no layout
    // check runs outside merge), so an un-parameterized sink handle works
    val epoch = GraftSinkCatalog.sinkFor(kind, tableDir(baseIdent).toString,
      Map.empty).epochAt(tsMillis)
      .getOrElse(throw new IllegalArgumentException(
        s"no version of $ident was committed at or before " +
          java.time.Instant.ofEpochMilli(tsMillis)))
    loadTable(ident, Some(epoch))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val kind = kindOf(ident)
    require(!ident.name.contains('$'),
      s"'$$' is reserved for metadata tables (<name>$$history): $ident")
    if (SinkFs.exists(metaFile(ident)))
      throw new TableAlreadyExistsException(ident)
    require(partitions.isEmpty,
      "sink tables bucket internally by key — PARTITIONED BY is not supported")
    val dir = tableDir(ident)
    SinkFs.mkdirs(dir)
    val props = properties.asScala.toSeq.sortBy(_._1)
      .filter { case (k, _) =>
        k == "buckets" || k == "compactEvery" || k == "changefeed" }
    // validate at CREATE, not first use: a bad value would otherwise
    // produce a table that mis-partitions silently (buckets=0 makes
    // pmod null) or can never be loaded (overflow throws in sinkFor)
    props.foreach {
      case ("changefeed", v) =>
        require(Set("true", "false")(v.trim.toLowerCase(java.util.Locale.ROOT)),
          s"table property 'changefeed' must be true or false, got '$v'")
      case (k, v) =>
        require(v.trim.toIntOption.exists(_ > 0),
          s"table property '$k' must be a positive integer, got '$v'") }
    SinkFs.writeString(metaFile(ident),
      (schema.toDDL +: props.map { case (k, v) => s"$k=$v" })
        .mkString("\n"))
    // one visible line at CREATE, not at the first slow $changes read:
    // without the sidecar opt-in, the bucketed/scd2 feed derivation is
    // touched-bucket-bound — a SCATTERED 1000-row epoch re-reads ~the
    // table (measured 85 MB vs the sidecar's 0.2 MB at 1.5M rows)
    if (Set("bucketed", "scd2")(kind) && !props.exists {
        case (k, v) => k == "changefeed" && v.trim.equalsIgnoreCase("true") })
      Console.err.println(
        s"[graft] $ident: created WITHOUT changefeed=true — $$changes " +
          "derives each epoch from touched-bucket reads (fine for " +
          "bucket-local updates; ~O(table) per epoch for scattered " +
          "ones). For feed-heavy tables set " +
          "TBLPROPERTIES('changefeed'='true') — O(|batch|) change-delta " +
          "sidecars, the Delta enableChangeDataFeed analog; ALTER TABLE " +
          "... SET TBLPROPERTIES flips it later.")
    new CdcSinkTable(kind, dir.toString, ident.toString, schema,
      props.toMap, None)
  }

  /** `ALTER TABLE … ADD COLUMN after.<c> <type>` (and `before.<c>`)
    * maps to a stored-DDL update: the sinks already merge evolved
    * payloads BY NAME (K4 — `MergeSink`'s unionByName with missing
    * columns), and the read side conforms state to the stored envelope
    * (`GraftSinkCatalog.conform`: missing fields read null), so
    * widening the payload struct is pure metadata — no data rewrite,
    * exactly Delta's ADD COLUMN. Everything else is refused: the
    * envelope's TOP level is the feed contract (strict write schema),
    * `key` is row identity, `source`/`op` are bookkeeping, and
    * drop/rename/retype would orphan or mislabel already-written state.
    */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val (kind, baseIdent, metaSuffix) = resolveIdent(ident)
    if (metaSuffix.nonEmpty)
      throw new UnsupportedOperationException(
        s"$ident is a read-only metadata table")
    val meta = metaFile(baseIdent)
    val lines = SinkFs.readLines(meta)
    val envelope = DataType.fromDDL(lines.head).asInstanceOf[StructType]
    var storedProps = lines.drop(1).flatMap { l =>
      l.split("=", 2) match {
        case Array(k, v) => Some(k -> v); case _ => None }
    }.toMap
    // ALTER TABLE ... SET/UNSET TBLPROPERTIES on the BEHAVIORAL knobs:
    // `changefeed` can turn the change-delta sidecars on/off for an
    // existing table (epochs written before the flip simply serve the
    // diff fallback — exactly Delta's enableChangeDataFeed semantics),
    // `compactEvery` retunes the LSM fold cadence. `buckets` is part
    // of the ON-DISK LAYOUT — changing the property without rewriting
    // the data would route keys away from their state, so it stays
    // refused here and changes only through CALL rebucket (which
    // rewrites both together).
    val structural = changes.filterNot(
      _.isInstanceOf[TableChange.SetProperty]).filterNot(
      _.isInstanceOf[TableChange.RemoveProperty])
    changes.foreach {
      case set: TableChange.SetProperty =>
        val (k, v) = (set.property, set.value)
        k match {
          case "changefeed" =>
            require(Set("true", "false")(
              v.trim.toLowerCase(java.util.Locale.ROOT)),
              s"table property 'changefeed' must be true or false, got '$v'")
          case "compactEvery" =>
            require(v.trim.toIntOption.exists(_ > 0),
              s"table property 'compactEvery' must be a positive integer, " +
                s"got '$v'")
          case "buckets" => throw new UnsupportedOperationException(
            "the bucket count is part of the on-disk layout — ALTER would " +
              "route keys away from their state; use CALL " +
              s"$catalogName.system.rebucket(table => '${kindOf(baseIdent)}" +
              s".${baseIdent.name}', buckets => ...) which rewrites layout " +
              "and property together")
          case other => throw new UnsupportedOperationException(
            s"unknown sink table property '$other' — settable: " +
              "changefeed, compactEvery")
        }
        storedProps += (k -> v.trim)
      case rm: TableChange.RemoveProperty =>
        require(Set("changefeed", "compactEvery")(rm.property),
          s"table property '${rm.property}' cannot be unset — " +
            "unsettable: changefeed, compactEvery")
        storedProps -= rm.property
      case _ => ()
    }
    val evolved = structural.foldLeft(envelope) { (env, ch) =>
      ch match {
        case add: TableChange.AddColumn
            if add.fieldNames.length == 2 &&
              Set("after", "before").contains(
                add.fieldNames()(0).toLowerCase(java.util.Locale.ROOT)) =>
          require(add.position() == null,
            "ADD COLUMN on sink tables appends at the end of the payload " +
              "struct — FIRST/AFTER positions are not supported (column " +
              "order is not part of the by-name merge contract)")
          val parent = add.fieldNames()(0)
          val newName = add.fieldNames()(1)
          StructType(env.fields.map { f =>
            if (!f.name.equalsIgnoreCase(parent)) f
            else f.dataType match {
              case st: StructType =>
                require(!st.fields.exists(_.name.equalsIgnoreCase(newName)),
                  s"column $parent.$newName already exists")
                f.copy(dataType = StructType(st.fields :+
                  StructField(newName, add.dataType, nullable = true)))
              case other => throw new UnsupportedOperationException(
                s"$parent is not a struct payload (got ${other.simpleString})")
            }
          })
        case other =>
          throw new UnsupportedOperationException(
            "ALTER on sink tables: schema follows the feed (K4 evolution); " +
              "only ADD COLUMN inside the after/before payload structs is " +
              s"a valid metadata evolution — got $other")
      }
    }
    SinkFs.writeString(meta,
      (evolved.toDDL +: storedProps.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }).mkString("\n"))
    loadTable(Identifier.of(baseIdent.namespace, baseIdent.name))
  }

  override def dropTable(ident: Identifier): Boolean =
    kindOpt(ident) match {
      case None => false
      case Some(_) =>
        val dir = tableDir(ident)
        if (!SinkFs.exists(dir)) false
        else {
          SinkFs.deleteRecursive(dir)
          true
        }
    }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    // same '$' reservation as createTable: a rename onto `b$history`
    // would otherwise produce a name the loader parses as a metadata
    // suffix of table b — the data dir would become unreachable
    require(!oldIdent.name.contains('$') && !newIdent.name.contains('$'),
      s"'$$' is reserved for metadata tables (<name>$$history): " +
        s"$oldIdent -> $newIdent")
    if (!SinkFs.exists(metaFile(oldIdent))) throw new NoSuchTableException(oldIdent)
    if (SinkFs.exists(metaFile(newIdent)))
      throw new TableAlreadyExistsException(newIdent)
    require(kindOf(oldIdent) == kindOf(newIdent),
      "cannot rename across sink kinds — the on-disk layouts differ")
    SinkFs.mkdirs(tableDir(newIdent).getParent)
    // plain fs.rename (no overwrite): the destination was just checked
    // absent, and clobbering an existing table would be the bug
    if (!SinkFs.fs(tableDir(newIdent))
        .rename(tableDir(oldIdent), tableDir(newIdent)))
      throw new java.io.IOException(
        s"rename ${tableDir(oldIdent)} -> ${tableDir(newIdent)} failed")
  }
}

object GraftSinkCatalog {
  val kinds: Set[String] = Set("full", "bucketed", "lsm", "scd2")

  /** DESCRIBE NAMESPACE comments — one line per sink kind's strategy. */
  val kindComments: Map[String, String] = Map(
    "full" -> "full-state rewrite MERGE sink (every epoch rewrites state)",
    "bucketed" -> "bucket-partitioned MERGE sink (touched-bucket rewrite)",
    "lsm" -> "merge-on-read LSM sink (delta appends + deferred compaction)",
    "scd2" -> "SCD type-2 history sink (validity intervals, $history table)")

  /** The sink instance a (kind, path, properties) triple denotes. */
  def sinkFor(kind: String, path: String,
              props: Map[String, String]): CdcSink = {
    def intProp(k: String, dflt: Int): Int = props.get(k) match {
      case None => dflt
      case Some(v) =>
        try v.trim.toInt
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"sink table property '$k' must be an integer, got '$v'")
        }
    }
    def buckets = intProp("buckets", 16)
    def compactEvery = intProp("compactEvery", 8)
    // `changefeed=true`: persist per-epoch change-delta sidecars so
    // `$changes` derives from O(|batch|) bytes — Delta's opt-in
    // enableChangeDataFeed analog. On full it replaces an O(table)
    // state diff; on bucketed/scd2 it replaces a touched-bucket read
    // (O(table) for scattered epochs). LSM's own deltas already are the
    // sidecar, so the property is a no-op there.
    def changefeed = props.get("changefeed")
      .exists(_.trim.equalsIgnoreCase("true"))
    kind match {
      case "full"     => new MergeSink(path, changefeed)
      case "bucketed" => new BucketedMergeSink(path, buckets, changefeed)
      case "lsm"      => new LsmMergeSink(path, buckets, compactEvery)
      case "scd2"     => new Scd2Sink(path, buckets, compactEvery, changefeed)
      case other =>
        throw new IllegalArgumentException(s"unknown sink kind '$other'")
    }
  }

  /** Reduced envelope state (key, after, op, pos) of a sink, current or
    * AS OF an epoch (state/stateAt are CdcSink members).
    */
  /** Optimistic-concurrency commit loop for DEFAULT-epoch writers (SQL
    * DML, INSERT INTO): resolve `committedEpoch + 1`, attempt the
    * commit, and on losing the epoch race — a rival claim
    * ([[graft.streaming.ConcurrentEpochCommitException]]) or a rival
    * that committed our resolved epoch between resolution and the
    * replay guard (`merge` returns false while the tip moved) — wait
    * for the rival's commit to land and REBASE on the new tip, exactly
    * the Delta/Iceberg loser-retries protocol. `attempt` must recompute
    * everything tip-dependent (tipPos-derived positions) from the sink
    * it is handed. A false return with an unmoved tip means the attempt
    * had nothing to commit (empty delta) — done, not a race. Gives up
    * loudly after `maxAttempts`; never silently drops a statement.
    *
    * Streaming writers (foreachBatch with explicit epochs) do NOT ride
    * this: their epoch numbering is the exactly-once contract, so a
    * conflict there surfaces as the exception and fails the query.
    */
  private[v2] def commitWithRetry(kind: String, path: String,
                                  props: Map[String, String], what: String)
                                 (attempt: (CdcSink, Long) => Boolean)
      : Unit = {
    // enough attempts to outlast a realistic burst of rival commits, plus
    // JITTERED BACKOFF on the lost-race path below: with N contending
    // default-epoch writers and immediate retries, every loser re-resolves
    // the same new tip in lockstep and one statement can starve through
    // a whole attempt budget while the sink is making progress (observed
    // with 12 writers at maxAttempts=6, no backoff) — the sleep spreads
    // the re-resolutions so each commit round retires a different writer
    val maxAttempts = 20
    var n = 0
    while (true) {
      n += 1
      val sink = sinkFor(kind, path, props)
      val epoch = sink.committedEpoch.map(_ + 1L).getOrElse(0L)
      var conflicted = false
      val didCommit =
        try attempt(sink, epoch)
        catch {
          case e: graft.streaming.ConcurrentEpochCommitException =>
            if (n >= maxAttempts) throw e
            conflicted = true; false
        }
      if (didCommit) return
      if (!conflicted) {
        if (sink.committedEpoch.map(_ + 1L).getOrElse(0L) <= epoch)
          return // empty delta: nothing to commit
        if (n >= maxAttempts)
          throw new graft.streaming.ConcurrentEpochCommitException(
            s"$what: lost the epoch race $maxAttempts times to concurrent " +
              "writers — giving up; re-run the statement")
        // a rival committed our resolved epoch: back off a jittered
        // beat before rebasing (capped linear — the contention window
        // here is a commit, not a transaction)
        Thread.sleep(25L + java.util.concurrent.ThreadLocalRandom
          .current().nextLong(math.min(200L, 25L * n)))
      } else {
        // rival holds the in-flight claim: wait for its commit to land
        // (tip moves past our epoch) or its claim to clear on failure
        val deadline = System.nanoTime() + 15000000000L
        while (sink.committedEpoch.map(_ + 1L).getOrElse(0L) <= epoch &&
               System.nanoTime() < deadline)
          Thread.sleep(50)
      }
    }
  }

  private[v2] def rawState(spark: SparkSession, sink: CdcSink,
                           asOf: Option[Long]): Option[DataFrame] =
    asOf match {
      case Some(e) => sink.stateAt(spark, e)
      case None    => sink.state(spark)
    }

  /** The schema with every field nullable, recursively. The READ side
    * must report this: merged state legitimately carries nulls in
    * columns the stored DDL declares non-nullable (deletes null `after`,
    * provenance fields read null), and the zero-copy bridge
    * (needConversion=false) performs NO runtime null checks — a
    * non-nullable read schema would make the scan exec's projection
    * read garbage instead of null, silently.
    */
  private[v2] def deepNullable(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = deepNullable(f.dataType), nullable = true)))
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      org.apache.spark.sql.types.ArrayType(deepNullable(et),
        containsNull = true)
    case org.apache.spark.sql.types.MapType(k, v, _) =>
      org.apache.spark.sql.types.MapType(deepNullable(k), deepNullable(v),
        valueContainsNull = true)
    case other => other
  }

  private[v2] def deepNullable(st: StructType): StructType =
    deepNullable(st: DataType).asInstanceOf[StructType]

  /** Project a column of type `from` into shape `to`: structs rebuild
    * field-by-field BY NAME (missing target fields read null, extra
    * source fields drop — the read-side face of K4 evolution against a
    * create-time declared schema), everything else casts. A null struct
    * stays null instead of becoming a struct of nulls.
    */
  /** The `$history` metadata-table schema a stored envelope DDL
    * implies: the payload columns flattened (what [[graft.operators.Scd2.present]]
    * emits) plus the validity interval and the open-version flag.
    */
  private[v2] def historySchemaOf(envelope: StructType): StructType = {
    val payload = envelope.fields.find(_.name.equalsIgnoreCase("after"))
      .map(_.dataType.asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(
        "stored sink schema has no 'after' payload struct"))
    StructType(payload.fields.toIndexedSeq ++ Seq(
      org.apache.spark.sql.types.StructField("valid_from_pos",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("valid_to_pos",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("is_current",
        org.apache.spark.sql.types.BooleanType)))
  }

  /** STRICT v2-Predicate → Column translation for the DELETE path.
    * Spark's own v2→v1 bridge (PredicateUtils.toV1) can NARROW a
    * disjunction whose one side doesn't convert — measured: `DELETE …
    * WHERE key.x % 2 = 0 OR name = 'A'` reached the v1 deleteWhere as
    * just `name = 'A'` and silently deleted a SUBSET of what the user
    * asked. Filters may be narrowed for scan pushdown (residuals are
    * re-applied); a DELETE predicate may not. So the table overrides
    * the v2-side canDeleteWhere/deleteWhere and translates each
    * predicate IN FULL — any unsupported node fails the whole
    * predicate, surfacing Spark's standard non-deletable error instead
    * of a wrong delete. Returns None on anything outside the supported
    * shape (field refs resolved against `schema`, literals,
    * comparisons, IN, null tests, string matches, AND/OR/NOT).
    */
  private[v2] def v2PredicateColumn(
      schema: StructType,
      e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[Column] = {
    import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, LiteralValue, NamedReference}
    import org.apache.spark.sql.connector.expressions.filter.{AlwaysFalse, AlwaysTrue, And => V2And, Not => V2Not, Or => V2Or, Predicate => V2Predicate}
    def ref(parts: Seq[String]): Option[Column] = {
      var dt: DataType = schema
      var c: Column = null
      parts.foreach { p =>
        dt match {
          case st: StructType =>
            st.fields.find(_.name.equalsIgnoreCase(p)) match {
              case Some(fld) =>
                c = if (c == null) col(s"`${fld.name}`") else c.getField(fld.name)
                dt = fld.dataType
              case None => return None
            }
          case _ => return None
        }
      }
      Option(c)
    }
    def operand(x: V2Expr): Option[Column] = x match {
      case r: NamedReference => ref(r.fieldNames.toIndexedSeq)
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        Some(lit(org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToScala(l.value, l.dataType)))
      case _ => None
    }
    e match {
      case _: AlwaysTrue  => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case a: V2And =>
        for { l <- v2PredicateColumn(schema, a.left())
              r <- v2PredicateColumn(schema, a.right()) } yield l && r
      case o: V2Or =>
        for { l <- v2PredicateColumn(schema, o.left())
              r <- v2PredicateColumn(schema, o.right()) } yield l || r
      case n: V2Not => v2PredicateColumn(schema, n.child()).map(!_)
      case p: V2Predicate =>
        val ch = p.children()
        def bin(f: (Column, Column) => Column): Option[Column] =
          if (ch.length != 2) None
          else for { l <- operand(ch(0)); r <- operand(ch(1)) } yield f(l, r)
        p.name() match {
          case "="          => bin(_ === _)
          case "<>" | "!="  => bin(_ =!= _)
          case "<=>"        => bin(_ <=> _)
          case ">"          => bin(_ > _)
          case ">="         => bin(_ >= _)
          case "<"          => bin(_ < _)
          case "<="         => bin(_ <= _)
          case "STARTS_WITH" => bin((a, b) => a.startsWith(b))
          case "ENDS_WITH"   => bin((a, b) => a.endsWith(b))
          case "CONTAINS"    => bin((a, b) => a.contains(b))
          case "IS_NULL" if ch.length == 1 => operand(ch(0)).map(_.isNull)
          case "IS_NOT_NULL" if ch.length == 1 =>
            operand(ch(0)).map(_.isNotNull)
          case "IN" if ch.length >= 2 =>
            for {
              target <- operand(ch(0))
              vals <- ch.toSeq.drop(1).foldLeft(
                Option(Seq.empty[Column])) { (acc, v) =>
                  acc.flatMap(s => operand(v).map(s :+ _))
                }
            } yield target.isin(vals: _*)
          case _ => None
        }
      case _ => None
    }
  }

  /** Type equality ignoring nullability (`DataType.sameType` is
    * private[sql]; `catalogString` already omits nullability).
    */
  private[v2] def sameType(a: DataType, b: DataType): Boolean =
    a.catalogString == b.catalogString

  private[v2] def conform(c: Column, from: DataType, to: DataType): Column =
    (from, to) match {
      case (f, t) if sameType(f, t) => c
      case (f: StructType, t: StructType) =>
        val parts = t.fields.map { tf =>
          f.fields.find(_.name.equalsIgnoreCase(tf.name)) match {
            case Some(ff) =>
              conform(c.getField(ff.name), ff.dataType, tf.dataType).as(tf.name)
            case None => lit(null).cast(tf.dataType).as(tf.name)
          }
        }
        when(c.isNull, lit(null).cast(t)).otherwise(struct(parts.toIndexedSeq: _*))
      case (_, t) => c.cast(t)
    }

  /** The catalog-read DataFrame: latest envelope per key, conformed to
    * the table's stored envelope schema. State carries (key, after, op,
    * pos); the remaining envelope columns read as null except
    * `source.pos`, which the merge preserved.
    */
  private[v2] def stateFrame(spark: SparkSession, kind: String, path: String,
                             props: Map[String, String], asOf: Option[Long],
                             envelope: StructType): DataFrame =
    stateFrameFrom(spark,
      rawState(spark, sinkFor(kind, path, props), asOf), envelope)

  /** Raw sink state rows conformed to the stored envelope schema
    * (missing fields read null; `source.pos` rebuilt from `pos`).
    */
  private[v2] def stateFrameFrom(spark: SparkSession,
                                 rawOpt: Option[DataFrame],
                                 envelope: StructType): DataFrame = {
    val raw = rawOpt.getOrElse(
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], envelope))
    val rawSchema = raw.schema
    val cols = envelope.fields.map { f =>
      rawSchema.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case Some(rf) =>
          conform(raw(rf.name), rf.dataType, f.dataType).as(f.name)
        case None if f.name.equalsIgnoreCase("source") =>
          (f.dataType match {
            case st: StructType =>
              val parts = st.fields.map { sf =>
                (if (sf.name.equalsIgnoreCase("pos")) raw("pos").cast(sf.dataType)
                 else lit(null).cast(sf.dataType)).as(sf.name)
              }
              struct(parts.toIndexedSeq: _*)
            case dt => lit(null).cast(dt)
          }).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }
    raw.select(cols.toIndexedSeq: _*)
  }

  /** The key-field values a pushed-filter conjunction pins exactly, in
    * key-schema order — Some iff EVERY field of the key struct has an
    * `EqualTo("key.<field>", value)` conjunct (then the row, if it
    * exists, lives in exactly one hash bucket). Extra conjuncts are
    * fine (they re-apply after the pruned read); null "equalities"
    * never arrive as EqualTo.
    */
  private[v2] def keyEqualities(
      pushed: Array[org.apache.spark.sql.sources.Filter],
      key: StructType): Option[Seq[(StructField, Any)]] = {
    import org.apache.spark.sql.sources.{And, EqualTo, Filter}
    def conjuncts(f: Filter): Seq[Filter] = f match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def norm(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val eqs = pushed.flatMap(conjuncts).collect {
      case EqualTo(a, v) if v != null => norm(a) -> v
    }.toMap
    val vals = key.fields.map(f => eqs.get(s"key.${norm(f.name)}")
      .map(v => f -> v))
    if (vals.nonEmpty && vals.forall(_.isDefined))
      Some(vals.map(_.get).toIndexedSeq)
    else None
  }

  /** [[keyEqualities]] over v2 `Predicate`s (the DELETE entry points
    * receive those, not v1 Filters): Some iff every key field has an
    * `= literal` conjunct — then a metadata DELETE can ride the same
    * bucket-pruned read as a point SELECT/UPDATE instead of scanning
    * the table for its matched set.
    */
  private[v2] def keyEqualitiesV2(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate],
      key: StructType): Option[Seq[(StructField, Any)]] = {
    import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
    import org.apache.spark.sql.connector.expressions.filter.{And => V2And, Predicate => V2Predicate}
    def conjuncts(p: V2Predicate): Seq[V2Predicate] = p match {
      case a: V2And => conjuncts(a.left()) ++ conjuncts(a.right())
      case other => Seq(other)
    }
    def norm(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val eqs = predicates.flatMap(conjuncts).flatMap { p =>
      if (p.name() != "=" || p.children().length != 2) None
      else {
        val refLit = (p.children()(0), p.children()(1)) match {
          case (r: NamedReference, l: V2Literal[_]) => Some((r, l))
          case (l: V2Literal[_], r: NamedReference) => Some((r, l))
          case _ => None
        }
        refLit.flatMap { case (r, l) =>
          Option(org.apache.spark.sql.catalyst.CatalystTypeConverters
            .convertToScala(l.value, l.dataType))
            .map(v => norm(r.fieldNames.mkString(".")) -> v)
        }
      }
    }.toMap
    val vals = key.fields.map(f => eqs.get(s"key.${norm(f.name)}")
      .map(v => f -> v))
    if (vals.nonEmpty && vals.forall(_.isDefined))
      Some(vals.map(_.get).toIndexedSeq)
    else None
  }

  /** The hash bucket a fully-pinned key lands in, under the SINK's own
    * bucket expression: `pmod(xxhash64(struct(<key fields>)), n)` with
    * each literal cast to the stored field type (xxhash64 is
    * width-sensitive — an Int literal for a BIGINT field would hash to
    * a different bucket than the stored column does). The same Catalyst
    * tree `lit(v).cast(type)` builds, evaluated on the driver: no
    * query is planned and no job runs (a one-row `spark.range` select
    * here cost a 3-task job per lookup).
    */
  private[v2] def bucketOf(spark: SparkSession,
                           vals: Seq[(StructField, Any)], n: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, CreateNamedStruct,
      Literal, Pmod, XxHash64}
    val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
    val key = CreateNamedStruct(vals.flatMap { case (f, v) =>
      Seq(Literal(f.name), Cast(Literal(v), f.dataType, tz)) })
    Pmod(new XxHash64(Seq(key)), Literal(n.toLong)).eval()
      .asInstanceOf[Long].toInt
  }
}

/** Shared read half of the catalog's tables: a `V1Scan` bridge over a
  * driver-built DataFrame, with top-level column pruning (a requested
  * column keeps its FULL struct — readSchema reports exactly what the
  * scan produces and Spark extracts nested fields above it; nested
  * pruning still reaches the parquet leaves through the frame's own
  * Catalyst plan) and filter pushdown: a pushed predicate applies to
  * the frame INSIDE the bridge, so Catalyst can push it on through to
  * the underlying parquet scans (row-group pruning on cold buckets)
  * and rows drop before the Row-conversion boundary — at scale the
  * difference between scanning a table and scanning a predicate.
  */
private[v2] trait SinkReadTable extends Table with SupportsRead {
  protected def readSchemaFull: StructType
  /** The full-schema frame the scan projects from. */
  protected def fullFrame(spark: SparkSession): DataFrame

  /** Metadata columns this scan can additionally produce (beyond the
    * data schema): field declaration plus the projection that derives
    * it from the full frame. Only computed when the query asks for
    * them — `SELECT *` and every data-only plan see no change.
    */
  protected def scanMetadataCols: Seq[(StructField, DataFrame => Column)] =
    Nil

  /** A cheaper frame the PUSHED predicates justify, if the table can
    * build one (point-lookup bucket pruning — see
    * [[CdcSinkTable.prunedFrame]]). Must be a sound superset of the
    * predicates' matches over the full frame: every pushed predicate is
    * re-applied on top, so over-returning is safe, under-returning is
    * not. None = scan the full frame.
    */
  protected def prunedFrame(spark: SparkSession,
                            pushed: Array[org.apache.spark.sql.sources.Filter])
      : Option[DataFrame] = None

  /** A frame shaped by the scan's READ OPTIONS, if the table honors
    * any (`$changes` epoch bounds — see [[SinkChangesTable]]). Takes
    * precedence over predicate pruning; None = options don't apply.
    */
  protected def optionedFrame(spark: SparkSession,
                              options: CaseInsensitiveStringMap)
      : Option[DataFrame] = None

  /** Data schema + the declared metadata columns — what pruning
    * resolves requested names against.
    */
  private def scanSchemaFull: StructType =
    StructType(readSchemaFull.fields.toIndexedSeq ++ scanMetadataCols.map(_._1))

  /** Streaming hook: a table that also supports micro-batch reads
    * (declares MICRO_BATCH_READ) overrides this; the default matches
    * batch-only tables.
    */
  protected def microBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    throw new UnsupportedOperationException(
      s"${name()} does not support streaming reads")

  /** A pushed v1 `Filter` as a Column over the frame, when the shape is
    * supported: attribute comparisons (top-level OR dotted nested refs
    * like `key.o_orderkey` — resolved by walking the struct schema, so
    * key/payload predicates reach the parquet leaves) and boolean
    * combinations. Anything else stays a post-scan filter (returning it
    * unpushed is always correct — Spark re-applies residuals).
    */
  protected def toColumn(f: org.apache.spark.sql.sources.Filter): Option[Column] = {
    import org.apache.spark.sql.sources._
    def ref(name: String): Option[Column] = {
      // exact top-level name wins (a field literally containing a dot);
      // else descend struct fields along the dotted path
      readSchemaFull.fields.find(_.name.equalsIgnoreCase(name)) match {
        case Some(tf) => Some(col(s"`${tf.name}`"))
        case None =>
          val parts = name.split('.')
          if (parts.length < 2) return None
          var dt: DataType = readSchemaFull
          var c: Column = null
          parts.foreach { p =>
            dt match {
              case st: StructType =>
                st.fields.find(_.name.equalsIgnoreCase(p)) match {
                  case Some(fld) =>
                    c = if (c == null) col(s"`${fld.name}`")
                        else c.getField(fld.name)
                    dt = fld.dataType
                  case None => return None
                }
              case _ => return None
            }
          }
          Option(c)
      }
    }
    f match {
      case AlwaysTrue()             => Some(lit(true))
      case AlwaysFalse()            => Some(lit(false))
      case EqualTo(a, v)            => ref(a).map(_ === lit(v))
      case EqualNullSafe(a, v)      => ref(a).map(_ <=> lit(v))
      case GreaterThan(a, v)        => ref(a).map(_ > lit(v))
      case GreaterThanOrEqual(a, v) => ref(a).map(_ >= lit(v))
      case LessThan(a, v)           => ref(a).map(_ < lit(v))
      case LessThanOrEqual(a, v)    => ref(a).map(_ <= lit(v))
      case In(a, vs)                => ref(a).map(_.isin(vs.toIndexedSeq: _*))
      case IsNull(a)                => ref(a).map(_.isNull)
      case IsNotNull(a)             => ref(a).map(_.isNotNull)
      case StringStartsWith(a, v)   => ref(a).map(_.startsWith(v))
      case StringEndsWith(a, v)     => ref(a).map(_.endsWith(v))
      case StringContains(a, v)     => ref(a).map(_.contains(v))
      case Not(c)                   => toColumn(c).map(!_)
      case And(l, r) =>
        for { a <- toColumn(l); b <- toColumn(r) } yield a && b
      case Or(l, r) =>
        for { a <- toColumn(l); b <- toColumn(r) } yield a || b
      case _ => None
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
      private var required: StructType = readSchemaFull
      private var pushed: Array[org.apache.spark.sql.sources.Filter] =
        Array.empty
      override def pruneColumns(requiredSchema: StructType): Unit = {
        val want = requiredSchema.fieldNames
          .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        required = StructType(scanSchemaFull.fields.filter(f =>
          want.contains(f.name.toLowerCase(java.util.Locale.ROOT))))
      }
      override def pushFilters(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = {
        val (ok, rest) = filters.partition(f => toColumn(f).isDefined)
        pushed = ok
        rest
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
        pushed
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = required
        override def toMicroBatchStream(checkpointLocation: String)
            : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
          microBatchStream(checkpointLocation)
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val req = required
          val preds = pushed.flatMap(toColumn)
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = req
            // rows cross the bridge as InternalRow (the JDBCRelation
            // pattern): `.rdd` would deserialize every row to an
            // external Row only for Spark to convert it straight back —
            // measured +56% wall on a full-table read
            override def needConversion: Boolean = false
            override def buildScan(): RDD[Row] = {
              val base = optionedFrame(context.sparkSession, options)
                .orElse(prunedFrame(context.sparkSession, pushed))
                .getOrElse(fullFrame(context.sparkSession))
              val filtered = preds.foldLeft(base)((df, p) => df.filter(p))
              // requested metadata columns materialize here; a
              // non-nullable one (e.g. the DML row id) also guards the
              // zero-copy bridge with an is-not-null filter — declared
              // non-nullable + needConversion=false would otherwise
              // read garbage where the projection is null
              val wantMeta = scanMetadataCols.filter { case (f, _) =>
                req.fieldNames.exists(_.equalsIgnoreCase(f.name))
              }
              val withMeta = wantMeta.foldLeft(filtered) {
                case (df, (f, proj)) =>
                  val c = proj(df)
                  val base = df.withColumn(f.name, c)
                  if (f.nullable) base else base.filter(c.isNotNull)
              }
              withMeta
                .select(req.fieldNames.toIndexedSeq.map(n => col(s"`$n`")): _*)
                .queryExecution.toRdd.asInstanceOf[RDD[Row]]
            }
          }.asInstanceOf[T]
        }
      }
    }
}

private[v2] class CdcSinkTable(kind: String, path: String, ident: String,
                               tableSchema: StructType,
                               props: Map[String, String],
                               asOf: Option[Long],
                               forDml: Boolean = false)
    extends Table with SupportsWrite with SinkReadTable
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String =
    asOf.map(e => s"$ident VERSION AS OF $e").getOrElse(ident)

  // stored table properties, visible to SHOW TBLPROPERTIES / DESCRIBE
  // EXTENDED (set at CREATE or via ALTER ... SET TBLPROPERTIES)
  override def properties(): util.Map[String, String] = props.asJava

  /** This table with ACCEPT_ANY_SCHEMA stripped, for the DML resolution
    * swap (see [[GraftDmlResolution]]): Spark's analyzer treats an
    * accept-any-schema relation as `skipSchemaResolution` and then
    * refuses to resolve MERGE references or align UPDATE assignments —
    * so under a DML command the relation carries this copy, while plain
    * writes keep the strict-contract capability.
    */
  private[v2] def dmlCopy: CdcSinkTable =
    new CdcSinkTable(kind, path, ident, tableSchema, props, asOf,
      forDml = true)
  private[v2] def acceptsAnySchema: Boolean = !forDml

  /** The DML row id: the envelope key re-declared NON-nullable (Spark's
    * row-id contract rejects nullable attrs; the scan guards the
    * declaration with an is-not-null filter when it's projected — see
    * SinkReadTable.buildScan). Declared as a metadata column so
    * SELECT * and the write contract never see it.
    */
  private def rowKeyField: StructField = {
    val keyDt = schema().fields.find(_.name.equalsIgnoreCase("key"))
      .map(_.dataType)
      .getOrElse(throw new IllegalStateException(
        s"stored sink schema of $ident has no 'key' column"))
    StructField(graft.sinks.v2.RowLevelDml.RowKeyCol, keyDt,
      nullable = false)
  }

  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    val f = rowKeyField
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = f.name
      override def dataType(): DataType = f.dataType
      override def isNullable: Boolean = false
      override def comment(): String =
        "row id for SQL UPDATE/MERGE/DELETE (the envelope key)"
    })
  }

  override protected def scanMetadataCols
      : Seq[(StructField, DataFrame => Column)] =
    Seq(rowKeyField -> ((df: DataFrame) => df(s"`key`")))

  /** SQL UPDATE / MERGE INTO / row-level DELETE — see [[RowLevelDml]]:
    * the statement's delta commits as one new epoch of envelopes, never
    * an in-place rewrite. A pinned time-travel view refuses DML like it
    * refuses writes.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    asOf.foreach { e =>
      throw new UnsupportedOperationException(
        s"$ident VERSION AS OF $e is a read-only time-travel view")
    }
    () => new SinkRowLevelOperation(
      info.command(), kind, path, ident, props, tableSchema, this)
  }
  // reads report the deep-nullable envelope (see deepNullable's doc);
  // the strict WRITE contract still validates against the stored DDL
  override def schema(): StructType =
    GraftSinkCatalog.deepNullable(tableSchema)
  override protected def readSchemaFull: StructType = schema()
  override protected def fullFrame(spark: SparkSession): DataFrame =
    GraftSinkCatalog.stateFrame(spark, kind, path, props, asOf, schema())

  /** POINT-LOOKUP bucket pruning: when the pushed conjunction pins
    * EVERY field of the envelope key (`WHERE key.o_orderkey = 42`),
    * the row — if it exists — lives in exactly ONE hash bucket of the
    * bucket-layout kinds, so the scan reads that bucket's files
    * instead of the table (at 100 TB: one bucket + its deltas vs 10k
    * buckets; parquet row-group stats can't do this — xxhash scatters
    * keys, so min/max never prunes). The predicates still re-apply on
    * top, the bucket count comes from the LAYOUT (manifest `K` line),
    * and any erosion falls back to the full read. DML point statements
    * (`UPDATE ... WHERE key.x = v`) ride the same path via their scan.
    */
  private def keyStruct: Option[StructType] =
    tableSchema.fields.find(_.name.equalsIgnoreCase("key"))
      .map(_.dataType).collect { case st: StructType => st }

  /** The one-bucket frame a fully-pinned key justifies (shared by the
    * scan path and the metadata-DELETE path). None = no bucket layout,
    * eroded artifacts, or count unknown — callers fall back to the
    * full frame.
    */
  private def prunedForVals(spark: SparkSession,
                            vals: Seq[(StructField, Any)])
      : Option[DataFrame] = {
    // one pinned manifest supplies both the count the key hashes under
    // and the bucket read: after a rebucket, a VERSION AS OF lookup at
    // a pre-rebucket epoch hashes under the old layout's count, and a
    // live lookup racing a rebucket never mixes the two layouts
    GraftSinkCatalog.sinkFor(kind, path, props)
      .stateBucket(spark, asOf, GraftSinkCatalog.bucketOf(spark, vals, _))
      .map(raw => GraftSinkCatalog.stateFrameFrom(spark, Some(raw), schema()))
  }

  override protected def prunedFrame(spark: SparkSession,
                                     pushed: Array[org.apache.spark.sql.sources.Filter])
      : Option[DataFrame] =
    keyStruct.flatMap(GraftSinkCatalog.keyEqualities(pushed, _))
      .flatMap(prunedForVals(spark, _))
  override def capabilities(): util.Set[TableCapability] =
    if (forDml)
      // the DML copy drops ACCEPT_ANY_SCHEMA: the analyzer must resolve
      // MERGE references / align UPDATE assignments against the real
      // schema (skipSchemaResolution would block both)
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE)
    else
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
        // the table validates write schemas ITSELF (strictly) — Spark's
        // by-name output resolution would otherwise null-pad any missing
        // nullable envelope column before the builder could see the drift
        TableCapability.ACCEPT_ANY_SCHEMA)

  /** Strict envelope check, replacing the resolution Spark skips under
    * ACCEPT_ANY_SCHEMA: top-level names must match the stored DDL
    * exactly (missing → CANNOT_FIND_DATA, unknown → EXTRA_COLUMNS) and
    * a non-struct column must keep its type; struct INTERIORS are free
    * to evolve (K4).
    */
  private def validateWriteSchema(incoming: StructType): Unit = {
    def norm(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val in = incoming.fields.map(f => norm(f.name) -> f).toMap
    val stored = tableSchema.fields.map(f => norm(f.name) -> f).toMap
    tableSchema.fields.find(f => !in.contains(norm(f.name))).foreach { f =>
      throw new AnalysisException(
        "INCOMPATIBLE_DATA_FOR_TABLE.CANNOT_FIND_DATA",
        Map("tableName" -> ident, "colName" -> f.name))
    }
    val extra = incoming.fields.filter(f => !stored.contains(norm(f.name)))
    if (extra.nonEmpty)
      throw new AnalysisException(
        "INCOMPATIBLE_DATA_FOR_TABLE.EXTRA_COLUMNS",
        Map("tableName" -> ident,
          "extraColumns" -> extra.map(_.name).mkString(", ")))
    incoming.fields.foreach { f =>
      val sf = stored(norm(f.name))
      val bothStructs = f.dataType.isInstanceOf[StructType] &&
        sf.dataType.isInstanceOf[StructType]
      if (!bothStructs && !GraftSinkCatalog.sameType(f.dataType, sf.dataType))
        throw new AnalysisException(
          "INCOMPATIBLE_DATA_FOR_TABLE.CANNOT_SAFELY_CAST",
          Map("tableName" -> ident, "colName" -> f.name,
            "srcType" -> f.dataType.simpleString,
            "targetType" -> sf.dataType.simpleString))
    }
  }

  /** `DELETE FROM` as a NEW EPOCH of tombstones — the CDC-native
    * expression of SQL delete: matched live rows (the predicate runs on
    * the table's read shape, nested key/payload refs included) are
    * tombstoned at a position past the current tip, so the delete
    * composes with time travel (`VERSION AS OF` the prior epoch still
    * reads the rows), the changefeed (the tombstones ARE epoch N+1's
    * changes), and the replay guard — no state is rewritten in place.
    * `TRUNCATE TABLE` rides the AlwaysTrue filter for free. Predicates
    * outside the pushable shape fall back to the ROW-LEVEL delete path
    * ([[RowLevelDml]]) — applied with FULL semantics, never narrowed
    * (Spark's own v2→v1 bridge measurably drops unconvertible
    * disjuncts; this table refuses partial conversion instead).
    */
  // v2 Predicate entry points — Spark's default v2→v1 bridge can NARROW
  // a predicate (see GraftSinkCatalog.v2PredicateColumn), so the table
  // translates v2 predicates itself, all-or-nothing
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter
        .Predicate]): Boolean =
    asOf.isEmpty && predicates.forall(p =>
      GraftSinkCatalog.v2PredicateColumn(readSchemaFull, p).isDefined)

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter
        .Predicate]): Unit = {
    val cols = predicates.map(p =>
      GraftSinkCatalog.v2PredicateColumn(readSchemaFull, p).getOrElse(
        throw new UnsupportedOperationException(
          s"unsupported DELETE predicate on $ident: $p")))
    // a full-key point DELETE reads ONE bucket for its matched set,
    // like a point SELECT/UPDATE — the predicate re-applies on top, so
    // the pruned superset is sound
    val keyVals = keyStruct
      .flatMap(GraftSinkCatalog.keyEqualitiesV2(predicates, _))
    deleteMatching(cols.reduceOption(_ && _).getOrElse(lit(true)),
      () => keyVals.flatMap(prunedForVals(SparkSession.active, _)))
  }

  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    asOf.isEmpty && filters.forall(f => toColumn(f).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val cols = filters.map(f => toColumn(f).getOrElse(
      throw new UnsupportedOperationException(
        s"unsupported DELETE filter on $ident: $f")))
    val keyVals = keyStruct
      .flatMap(GraftSinkCatalog.keyEqualities(filters, _))
    deleteMatching(cols.reduceOption(_ && _).getOrElse(lit(true)),
      () => keyVals.flatMap(prunedForVals(SparkSession.active, _)))
  }

  /** `prunedBase` is a THUNK, re-evaluated inside every commit attempt:
    * the matched set is tip-dependent, and a rebase after a lost epoch
    * race must re-read the bucket the rival may have rewritten.
    */
  private def deleteMatching(pred: Column,
                             prunedBase: () => Option[DataFrame] =
                               () => None): Unit = {
    asOf.foreach { e =>
      throw new UnsupportedOperationException(
        s"$ident VERSION AS OF $e is a read-only time-travel view")
    }
    val spark = SparkSession.active
    // default-epoch writer: rebases and retries if a concurrent commit
    // takes the resolved epoch (everything tip-dependent — the state
    // read, the tombstones' position — recomputes per attempt)
    GraftSinkCatalog.commitWithRetry(kind, path, props,
      s"DELETE on $ident") { (sink, epoch) =>
      val state = prunedBase().getOrElse(fullFrame(spark))
      // already-tombstoned keys need no new tombstone — and excluding
      // them keeps a repeated DELETE idempotent in feed terms
      val matched = state.filter(pred).filter(
        col("op").isNull || col("op") =!= lit(graft.model.Envelope.OpDelete))
      // bounded: ONE scalar for the tombstones' merge position — they
      // must outrank every position the table has SEEN (sink.tipPos; on
      // scd2 the reduced state's max under-counts when the newest event
      // was a delete)
      val delPos = sink.tipPos(spark).getOrElse(0L) + 1L
      val cols = tableSchema.fields.map { f =>
        f.name.toLowerCase(java.util.Locale.ROOT) match {
          case "key" => matched(f.name)
          case "op" => lit(graft.model.Envelope.OpDelete).cast(f.dataType)
            .as(f.name)
          case "source" => (f.dataType match {
            case st: StructType =>
              struct(st.fields.map { sf =>
                (if (sf.name.equalsIgnoreCase("pos"))
                   lit(delPos).cast(sf.dataType)
                 else lit(null).cast(sf.dataType)).as(sf.name)
              }.toIndexedSeq: _*)
            case dt => lit(null).cast(dt)
          }).as(f.name)
          case _ => lit(null).cast(f.dataType).as(f.name)
        }
      }
      sink.merge(matched.select(cols.toIndexedSeq: _*), epoch)
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    asOf.foreach { e =>
      throw new UnsupportedOperationException(
        s"$ident VERSION AS OF $e is a read-only time-travel view")
    }
    validateWriteSchema(info.schema())
    new WriteBuilder {
      override def build(): V1Write = {
        // the epoch of this write: explicit `epoch` option → the sink's
        // exactly-once replay guard (a conflict there is a genuine
        // concurrent writer and surfaces loudly); default → resolved
        // per attempt inside the optimistic commit loop
        val explicitEpoch: Option[Long] = Option(info.options.get("epoch"))
          .map { v =>
            try v.trim.toLong
            catch { case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"write option 'epoch' on $ident must be an integer, got '$v'")
            }
          }
        new V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: DataFrame, overwrite: Boolean): Unit = {
                require(!overwrite,
                  "overwrite is not an epoch — use a fresh table (createOrReplace)")
                // An insert-ONLY MERGE bypasses the delta path: Spark's
                // rewrite special-cases it to a plain append of the
                // anti-joined rows, with the unassigned envelope
                // bookkeeping null-padded (`null AS op, null AS
                // source`). Only the DML copy can receive such a plan
                // (plain writes keep the strict-contract table), so
                // here — and only here — synthesize what the delta
                // writers would have: op='c' and a position past the
                // tip, or the merged rows would carry a NULL merge
                // position and lose every latest-by-pos race.
                def fixed(sink: graft.streaming.CdcSink): DataFrame =
                  if (!forDml) data
                  else {
                    val dmlPos = sink.tipPos(data.sparkSession)
                      .getOrElse(0L) + 1L
                    val srcField = tableSchema.fields
                      .find(_.name.equalsIgnoreCase("source"))
                    val srcCol = srcField.map(_.dataType) match {
                      case Some(st: StructType) =>
                        struct(st.fields.toIndexedSeq.map { sf =>
                          (if (sf.name.equalsIgnoreCase("pos"))
                             lit(dmlPos).cast(sf.dataType)
                           else lit(null).cast(sf.dataType)).as(sf.name)
                        }: _*)
                      case Some(dt) => lit(null).cast(dt)
                      case None => lit(null)
                    }
                    data
                      .withColumn("op", coalesce(col("op"),
                        lit(graft.model.Envelope.OpCreate)))
                      .withColumn("source",
                        when(col("source").isNull ||
                          col("source.pos").isNull, srcCol)
                          .otherwise(col("source")))
                  }
                explicitEpoch match {
                  case Some(e) =>
                    val sink = GraftSinkCatalog.sinkFor(kind, path, props)
                    sink.merge(fixed(sink), e): Unit
                  case None =>
                    GraftSinkCatalog.commitWithRetry(kind, path, props,
                      s"INSERT INTO $ident")((sink, epoch) =>
                      sink.merge(fixed(sink), epoch))
                }
              }
            }
        }
      }
    }
  }

}

/** `<name>$changes` metadata table: the CHANGEFEED (see [[SinkChanges]])
  * — batch reads return every retained epoch's change rows (bounded by
  * `VERSION AS OF` when pinned); streaming reads
  * (`spark.readStream.table`) deliver one micro-batch per committed
  * epoch with exact restart at the epoch frontier.
  */
private[v2] class SinkChangesTable(kind: String, path: String, ident: String,
                                   props: Map[String, String],
                                   asOf: Option[Long])
    extends SinkReadTable {
  override def name(): String =
    asOf.map(e => s"$ident VERSION AS OF $e").getOrElse(ident)
  override def schema(): StructType = SinkChanges.schema
  override def capabilities(): util.Set[TableCapability] =
    if (asOf.isEmpty)
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ)
    else // a pinned feed is a bounded batch — no stream to follow
      util.EnumSet.of(TableCapability.BATCH_READ)
  override protected def readSchemaFull: StructType = schema()
  override protected def fullFrame(spark: SparkSession): DataFrame =
    SinkChanges.allChanges(spark, kind, path, props, asOf)

  /** Epoch-bounded batch reads — the Delta CDF
    * `startingVersion`/`endingVersion` analog:
    * {{{
    *   spark.read.option("fromEpoch", 3).option("toEpoch", 7)
    *     .table("graft.lsm.`orders$changes`")
    * }}}
    * `fromEpoch` starts the feed at an epoch (its own changes, never a
    * snapshot — the consumer has the earlier state), `toEpoch` bounds
    * the tip and composes with `VERSION AS OF` by taking the tighter
    * bound; a `fromEpoch` below the erosion floor fails loudly.
    */
  override protected def optionedFrame(spark: SparkSession,
                                       options: CaseInsensitiveStringMap)
      : Option[DataFrame] = {
    def bound(k: String): Option[Long] = Option(options.get(k)).map { v =>
      try v.trim.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$ident read option '$k' expects a numeric epoch, got '$v'")
      }
    }
    val from = bound("fromEpoch")
    val to = bound("toEpoch")
    if (from.isEmpty && to.isEmpty) None
    else Some(SinkChanges.allChanges(spark, kind, path, props,
      (asOf.toSeq ++ to.toSeq).reduceOption((a, b) => math.min(a, b)),
      from))
  }

  override protected def microBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SinkChangesMicroBatchStream(kind, path, props, checkpointLocation)
}

/** `<name>$history` metadata table of a scd2 sink: the FULL version
  * history (closed intervals + open versions, [[graft.operators.Scd2.present]]
  * shape) as a read-only catalog table — `VERSION AS OF` composes
  * (`historyAt`). The declared schema is derived from the stored
  * envelope DDL; evolved payload columns appear after the base table
  * is recreated, like the main table's reads.
  */
private[v2] class Scd2HistoryTable(path: String, ident: String,
                                   historySchema: StructType,
                                   props: Map[String, String],
                                   asOf: Option[Long])
    extends SinkReadTable {
  override def name(): String =
    asOf.map(e => s"$ident VERSION AS OF $e").getOrElse(ident)
  override def schema(): StructType =
    GraftSinkCatalog.deepNullable(historySchema)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override protected def readSchemaFull: StructType = schema()
  override protected def fullFrame(spark: SparkSession): DataFrame = {
    val sink = GraftSinkCatalog.sinkFor("scd2", path, props)
      .asInstanceOf[Scd2Sink]
    // historyOption, not history(): a created-but-never-fed scd2 table
    // has no committed manifest and must read as EMPTY, like the main
    // table and the as-of path — not crash at scan time
    val raw = (asOf match {
      case Some(e) => sink.historyAt(spark, e)
      case None    => sink.historyOption(spark)
    }).getOrElse(
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema()))
    val rawSchema = raw.schema
    val cols = schema().fields.map { f =>
      rawSchema.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case Some(rf) =>
          GraftSinkCatalog.conform(raw(rf.name), rf.dataType, f.dataType)
            .as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }
    raw.select(cols.toIndexedSeq: _*)
  }
}
