package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sinks.v2.GraftSinkCatalog
import graft.sources.v2.ChangeLogSource
import graft.streaming.{ChangeLogPipeline, Scd2Sink}

/** `backfill`: catch-up of a seeded backlog into an SCD-2 catalog table.
  *
  * Set-up stages a wire log of a snapshot of [[Keys]] keys (op r) in one
  * segment, then three times as many changes (70% u, 20% c, 10% d on
  * uniformly chosen live keys) with high-entropy 64-character payload
  * text in [[ChangeSegments]] segments. The timed phase drains it
  * through `ChangeLogSource` with record-capped admission
  * (`maxRecordsPerTrigger`, the analog of the reference's
  * `max.batch.size`) into the sink's `merge`, one segment a trigger.
  * The table is created with `compactEvery` = [[CompactEvery]]: every
  * change trigger adds one closed-version delta, so the last one runs a
  * compaction epoch. The backlog is a fixed amount of work; merging
  * stops early only past three times the run's seconds. Reduce,
  * exchange and write throughput dominate here, so this is the contrast
  * to `tail` for per-epoch fixed cost.
  */
object Backfill {
  val Keys = 16000
  val Changes = 3 * Keys
  val ChangeSegments = 4
  /** The sink's default is 8, which would take 8 change triggers: twice
    * the drain at this trigger size, or triggers half as large.
    */
  val CompactEvery = 4
  /** One change segment: every segment is admitted alone (the snapshot
    * segment is larger than the cap, and a trigger always admits one).
    */
  val MaxRecordsPerTrigger: Long = Changes / ChangeSegments
  val SetupReps = 3
  /** Untimed triggers into a throw-away table first: the snapshot and one
    * change segment.
    */
  val WarmTriggers = 2

  private val sinkProps = Map("compactEvery" -> CompactEvery.toString)

  def run(env: Env): Result = {
    import env._
    val s = new Samples
    var evs: IndexedSeq[Ev] = IndexedSeq.empty
    var wire: Path = null
    val root = work.resolve("catalog").resolve("scd2")

    val (setupS, setupTs) = setupReps(SetupReps) { rep =>
      if (wire != null) deleteDir(wire)
      val model = new TableModel(seed, highEntropy = true)
      val snap = model.snapshot(Keys)
      val changes = model.changes(1, Changes, 0.7, 0.2, latest = false)
      evs = (snap ++ changes).toIndexedSeq
      wire = dir(s"wire_$rep")
      val t0 = System.nanoTime
      tracer.span("sources.wire_write") {
        ChangeLogPipeline.writeWire(Gen.feed(spark, snap, cores), wire.toString, 1)
        ChangeLogPipeline.writeWire(Gen.feed(spark, changes, cores), wire.toString, ChangeSegments)
      }
      s.add("wire", (System.nanoTime - t0) / 1e6)
    }

    /** Drain the wire log into a fresh table; merges stop after `maxMerges`
      * triggers or once `deadlineNs` passes (later triggers are consumed
      * without merging, which takes no Spark job). Returns (table, dir,
      * events merged, drain wall seconds, merges).
      */
    def drain(name: String, maxMerges: Int, deadlineNs: Long,
              timed: Boolean): (String, Path, Long, Double, Int) = {
      val table = s"graft.scd2.$name"
      spark.sql(s"CREATE TABLE $table (${Gen.tableSchema.toDDL}) " +
        s"TBLPROPERTIES ('compactEvery' = '$CompactEvery')")
      val sinkDir = root.resolve(name)
      val sink = GraftSinkCatalog.sinkFor("scd2", sinkDir.toString, sinkProps)
      val ckpt = dir(s"ckpt_$name")
      var merges = 0
      var lastEnd = 0L
      val fs0 = Counters.fsBytesWritten
      val t0 = System.nanoTime
      val q = spark.readStream.format(classOf[ChangeLogSource].getName)
        .option("path", wire.toString)
        .option("maxRecordsPerTrigger", MaxRecordsPerTrigger.toString)
        .load()
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, epochId: Long) =>
          if (merges < maxMerges && System.nanoTime < deadlineNs) {
            scoped(if (timed) "commit" else "warm") {
              val env = batch.select(
                from_json(col("key_json"), Gen.keySchema).as("key"),
                lit(null).cast(Gen.payloadSchema).as("before"),
                from_json(col("payload_json"), Gen.payloadSchema).as("after"),
                col("op"), struct(col("pos")).as("source"),
                lit(null).cast("string").as("transaction"),
                col("pos").as("ts_ms"))
              val m0 = System.nanoTime
              tracer.span("sinks.merge")(sink.merge(env, epochId))
              lastEnd = System.nanoTime
              if (timed) s.add("merge", (lastEnd - m0) / 1e6)
            }
            merges += 1
          }
        }
      tracer.ambientSpan("streaming.drain") {
        val started = q.start()
        started.awaitTermination()
      }
      if (timed) s.add("fs_bytes", (Counters.fsBytesWritten - fs0).toDouble)
      // events merged: the table's own high-water position (dense log)
      (table, sinkDir, maxPos(table, None), (lastEnd - t0) / 1e9, merges)
    }

    scoped("warm")(drain("warm", WarmTriggers, Long.MaxValue, timed = false))
    sync()
    drainListeners()
    triggers.foreach(_.triggers.clear())

    val gc0 = Counters.gcMs
    val (table, sinkDir, merged, drainS, merges) =
      drain("orders", Int.MaxValue, System.nanoTime + 3L * seconds * 1000000000L, timed = true)
    val gcMs = Counters.gcMs - gc0

    // ---- checks against the model at the merged prefix
    val prefix = evs.takeWhile(_.pos <= merged)
    check(merged > 0 && prefix.length == merged, s"merged prefix $merged of ${evs.length}")
    def stateAt(p: Long): mutable.HashMap[Long, Order] = {
      val m = mutable.HashMap.empty[Long, Order]
      evs.iterator.takeWhile(_.pos <= p).foreach { e =>
        if (e.after == null) m.remove(e.key) else m(e.key) = e.after
      }
      m
    }
    val hist = historyOf(table)
    def histRead[T](body: => T): T = {
      val t0 = System.nanoTime
      val r = scoped("history")(tracer.span("sinks.history_read")(body))
      s.add("history", (System.nanoTime - t0) / 1e6)
      r
    }
    val finalState = stateAt(merged)
    // one open row per live key, carrying the key's latest image
    val open = histRead(Digest.ofRows(spark.sql(
      s"SELECT ${Gen.payloadSchema.fieldNames.mkString(",")} FROM $hist " +
        "WHERE is_current").collect().iterator))
    val want = (finalState.size.toLong,
      finalState.valuesIterator.map(o => Digest.of(o.canon)).sum)
    check(open == want, s"open versions $open want $want")
    // every non-delete event opened exactly one version; validity
    // intervals per key do not overlap, and only open rows lack an end
    val hc = histRead(spark.sql(
      s"""SELECT count(*), count_if(
         |  (rn > 1 AND (prev_to IS NULL OR prev_to > valid_from_pos))
         |  OR (valid_to_pos IS NULL) <> is_current
         |  OR valid_to_pos <= valid_from_pos)
         |FROM (SELECT valid_from_pos, valid_to_pos, is_current,
         |  lag(valid_to_pos) OVER (PARTITION BY o_orderkey ORDER BY valid_from_pos) AS prev_to,
         |  row_number() OVER (PARTITION BY o_orderkey ORDER BY valid_from_pos) AS rn
         |  FROM $hist)""".stripMargin).head)
    val versions = prefix.count(_.op != "d")
    check(hc.getLong(0) == versions, s"history rows ${hc.getLong(0)} want $versions")
    check(hc.getLong(1) == 0, s"${hc.getLong(1)} overlapping or malformed validity intervals")
    // VERSION AS OF spot checks: each epoch reads as the model at its prefix
    val sink = GraftSinkCatalog.sinkFor("scd2", sinkDir.toString, sinkProps)
    val vs = sink.versions
    val r = Gen.rng(seed, 3000000L)
    Seq(vs(vs.length / 2)).foreach { e =>
      val p = maxPos(table, Some(e))
      val st = stateAt(p)
      val keys = Seq.fill(12)(prefix(r.nextInt(prefix.length)).key).distinct
      val got = histRead(spark.sql(s"SELECT after.* FROM $table VERSION AS OF $e " +
        s"WHERE key.o_orderkey IN (${keys.mkString(",")}) AND op <> 'd'")
        .collect().map(row => Digest.order(row).canon).sorted.toSeq)
      val exp = keys.flatMap(st.get).map(_.canon).sorted
      check(got == exp, s"AS OF $e (pos $p): got ${got.length} rows want ${exp.length}")
    }
    // the last change trigger reached CompactEvery closed deltas
    val compactions = {
      val ls = java.nio.file.Files.list(sinkDir)
      try ls.iterator().asScala.count(_.getFileName.toString.matches("b[0-9]+"))
      finally ls.close()
    }
    check(compactions >= 1, s"no compaction epoch in $merges merges")
    val vacuumMs = {
      val t = System.nanoTime
      tracer.span("sinks.vacuum")(sink.asInstanceOf[Scd2Sink].vacuum())
      (System.nanoTime - t) / 1e6
    }
    val spaceAmp = Space.amp(env, sinkDir, spark.sql(s"SELECT * FROM $hist"))
    drainListeners()

    val mergesMs = s.get("merge")
    val (att, fail) = tally
    val layer = if (!traced) Map.empty[String, Double] else {
      val c = scope("commit")
      val trig = triggers.get.triggers.toArray(Array.empty[Map[String, Long]]).toSeq
      val trigMs = trig.map(_.getOrElse("triggerExecution", 0L).toDouble)
      Map(
        "sources.wire_write_ms_p50" -> Stats.median(s.get("wire")),
        "streaming.trigger_ms_p50" -> Stats.median(trigMs.take(merges)),
        "streaming.trigger_overhead_ms_p50" ->
          Stats.median(trigMs.zip(mergesMs).map { case (a, b) => a - b }),
        "streaming.merge_ms_p50" -> Stats.median(mergesMs),
        "streaming.jobs_per_epoch" -> c.jobs.get.toDouble / merges,
        "streaming.stages_per_epoch" -> c.stages.get.toDouble / merges,
        "streaming.tasks_per_epoch" -> c.tasks.get.toDouble / merges,
        "streaming.shuffle_bytes_per_event" -> c.shuffleWrite.get.toDouble / merged,
        "streaming.spill_bytes" -> c.spill.get.toDouble,
        "streaming.write_bytes_per_epoch" -> s.get("fs_bytes").head / merges,
        "streaming.exec_cpu_frac" -> c.cpuNs.get / (mergesMs.sum * 1e6 * cores),
        "sinks.history_read_ms_p50" -> Stats.median(s.get("history")),
        "sinks.vacuum_ms" -> vacuumMs,
        "jvm.gc_ms_per_step" -> gcMs.toDouble / merges)
    }
    Result(att, fail,
      e2e = Map("setup_s" -> setupS, "op_p50_ms" -> Stats.median(mergesMs),
        "items_per_s" -> merged / drainS),
      layer = layer,
      report = Map(
        "setup_reps_s" -> setupTs, "drain_s" -> drainS, "merges" -> merges,
        "compactions" -> compactions,
        "events" -> merged, "backlog" -> evs.length,
        "merge_ms" -> mergesMs,
        "commit_p50_ms" -> Stats.median(mergesMs), "commit_n" -> mergesMs.length,
        "apply_eps" -> merged / drainS,
        "write_bytes_per_event" -> s.get("fs_bytes").head / merged,
        "space_amp" -> spaceAmp,
        "history_read_p50_ms" -> Stats.median(s.get("history")),
        "error_rate" -> fail.toDouble / att))
  }

  /** Highest log position committed (AS OF `epoch`): every event either
    * opens a version at its position or closes one there.
    */
  def maxPos(table: String, epoch: Option[Long]): Long = {
    val asOf = epoch.map(e => s" VERSION AS OF $e").getOrElse("")
    val spark = org.apache.spark.sql.SparkSession.active
    spark.sql(s"SELECT max(greatest(valid_from_pos, coalesce(valid_to_pos, 0))) " +
      s"FROM ${historyOf(table)}$asOf").head.getLong(0)
  }

  /** The `$history` metadata table of a scd2 catalog table. */
  def historyOf(table: String): String = {
    val i = table.lastIndexOf('.')
    s"${table.take(i)}.`${table.drop(i + 1)}$$history`"
  }
}
