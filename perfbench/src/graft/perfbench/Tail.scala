package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame

import graft.sinks.v2.GraftSinkCatalog
import graft.streaming.{CdcSink, ChangeLogPipeline}

/** `tail`: steady-state CDC tail into a bucketed catalog table.
  *
  * Set-up bootstraps the table from a 20,000-row orders snapshot through
  * the wire log and `ChangeLogPipeline.run`. The timed phase is a closed
  * loop with one client: each step appends one seeded wire segment of
  * 150 events (80% updates, 10% inserts, 10% deletes; updates and
  * deletes pick keys with YCSB's `latest` distribution) and commits it
  * with `ChangeLogPipeline.run`, then reads back 4 changed keys by
  * full-key SQL lookups (read-your-writes); every 5th step also runs an
  * aggregate scan. Per-epoch fixed cost dominates
  * here: trigger start, jobs per epoch, the bucket rewrite and metadata
  * I/O; lookups sit beside the writes.
  */
object Tail {
  val SnapshotKeys = 20000
  val EventsPerStep = 150
  val LookupsPerStep = 4
  val ScanEvery = 5
  val SetupReps = 3
  /** Untimed steps after the set-ups' three bootstrap epochs. */
  val WarmSteps = 2
  val WarmLookups = 12
  /** The timed phase is a fixed number of steps, one per NominalStepS of
    * the run's seconds: the same seed and seconds give the same work, so
    * counts repeat exactly and a faster engine simply finishes sooner.
    */
  val NominalStepS = 2.5
  val MinSteps = 3

  def run(env: Env): Result = {
    import env._
    val s = new Samples
    var model: TableModel = null
    var table = ""
    var sinkDir: Path = null
    var wire: Path = null
    val catalogRoot = work.resolve("catalog").resolve("bucketed")

    def sinkFor(d: String): CdcSink = {
      val sink = GraftSinkCatalog.sinkFor("bucketed", d, Map.empty)
      if (traced) new TimedSink(sink, tracer, ms => s.add("merge", ms)) else sink
    }
    def commit(): Double = {
      val t0 = System.nanoTime
      tracer.ambientSpan("streaming.commit") {
        ChangeLogPipeline.run(spark, wire.toString, sinkDir.toString,
          Gen.keySchema, Gen.payloadSchema, sinkFor)
      }
      (System.nanoTime - t0) / 1e6
    }
    def writeWire(evs: Seq[Ev], files: Int): Double = {
      val t0 = System.nanoTime
      tracer.span("sources.wire_write") {
        ChangeLogPipeline.writeWire(Gen.feed(spark, evs, files), wire.toString, files)
      }
      (System.nanoTime - t0) / 1e6
    }

    val (setupS, setupTs) = setupReps(SetupReps) { rep =>
      if (sinkDir != null) { deleteDir(sinkDir); deleteDir(wire) }
      model = new TableModel(seed, highEntropy = false)
      table = s"graft.bucketed.orders_$rep"
      sinkDir = catalogRoot.resolve(s"orders_$rep")
      wire = dir(s"wire_$rep")
      spark.sql(s"CREATE TABLE $table (${Gen.tableSchema.toDDL})")
      writeWire(model.snapshot(SnapshotKeys), cores)
      commit()
    }

    def lookup(k: Long, sample: Boolean): Unit = {
      val q = s"SELECT after.* FROM $table WHERE key.o_orderkey = $k AND op <> 'd'"
      val t0 = System.nanoTime
      val (df, rows) = tracer.span("sinks.lookup") {
        val df = spark.sql(q)
        (df, df.collect())
      }
      val ms = (System.nanoTime - t0) / 1e6
      if (sample) {
        s.add("lookup", ms)
        if (traced) {
          val plan = planMs(df)
          s.add("lookup_plan", plan); s.add("lookup_exec", ms - plan)
        }
      }
      val want = model.state.get(k).map(_.canon).toSeq
      val got = rows.toSeq.map(r => Digest.order(r).canon)
      check(got == want, s"lookup $k: got $got want $want")
    }
    def scan(sample: Boolean): Unit = {
      val t0 = System.nanoTime
      val r = tracer.span("sinks.scan") {
        spark.sql(s"SELECT count(*), sum(after.o_totalprice) FROM $table " +
          "WHERE op <> 'd'").head()
      }
      if (sample) s.add("scan", (System.nanoTime - t0) / 1e6)
      val want = (model.state.size.toLong, model.state.valuesIterator.map(_.totalCents).sum)
      check((r.getLong(0), r.getLong(1)) == want, s"scan: got $r want $want")
    }
    def step(i: Int, timed: Boolean): Int = tracer.span("step") {
      val evs = model.changes(1 + i, EventsPerStep, 0.8, 0.1, latest = true)
      val w = scoped("wire")(writeWire(evs, 1))
      val c = scoped(if (timed) "commit" else "warm")(commit())
      if (timed) { s.add("wire", w); s.add("commit", c) } else s.add("warm_commit", c)
      val r = Gen.rng(seed, 1000000L + i)
      val changed = evs.map(_.key).distinct
      scoped(if (timed) "lookup" else "warm") {
        (0 until LookupsPerStep).foreach { _ =>
          lookup(changed(r.nextInt(changed.length)), timed)
        }
        if (i % ScanEvery == 0) scan(timed)
      }
      evs.length
    }

    (0 until WarmSteps).foreach(i => step(i, timed = false))
    scoped("warm")(tracer.span("warm_lookups") {
      val r = Gen.rng(seed, 2000000L)
      (0 until WarmLookups).foreach(_ => lookup(model.live.pick(r), sample = false))
    })
    sync()
    drainListeners()
    triggers.foreach(_.triggers.clear())
    val warmCommits = s.get("warm_commit")
    s.clear()

    // ---- timed phase
    val gc0 = Counters.gcMs
    val fs0 = Counters.fsBytesWritten
    val steps = math.max(MinSteps, math.ceil(seconds / NominalStepS).toInt)
    val t0 = System.nanoTime
    val events = (0 until steps).map(i => step(WarmSteps + i, timed = true)).sum
    val wallS = (System.nanoTime - t0) / 1e9
    val fsBytes = Counters.fsBytesWritten - fs0
    val gcMs = Counters.gcMs - gc0

    // ---- after the timed phase: final state, full-scan bytes, vacuum, space
    val (n, h) = scoped("fullscan")(tracer.span("verify") {
      Digest.ofRows(spark.sql(s"SELECT after.* FROM $table WHERE op <> 'd'")
        .collect().iterator)
    })
    check((n, h) == model.digest, s"final table: got ($n,$h) want ${model.digest}")
    val vacuumMs = {
      val t = System.nanoTime
      tracer.span("sinks.vacuum")(GraftSinkCatalog.sinkFor("bucketed", sinkDir.toString, Map.empty)
        .asInstanceOf[graft.streaming.BucketedMergeSink].vacuum())
      (System.nanoTime - t) / 1e6
    }
    val spaceAmp = tracer.span("space")(Space.amp(env, sinkDir,
      spark.sql(s"SELECT after.* FROM $table WHERE op <> 'd'")))
    drainListeners()

    val commits = s.get("commit")
    val (att, fail) = tally
    val layer = if (!traced) Map.empty[String, Double] else {
      val c = scope("commit")
      val lk = scope("lookup")
      val full = scope("fullscan")
      val trig = triggers.get.triggers.toArray(Array.empty[Map[String, Long]])
        .map(_.getOrElse("triggerExecution", 0L).toDouble).toSeq
      val merges = s.get("merge")
      Map(
        "sources.wire_write_ms_p50" -> Stats.median(s.get("wire")),
        "streaming.trigger_ms_p50" -> Stats.median(trig),
        "streaming.trigger_overhead_ms_p50" ->
          Stats.median(commits.zip(merges).map { case (a, b) => a - b }),
        "streaming.merge_ms_p50" -> Stats.median(merges),
        "streaming.jobs_per_epoch" -> c.jobs.get.toDouble / steps,
        "streaming.stages_per_epoch" -> c.stages.get.toDouble / steps,
        "streaming.tasks_per_epoch" -> c.tasks.get.toDouble / steps,
        "streaming.shuffle_bytes_per_event" -> c.shuffleWrite.get.toDouble / events,
        "streaming.spill_bytes" -> c.spill.get.toDouble,
        "streaming.write_bytes_per_epoch" -> fsBytes.toDouble / steps,
        "streaming.exec_cpu_frac" -> c.cpuNs.get / (commits.sum * 1e6 * cores),
        "sinks.lookup_plan_ms_p50" -> Stats.median(s.get("lookup_plan")),
        "sinks.lookup_exec_ms_p50" -> Stats.median(s.get("lookup_exec")),
        "sinks.lookup_jobs" -> lk.jobs.get.toDouble / s.get("lookup").length,
        "sinks.lookup_read_frac" ->
          (lk.inputBytes.get.toDouble / s.get("lookup").length) / full.inputBytes.get,
        "sinks.scan_ms_p50" -> Stats.median(s.get("scan")),
        "sinks.vacuum_ms" -> vacuumMs,
        "jvm.gc_ms_per_step" -> gcMs.toDouble / steps)
    }
    Result(att, fail,
      e2e = Map("setup_s" -> setupS, "op_p50_ms" -> Stats.median(commits),
        "items_per_s" -> events / wallS),
      layer = layer,
      report = Map(
        "setup_reps_s" -> setupTs, "timed_s" -> wallS, "steps" -> steps,
        "events" -> events, "warm_commit_ms" -> warmCommits,
        "commit_ms" -> commits,
        "commit_p50_ms" -> Stats.median(commits), "commit_n" -> commits.length,
        "commit_p90_ms" -> Stats.percentile(commits, 0.9),
        "lookup_p50_ms" -> Stats.median(s.get("lookup")),
        "lookup_n" -> s.get("lookup").length,
        "lookup_p90_ms" -> Stats.percentile(s.get("lookup"), 0.9),
        "write_bytes_per_event" -> fsBytes.toDouble / events,
        "space_amp" -> spaceAmp,
        "error_rate" -> fail.toDouble / att))
  }

  /** Sum of the optimizer's planning phases of an executed query, ms. */
  def planMs(df: DataFrame): Double = {
    df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
  }
}

/** Space amplification: bytes under a table root ÷ bytes of its
  * readable content written once as one compact parquet file.
  */
object Space {
  def amp(env: Env, root: Path, readable: DataFrame): Double = {
    val out = env.work.resolve("compact-" + root.getFileName)
    readable.coalesce(1).write.parquet(out.toString)
    val r = Counters.dirBytes(root).toDouble / Counters.parquetBytes(out)
    env.deleteDir(out)
    r
  }
}
