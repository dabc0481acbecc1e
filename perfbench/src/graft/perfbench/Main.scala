package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run measured and checked. `e2e` and `layer` hold
  * (name -> value); `report` holds every named metric of the run with
  * its sample count, for the report line.
  */
final case class Result(attempted: Long, failed: Long,
                        e2e: Map[String, Double],
                        layer: Map[String, Double],
                        report: Map[String, Any])

/** Shared state of one run: the session, the seed, the tracer and the
  * per-scope listener (traced runs only), and the correctness tally.
  */
final class Env(val spark: SparkSession, val seed: Long, val seconds: Int,
                val cores: Int, val work: Path, val traced: Boolean) {
  val tracer = new Tracer(traced, spark.sparkContext)
  val listener: Option[ScopeListener] =
    if (traced) Some(new ScopeListener(tracer)) else None
  val triggers: Option[TriggerListener] =
    if (traced) Some(new TriggerListener) else None
  listener.foreach(spark.sparkContext.addSparkListener)
  triggers.foreach(spark.streams.addListener)

  private var attempted = 0L
  private var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Count one checked operation; a false check is one failure. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.length < 20) failures += what }
  }
  def tally: (Long, Long) = (attempted, failed)

  /** Run `body` with its Spark jobs attributed to `scope`. */
  def scoped[T](scope: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("perfbench.scope")
    sc.setLocalProperty("perfbench.scope", scope)
    try body finally sc.setLocalProperty("perfbench.scope", prev)
  }

  def scope(name: String): ScopeTotals =
    listener.map(_.totals(name)).getOrElse(new ScopeTotals)

  /** Wait until the listener bus has delivered every event so far. */
  def drainListeners(): Unit =
    if (traced) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def dir(name: String): Path = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d
  }

  def deleteDir(d: Path): Unit = Main.deleteTree(d)

  /** Flush dirty pages once between set-up and the timed phase. */
  def sync(): Unit = tracer.span("sync") {
    new ProcessBuilder("sync").inheritIO().start().waitFor(): Unit
  }

  /** Median wall seconds of `reps` set-ups (each into fresh directories;
    * the last one's state is the one measured afterwards).
    */
  def setupReps(reps: Int)(setup: Int => Unit): (Double, Seq[Double]) = {
    val ts = (0 until reps).map { i =>
      val t0 = System.nanoTime
      scoped("setup")(tracer.span("setup")(setup(i)))
      (System.nanoTime - t0) / 1e9
    }
    (Stats.median(ts), ts)
  }
}

object Main {
  /** Per-layer metrics, with units, in the order they are reported. A
    * workload that does not exercise a layer reports 0 for it.
    */
  val layerUnits: Seq[(String, String)] = Seq(
    "sources.wire_write_ms_p50" -> "ms",
    "streaming.trigger_ms_p50" -> "ms",
    "streaming.trigger_overhead_ms_p50" -> "ms",
    "streaming.merge_ms_p50" -> "ms",
    "streaming.jobs_per_epoch" -> "count",
    "streaming.stages_per_epoch" -> "count",
    "streaming.tasks_per_epoch" -> "count",
    "streaming.shuffle_bytes_per_event" -> "B/event",
    "streaming.spill_bytes" -> "B",
    "streaming.write_bytes_per_epoch" -> "B",
    "streaming.exec_cpu_frac" -> "ratio",
    "sinks.lookup_plan_ms_p50" -> "ms",
    "sinks.lookup_exec_ms_p50" -> "ms",
    "sinks.lookup_jobs" -> "count",
    "sinks.lookup_read_frac" -> "ratio",
    "sinks.scan_ms_p50" -> "ms",
    "sinks.history_read_ms_p50" -> "ms",
    "sinks.vacuum_ms" -> "ms",
    "analytics.minhash_ms" -> "ms",
    "analytics.clusters_ms" -> "ms",
    "analytics.decontaminate_ms" -> "ms",
    "analytics.repetition_stats_ms" -> "ms",
    "analytics.shuffle_bytes" -> "B",
    "analytics.exec_cpu_frac" -> "ratio",
    "jvm.gc_ms_per_step" -> "ms")

  val e2eUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "items_per_s" -> "1/s")

  def deleteTree(d: Path): Unit =
    if (Files.exists(d)) {
      val s = Files.walk(d)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p): Unit)
      finally s.close()
    }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    require(i >= 0 && i + 1 < args.length, s"missing $name")
    args(i + 1)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.GraftSparkExtensions())
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.catalog.graft",
        classOf[graft.sinks.v2.GraftSinkCatalog].getName)
      .config("spark.sql.catalog.graft.root", work.resolve("catalog").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toInt
    val traced = arg(args, "--trace") == "1"
    val work = Paths.get(arg(args, "--work")).toAbsolutePath
    val cores = arg(args, "--cores").toInt
    val traceFile = Paths.get(arg(args, "--trace-file"))
    Files.createDirectories(work)

    val t0 = System.nanoTime
    val spark = session(cores, work)
    val sessionS = (System.nanoTime - t0) / 1e9
    val env = new Env(spark, seed, seconds, cores, work, traced)
    val gc0 = Counters.gcMs
    val r = workload match {
      case "tail" => Tail.run(env)
      case "backfill" => Backfill.run(env)
      case "corpus" => Corpus.run(env)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val out = Json.render(Map(
      "attempted" -> r.attempted, "failed" -> r.failed,
      "e2e" -> Json.metrics(e2eUnits, r.e2e),
      "layer" -> Json.metrics(layerUnits, r.layer),
      "report" -> (r.report ++ Map(
        "workload" -> workload, "seed" -> seed, "cores" -> cores,
        "traced" -> traced, "session_start_s" -> sessionS,
        "gc_ms_total" -> (Counters.gcMs - gc0),
        "failures" -> env.failures.toSeq))))
    if (traced) {
      val sum = env.tracer.summary.map { case (n, c, tot, self) =>
        Map("name" -> n, "count" -> c, "total_ms" -> tot, "self_ms" -> self)
      }
      val spans = env.tracer.all.map(s => Seq(s.id, s.parent, s.name,
        s.start / 1e6, s.end / 1e6))
      Files.writeString(traceFile, Json.render(Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "cores" -> cores,
        "layer" -> Json.metrics(layerUnits, r.layer),
        "e2e_traced" -> Json.metrics(e2eUnits, r.e2e),
        "report" -> r.report,
        "span_summary" -> sum,
        "span_fields" -> Seq("id", "parent", "name", "start_ms", "end_ms"),
        "spans" -> spans)) + "\n")
    }
    spark.stop()
    println("PERFBENCH_RESULT " + out)
    System.out.flush()
  }
}

/** Minimal JSON rendering of maps, sequences, strings and numbers. */
object Json {
  def metrics(units: Seq[(String, String)], vals: Map[String, Double]): Map[String, Any] = {
    val unknown = vals.keySet -- units.map(_._1)
    require(unknown.isEmpty, s"unlisted metrics $unknown")
    units.map { case (n, u) =>
      n -> Map("value" -> vals.getOrElse(n, 0.0), "unit" -> u)
    }.toMap
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric $d")
      d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1)
        .map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
