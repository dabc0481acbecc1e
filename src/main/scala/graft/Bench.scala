package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftSparkExtensions())
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.queries.QueryContext.dataDir = Some(sfDir) // size-derived params
    // warm-up: JVM/codegen/scan init should not be billed to the first query
    spark.read.parquet(s"$sfDir/orders.parquet").count()
    // contention telemetry: a machine-loaded run inflates every query
    // uniformly (r7 forensics: driver tail 1.37x across unrelated
    // queries) — record system load around the run so a reader can
    // separate contention from regression without tail-diffing
    val loadStart = loadAvg()
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // SPARK_GRAFT_BENCH_REPS > 1: run each query N times and record the
    // MEDIAN — the committed clean-record mode (a contended machine
    // inflates individual samples; the median of 3 discards the outlier,
    // so round-over-round diffs are signal without forensic re-runs).
    // Default 1 rep: the per-round driver pass stays single-shot.
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(_.trim.toIntOption).filter(_ >= 1).getOrElse(1)
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val samples = (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        // noop write forces FULL evaluation of every output column —
        // count() lets Catalyst prune projections, under-measuring
        // projection-heavy queries
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            if (!errors.contains(name)) errors += name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // queries that persist intermediates (LSH signatures, feeds) must
        // not degrade later queries via storage-memory pressure: billed
        // eviction inside a query is real cost, leftover blocks are not
        spark.catalog.clearCache()
        // a failed rep's wall-clock-to-failure is not a sample — the
        // median must mix only successful timings (a query failing on
        // some reps would otherwise report a fail/success blend as a
        // legitimate time); all-reps-failed records NaN, and the name
        // is already in `errors` either way
        if (ok) Some(dt) else None
      }.sorted
      name -> (if (samples.nonEmpty) samples(samples.length / 2)
               else Double.NaN)
    }
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + (if (v.isNaN) "null" else v.toString)
    }.mkString("{", ",", "}")
    val total = results.values.filterNot(_.isNaN).sum
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    // the sink legs run unless SPARK_GRAFT_BENCH_ONLY selects queries
    // without naming them: a targeted A/B stays short, and `{}` / `[]`
    // keep the record's shape
    val ioJson =
      (if (only.forall(_.contains("sink_io"))) sinkIo(spark, sfDir) else Nil)
        .map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val xJson =
      if (only.forall(_.contains("sink_crossover"))) sinkCrossover(spark, reps)
      else "[]"
    val loadEnd = loadAvg()
    val cpus2 = Runtime.getRuntime.availableProcessors()
    // KNOWN-NOISY quarantine, carried IN the record so round-over-round
    // comparison can be computed over the stable set mechanically
    // (adjudicated r9–r14): the Derby-floored JDBC sinks swing ±2–3 s,
    // streaming trigger polls ride poll-interval phase, and the reps=1
    // sink_crossover full-kind 12M leg is page-cache-sensitive. A
    // noisy query's swing is NOT a regression; a STABLE query's is.
    // e_props_end_to_end added r16: it rides the same Derby statement
    // floor as the k_jdbc_* family (+3 s swings observed r15) and was
    // poisoning stable-set deltas — adjudicated in VERDICT.md r15 item 4
    val noisy = Seq("stream_jdbc_sink", "k_jdbc_sink_upsert",
      "k_jdbc_sink_dialects", "k_jdbc_sink_field_filter",
      "s10_logminer_poll_stream", "stream_windowed_agg",
      "s8_pgoutput_tx_stream", "e_props_end_to_end")
    // "sink_crossover" marks the separate crossover grid's reps=1
    // full-kind 12M leg (not a `queries` entry, excluded from totals
    // by construction)
    val noisyJson = (noisy :+ "sink_crossover")
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val stableTotal = results.collect {
      case (k, v) if !v.isNaN && !noisy.contains(k) => v }.sum
    // bench_cpus = the local[N] the run actually used. Absolute times are
    // only comparable between runs with the SAME value: an 8-core run
    // reads ~1.3x slower than a 16-core run uniformly, and table-rewrite
    // legs (the crossover's full sink) degrade super-linearly.
    val line = s"""{"metric":"total","value":$total,"unit":"sec","stable_total":$stableTotal,"noisy":$noisyJson,"queries":$qs,"errors":$errJson,"sink_io_bytes":$ioJson,"sink_crossover":$xJson,"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"host_cpus":$cpus2,"bench_cpus":$cpus,"bench_reps":$reps,"sf":"$sfDir"}"""
    println(line)
    // the driver's BENCH_r*.json keeps only a ~2KB tail of this line, so
    // two-thirds of the per-query history is lost round-over-round; also
    // persist the FULL record (override path via SPARK_GRAFT_BENCH_OUT)
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/latest_times.json"))
      .toAbsolutePath
    try {
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, line + "\n"): Unit
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not persist $out: ${e.getMessage}")
    }
    // COMPACT summary as the LAST stdout line (r15 verdict ask 1): the
    // full line above is ~9 KB with 284 per-query entries and the
    // driver's record keeps only a ~2 KB stdout tail, so it arrived
    // truncated mid-object and round-over-round PERF comparison parsed
    // nothing for two rounds. This totals-only line (< 1 KB) carries
    // every aggregate the comparison needs; the full per-query map
    // stays in the line above and in the persisted record file. Keys
    // are a subset of the full line's — nothing is renamed or removed.
    val summary = s"""{"metric":"total","value":$total,"unit":"sec","stable_total":$stableTotal,"noisy":$noisyJson,"errors":$errJson,"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"host_cpus":$cpus2,"bench_cpus":$cpus,"bench_reps":$reps,"sf":"$sfDir"}"""
    println(summary)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }

  /** `/proc/loadavg` 1/5/15-minute load as a JSON array ("[-1]" where
    * the proc filesystem is unavailable). Relative to `host_cpus`: a
    * 1-minute load well above the core count means OTHER processes were
    * competing for the machine during the run.
    */
  private def loadAvg(): String =
    try {
      val parts = java.nio.file.Files
        .readString(java.nio.file.Paths.get("/proc/loadavg"))
        .trim.split("\\s+").take(3).map(_.toDouble)
      parts.mkString("[", ",", "]")
    } catch { case _: Exception => "[-1]" }

  /** Bytes physically written by each MERGE-sink flavor across the same
    * snapshot + 10 narrow-batch run (the k2_small_batch trio's workload):
    * wall-clock at local scale is dominated by fixed per-epoch costs, but
    * write I/O is the quantity that scales with table size — the full
    * sink's is O(epochs x table), the bucketed sink's O(epochs x touched
    * buckets), the LSM sink's O(epochs x batch + compactions). Measured
    * as the total size of every file ever written under the sink dir
    * (dead versions included — vacuum is not run).
    */
  private def sinkIo(spark: org.apache.spark.sql.SparkSession,
                     sfDir: String): Seq[(String, Long)] = {
    import org.apache.spark.sql.functions.col
    import graft.sources.{ChangeFeedGen, Tables}
    val fd = ChangeFeedGen.standardFeed(
      Tables.load(spark, sfDir, "orders"), "orders").cache()
    try {
      // bucket count follows the table (heuristicBuckets, the r7 10×
      // fix): a pinned count made bucketed sink_io grow 30× for 10× data
      // because per-bucket bytes grew with the table. Small local target
      // (2k rows/bucket) keeps the SHAPE of the production rule —
      // constant per-bucket size — at bench scale.
      val hb = graft.streaming.CdcSink.heuristicBuckets(fd.count(), 2000L)
      def run(mk: String => graft.streaming.CdcSink): Long = {
        val dir = java.nio.file.Files.createTempDirectory("bench-sink")
        val sink = mk(dir.toString)
        sink.merge(fd.filter(col("op") === "r"), 0L)
        (1 to 10).foreach { e =>
          sink.merge(fd.filter(col("op") === "u" &&
            col("key.o_orderkey") % 1000 === (e - 1)), e.toLong)
        }
        val total = scala.util.Using.resource(
          java.nio.file.Files.walk(dir)) { st =>
          st.filter(java.nio.file.Files.isRegularFile(_))
            .mapToLong(java.nio.file.Files.size(_)).sum()
        }
        scala.util.Using.resource(java.nio.file.Files.walk(dir)) { st =>
          st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(java.nio.file.Files.deleteIfExists(_): Unit)
        }
        total
      }
      Seq(
        "full" -> run(d => new graft.streaming.MergeSink(d)),
        "bucketed" -> run(d =>
          new graft.streaming.BucketedMergeSink(d, buckets = hb)),
        "lsm" -> run(d =>
          new graft.streaming.LsmMergeSink(d, buckets = hb, compactEvery = 8)))
    } finally fd.unpersist()
  }

  /** Crossover measurement for the sink trio BY WALL CLOCK: the identical
    * narrow-update-epoch workload against synthetic state tables of
    * growing size (high-entropy 64-char payload so parquet cannot
    * compress the size away). The full-state sink's per-epoch cost is
    * O(|table|) — it must lose past some state size; the bucketed/LSM
    * sinks' is O(touched buckets) / O(|batch|). This measures WHERE, so
    * the "full wins at sf0.1" caveat becomes a bounded claim with a
    * measured boundary instead of an extrapolation. Sizes via
    * SPARK_GRAFT_CROSSOVER_ROWS (comma-separated row counts); snapshot
    * epoch excluded from the timing (identical O(table) for all three).
    *
    * Measurement discipline (the r11 page-cache caveat, closed): under
    * clean-record mode (SPARK_GRAFT_BENCH_REPS >= 2) each leg runs ONE
    * untimed warm-up epoch — absorbing the cold-page-cache read of the
    * freshly written snapshot, which inflated reps=1 numbers up to 4x —
    * and then reports the MEDIAN of 3 timed epochs. The driver's
    * single-shot pass keeps the cheap 2-epoch mean-free shape (median
    * of 2 = upper sample) so per-round cost is unchanged.
    */
  private def sinkCrossover(
      spark: org.apache.spark.sql.SparkSession, reps: Int): String = {
    import org.apache.spark.sql.functions._
    // defaults bracket the claim: 200k rows (~20 MB — around the sf0.1
    // scale where r2's caveat said full still wins) and 24M rows (~2.7 GB
    // raw — the "several-GB" state the sinks exist for). One-off 32M-row
    // calibration on this host: full 93.6 s/epoch vs bucketed 5.2 s vs
    // LSM 4.3 s (~20x) — per-epoch cost tracking the table vs the batch.
    // 12M rows (~1.4 GB raw) for the big leg: large enough that the
    // full sink's per-epoch rewrite visibly tracks table size (vs the
    // LSM's batch-sized deltas), small enough that deferred-writeback
    // noise doesn't swamp the median (measured at 24M: 20→31 s across
    // idle back-to-back runs purely from page-cache state; the r11
    // verdict sanctioned "median-of-N at a smaller state")
    val sizes = sys.env.get("SPARK_GRAFT_CROSSOVER_ROWS")
      .map(_.split(",").toSeq.map(_.trim.toLong).filter(_ > 0))
      .getOrElse(Seq(200000L, 12000000L))
    // clean-record mode (reps >= 2): 2 warmup epochs absorb merge-path
    // JIT/codegen, median-of-5 absorbs per-epoch jitter; the default
    // per-round driver pass stays cheap
    val warmupEpochs = if (reps >= 2) 2 else 0
    val timedEpochs = if (reps >= 2) 5 else 2
    val par = spark.sparkContext.defaultParallelism
    // update epochs touch n/1e6 keys (a realistic CDC trickle: tens of
    // keys per trigger) — the shape where bucket pruning matters; a batch
    // of thousands of UNIFORM keys would touch every hash bucket and is
    // not the workload these sinks exist for
    def frame(n: Long, e: Long) = {
      val ids =
        if (e == 0L) spark.range(0L, n, 1L, par)
        else spark.range(0L, n, 1L, par)
          .filter(pmod(col("id"), lit(1000000L)) === e)
      val payload = struct(col("id").as("k"), (col("id") * 7 + e).as("v"),
        concat(md5(col("id").cast("string")),
          md5((col("id") * 31 + 7).cast("string")),
          md5((col("id") * 17 + 3).cast("string"))).as("pad"))
      ids.select(
        struct(col("id").as("k")).as("key"),
        when(lit(false), payload).as("before"), // typed null image
        payload.as("after"),
        lit(if (e == 0L) "r" else "u").as("op"),
        struct((col("id") * 100 + e).as("pos")).as("source"),
        lit(null).cast(graft.model.Envelope.transactionSchema).as("transaction"),
        (col("id") * 100 + e).as("ts_ms"))
    }
    val entries = sizes.map { n =>
      val perSink = Seq[(String, String => graft.streaming.CdcSink)](
        "full" -> (d => new graft.streaming.MergeSink(d)),
        "bucketed" -> (d => new graft.streaming.BucketedMergeSink(d, buckets = 256)),
        "lsm" -> (d => new graft.streaming.LsmMergeSink(d, buckets = 256,
          compactEvery = 8)))
        .map { case (nm, mk) =>
          val dir = java.nio.file.Files.createTempDirectory(s"xover-$nm")
          try {
            val sink = mk(dir.toString)
            // each timed epoch INCLUDES its own writeback flush: without
            // the sync, an epoch's dirty pages drain lazily during LATER
            // epochs (or a later sink's timing), so medians wandered ±50%
            // across idle back-to-back runs; with it, every epoch pays
            // its own I/O and the numbers reproduce
            def flush(): Unit = {
              new ProcessBuilder("sync").start().waitFor(); ()
            }
            sink.merge(frame(n, 0L), 0L)
            (1 to warmupEpochs).foreach(e =>
              sink.merge(frame(n, e.toLong), e.toLong))
            flush()
            val samples = (1 to timedEpochs).map { i =>
              val e = warmupEpochs + i
              val t0 = System.nanoTime()
              sink.merge(frame(n, e.toLong), e.toLong)
              flush()
              (System.nanoTime() - t0) / 1e9
            }.sorted
            s""""$nm":${samples(samples.length / 2)}"""
          } finally {
            scala.util.Using.resource(java.nio.file.Files.walk(dir)) { st =>
              st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
                .forEach(java.nio.file.Files.deleteIfExists(_): Unit)
            }
          }
        }
      s"""{"rows":$n,${perSink.mkString(",")}}"""
    }
    entries.mkString("[", ",", "]")
  }
}
