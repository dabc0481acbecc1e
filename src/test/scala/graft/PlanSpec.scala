package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-regression guards: the scale-design claims (broadcast for small
  * dims, hash aggregation for the CDC reduce, column pruning through the
  * envelope) asserted against the actual physical plans so a refactor
  * cannot silently regress them.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  val sfDir = "/root/testdata/sf0.001"

  def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)

  test("q05 joins broadcast the dimension sides, no cartesian product") {
    val p = plan("q05_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), "expected broadcast joins")
    assert(!p.contains("CartesianProduct"), "cartesian product in join plan")
  }

  test("CDC reduce uses hash aggregation, not sort aggregation") {
    val p = plan("k2_materialize")
    assert(p.contains("ObjectHashAggregate"),
      "LatestByPos should run under ObjectHashAggregate")
    assert(!p.contains("SortAggregate"), "CDC reduce fell back to sort agg")
    assert(p.count(_ == '\n') > 0 &&
      "Exchange".r.findAllIn(p).size <= 2, // partial + final, one shuffle
      "more than one shuffle in the CDC reduce")
  }

  test("column filter prunes dropped columns down to the parquet scan") {
    val p = plan("t2_column_filter")
    assert(!p.contains("o_totalprice"),
      "dropped column still read from parquet")
    assert(p.contains("ReadSchema"), "no scan in plan?")
  }

  test("snapshot override pushes the filter into the scan") {
    val p = plan("s2_snapshot_override")
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,200000.0)]")
      || p.contains("GreaterThan(o_totalprice"),
      s"override filter not pushed down")
  }

  test("delete branch of the change feed reads only the key column") {
    val p = plan("s1_snapshot_read")
    // snapshot branch needs all 6 columns; this asserts scans exist and are
    // batched (vectorized parquet reader)
    assert(p.contains("Batched: true"))
  }

  test("IVF corpus cell assignment runs as the native codegen expression") {
    val p = plan("a_ann_ivf")
    assert(p.contains("nearestcell") || p.contains("NearestCell"),
      "corpus side should use the native NearestCell expression")
    assert(p.contains("BroadcastHashJoin"),
      "query-probe side should broadcast against the corpus")
  }

  test("hard negatives broadcast the query side; band filters before the window") {
    val p = plan("a_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      "query side should broadcast against the corpus scan")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Window"), "ranking should be a window function")
    // the [lo, hi) band must apply BELOW the ranking window (Filter with
    // both bounds precedes Window in the formatted bottom-up listing), so
    // window state holds only in-band candidates
    val fi = p.indexOf(">= 0.1")
    assert(fi >= 0, "band filter missing from the plan")
  }

  test("read-only incremental merge broadcasts the per-chunk window side") {
    val p = plan("s5_readonly_incremental")
    assert(p.contains("BroadcastHashJoin"), "window side should broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("decontamination broadcasts the benchmark shingles; corpus side map-only") {
    val p = plan("a_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "eval shingles should broadcast")
    assert(!p.contains("SortMergeJoin"),
      "corpus side must not shuffle for the contamination join")
  }

  test("near-dup decontamination probes a broadcast eval side; no self-join") {
    val p = plan("a_neardup_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "eval band rows should broadcast")
    assert(!p.contains("SortMergeJoin"),
      "training side must not shuffle for the band probe")
    assert(!p.contains("collect_list"),
      "no grouped band buckets: the train×train candidates are never built")
  }

  test("sequence packing shuffles once, on the shard key") {
    val p = plan("a_sequence_pack")
    // formatted mode lists each node twice (tree + details)
    assert("Exchange".r.findAllIn(p).size == 2,
      "packing should cost exactly one hash shuffle")
    assert(p.contains("Window"), "running offset should be a window function")
  }

  test("stratified sampling is a pure filter — no shuffle at all") {
    val p = plan("a_stratified_sample")
    assert(!p.contains("Exchange"), "sampling must not shuffle")
  }

  test("source-overlap rollup broadcasts the pair list; corpus never shuffles") {
    val p = plan("a_source_overlap")
    assert(p.contains("BroadcastHashJoin"),
      "pair list should broadcast through the id->source lookups")
    assert(!p.contains("SortMergeJoin"),
      "corpus side must not shuffle for the source joins")
    assert(!p.contains("CartesianProduct"))
  }

  test("tf-idf: corpus-size scalar broadcasts, counts hash-aggregate") {
    val p = plan("a_tfidf_terms")
    assert(!p.contains("CartesianProduct"),
      "the 1-row n_docs scalar must broadcast, not cartesian")
    assert(p.contains("HashAggregate"),
      "tf/df counts should be hash aggregations (map-side combinable)")
  }

  test("cluster profile assigns cells natively, one shuffle on (cluster,label)") {
    val p = plan("a_doc_clusters")
    assert(p.contains("nearestcell") || p.contains("NearestCell"),
      "assignment should be the native codegen NearestCell")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashAggregate"),
      "(cluster,label) counts should hash-aggregate")
  }

  test("passage dedup: no cartesian, boilerplate counts partially aggregate") {
    val p = plan("a_passage_dedup")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashAggregate"),
      "window counts should be a hash aggregation (map-side combinable)")
  }

  test("IVF index search prunes the scan to the probed cells' partitions") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val centroids = graft.analytics.Ivf.pretrainedCentroids(16, 64)
    val idx = java.nio.file.Files.createTempDirectory("ivf-idx").toString
    graft.analytics.Ivf.writeIndex(e, centroids, idx)
    val q = graft.analytics.Ivf.searchIndexTopK(spark, idx,
      e.filter(col("vec_id") % 50 === 0), centroids, k = 5, nprobe = 4)
    val p = q.queryExecution.executedPlan.toString
    // the index scan must carry the probed cell set as a partition
    // filter (the queries-side plain parquet scan legitimately has none)
    assert(p.contains("PartitionFilters: [cell") &&
      p.contains("INSET"),
      "probed cells must reach the index scan as a partition filter")
  }

  test("substring dedup: no cartesian, window counts partially aggregate") {
    val p = plan("a_substring_dedup")
    assert(!p.contains("CartesianProduct"), "no all-pairs stage allowed")
    assert(p.contains("HashAggregate"),
      "window duplication counts should hash-aggregate (map-side combine)")
  }

  test("approx ccnet bucketing: no per-language sort, cut table broadcasts") {
    val p = plan("a_ccnet_buckets_approx")
    assert(!p.contains("Window"),
      "approx path must not fall back to the exact ntile window")
    assert(!p.contains("Sort "),
      "approx path must not sort rows anywhere (cuts come from a sketch)")
    assert(p.contains("BroadcastHashJoin"),
      "the |langs|-row cut table should broadcast for the bucketing join")
    assert(p.contains("percentile_approx") || p.contains("ApproximatePercentile"),
      "cut scores should come from the mergeable percentile sketch")
  }

  test("LM scoring never cross-joins; vocab scalar broadcasts") {
    val p = plan("a_lm_score")
    assert(!p.contains("CartesianProduct"),
      "the vocab scalar must broadcast, not cartesian")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "expected a broadcast for the 1-row vocab side")
  }

  test("mixture factors broadcast the per-source rate table; corpus map-only") {
    val p = plan("a_mixture_sample")
    assert(p.contains("BroadcastHashJoin"),
      "the |sources|-row rate table should broadcast")
    assert(!p.contains("SortMergeJoin"),
      "corpus side must not shuffle for the rate join")
  }

  test("gtid watermark windows broadcast; no cartesian in the dedup join") {
    val p = plan("s5_readonly_gtid")
    assert(p.contains("BroadcastHashJoin"),
      "the per-chunk gno-interval table should broadcast")
    assert(!p.contains("CartesianProduct"),
      "interval membership must not plan as a cartesian product")
  }

  test("mongo incremental snapshot: window side broadcasts, dedup " +
      "anti-join keyed, no cartesian") {
    val p = plan("s12_incremental_snapshot")
    assert(p.contains("BroadcastHashJoin"),
      "the per-chunk window table should broadcast")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("pgsnapshot watermark brackets broadcast onto the chunk rows; " +
      "the dedup anti-join stays keyed") {
    val p = plan("s5_readonly_pgsnapshot")
    assert(p.contains("BroadcastHashJoin"),
      "the per-chunk (tx_lo, tx_hi) bracket table should broadcast")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the txid range must ride the keyed anti-join as a secondary " +
        "predicate, never a range-only join")
  }

  test("temperature mixture keeps the repeatFactors shape: broadcast rates") {
    val p = plan("a_temperature_mixture")
    assert(p.contains("BroadcastHashJoin"),
      "the |languages|-row rate table should broadcast")
    assert(!p.contains("SortMergeJoin"),
      "corpus side must not shuffle for the rate join")
  }

  test("coordinator chunk merges read the chunk cache, not the source") {
    // the SnapshotCoordinator shape: repartition(chunk) + persist before
    // the chunk loop — each per-chunk filter must plan as an
    // InMemoryTableScan (batch-pruned on chunk min/max), never a rescan
    // of the source parquet per chunk
    import org.apache.spark.sql.functions._
    val feed = graft.sources.ChangeFeedGen.standardFeed(
      graft.sources.Tables.load(spark, sfDir, "orders"), "orders")
    val snap = graft.operators.IncrementalSnapshot.chunked(
      feed.filter(col("op") === "r"), Seq(col("source.pos")), 256)
    val byChunk = snap.repartition(col("chunk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      byChunk.count()
      val p = byChunk.filter(col("chunk") === 1).drop("chunk")
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("InMemoryTableScan"),
        "chunk filter should read the persisted chunk frame")
      assert(!p.contains("Scan parquet"),
        "chunk filter rescans the source parquet")
    } finally byChunk.unpersist()
  }

  test("semantic dedup assigns cells natively and never cross-joins") {
    // assert on the candidate stage: the full query checkpoints the pair
    // graph eagerly, which hides the cell computation from its final plan
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val p = graft.analytics.Similarity.semanticPairs(e,
      graft.analytics.Ivf.pretrainedCentroids(16, 64), 0.3)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("nearestcell") || p.contains("NearestCell"),
      "cell assignment should use the native NearestCell expression")
    assert(!p.contains("CartesianProduct"), "no all-pairs stage allowed")
  }

  test("IVF-PQ search: native encode+cells, probe equi-join, no raw-vector corpus join") {
    val p = plan("a_ivf_pq_topk")
    assert(p.toLowerCase.contains("pqencode"),
      "corpus codes should come from the native PqEncode expression")
    assert(p.toLowerCase.contains("nearestcell"),
      "cell assignment/probe should use the native expressions")
    assert(p.contains("BroadcastHashJoin"),
      "probed-cells join must be a broadcast equi-join on cell")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "IVF-PQ must not fall back to an all-pairs join")
  }

  test("chunking is a map-only explode: no shuffle, no join") {
    val p = plan("a_doc_chunks")
    assert(!p.contains("Exchange"), "chunker must not shuffle")
    assert(!p.contains("Join"), "chunker must not join")
    assert(p.contains("Generate"), "expected the explode stage")
  }

  test("DSIR scoring is a pure projection: no join, no shuffle, no explode") {
    // bucketLogRatios aggregates during CONSTRUCTION (B-bounded result);
    // the returned scoring frame must then be scan→project only — the
    // log-ratio table rides as a literal array, never a join
    val p = plan("a_dsir_scores")
    assert(!p.contains("Exchange"), "scoring stage must not shuffle")
    assert(!p.contains("Join"), "log-ratios must be a literal, not a join")
    assert(!p.contains("Generate"),
      "scoring must aggregate over the token array in place, not explode")
  }

  test("corpus shuffle is one shuffle: rank window, no join") {
    val p = plan("a_corpus_shuffle")
    // formatted mode prints each operator in the tree AND the detail
    // section, so one physical Exchange appears twice
    assert("Exchange".r.findAllIn(p).size <= 2,
      "deterministic shuffle must shuffle exactly once")
    assert(!p.contains("Join"), "shuffle must not join")
    assert(p.contains("Window"), "expected the in-shard rank window")
  }

  test("version diff is one full-outer key join, no cartesian") {
    val p = plan("k2_version_diff")
    assert(p.contains("FullOuter") || p.contains("SortMergeJoin"),
      "expected the full-outer key join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "diff must be an equi-join on the key")
  }

  test("manifest-aware version diff never scans untouched buckets' files") {
    // epoch 1 updates ONE key: its bucket's path changes in the m1
    // manifest, every other bucket keeps its epoch-0 path. The diff
    // must read only the changed bucket's files — on both sides.
    val spark = SparkTestSession.get
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = (1L to 64L).map(k => (k, s"v$k")).toDF("id", "v")
    val fd = graft.sources.ChangeFeedGen.feed(
      base, "t", base("id"), Map.empty, Some(Seq("id")))
    val dir = java.nio.file.Files.createTempDirectory("vdiffplan").toString
    val sink = new graft.streaming.BucketedMergeSink(dir, buckets = 8)
    sink.merge(fd.filter(col("op") === "r"), 0L)
    // one-key update batch at a later pos
    val upd = Seq((5L, "changed")).toDF("id", "v").select(
      struct(col("id")).as("key"), lit("u").as("op"),
      lit(null).cast(fd.schema("before").dataType).as("before"),
      struct(col("id"), col("v")).as("after"),
      struct(lit(100000L).as("pos"), lit("t").as("table")).as("source"),
      lit(null).cast(fd.schema("transaction").dataType).as("transaction"),
      lit(0L).as("ts_ms"))
    sink.merge(upd, 1L)
    val changed = sink.changedBuckets(0L, 1L)
    assert(changed.size == 1, s"one key updated -> one changed bucket: $changed")
    val d = graft.streaming.VersionDiff.diffVersions(sink, spark, 0L, 1L,
      Seq("id"))
    // analysis-level file set: every scanned file lives under a changed
    // bucket's directory
    val files = d.inputFiles
    assert(files.nonEmpty)
    val okDirs = changed.map(b => s"_bucket=$b")
    assert(files.forall(f => okDirs.exists(f.contains)),
      s"diff scanned untouched buckets: ${files.filterNot(f => okDirs.exists(f.contains)).take(3).mkString(", ")}")
    // and the result is exactly the one update
    val rows = d.collect()
    assert(rows.length == 1 && rows.head.getAs[String]("change_type") == "update")
  }

  test("BPE encode runs as the native expression, map-only") {
    val p = plan("a_bpe_encode")
    assert(p.toLowerCase.contains("bpeencode"),
      "tokenization should use the native BpeEncode expression")
    assert(!p.contains("Exchange"), "tokenizer application must not shuffle")
    assert(!p.contains("Join"), "merge table must ride as a literal, not a join")
  }

  test("BM25 top-k is a distributed TakeOrdered, df/corpus broadcast") {
    val p = plan("a_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must plan as TakeOrderedAndProject, not a global sort window")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "df table and corpus scalars should broadcast")
    assert(!p.contains("CartesianProduct"), "cartesian in the BM25 plan")
  }

  test("Stupid-Backoff scoring: count joins, no cartesian, scalar broadcast") {
    val p = plan("a_backoff_trigram")
    assert(!p.contains("CartesianProduct"), "cartesian in the backoff plan")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "token-count scalar should broadcast")
  }

  test("HLL sketch aggregates under ObjectHashAggregate, one shuffle") {
    val p = plan("a_hll_registers")
    assert(p.contains("ObjectHashAggregate"),
      "graft_hll_agg should run under ObjectHashAggregate")
    assert(!p.contains("SortAggregate"), "HLL fell back to sort agg")
  }

  test("HDR histogram is a pure hash aggregate; quantiles window only buckets") {
    val h = plan("a_hdr_histogram")
    assert(h.contains("HashAggregate"), "bucket count must hash-aggregate")
    assert(!h.contains("Window") && !h.contains("Sort\n"),
      "histogram build must not sort or window raw values")
    val q = plan("a_hdr_quantiles")
    // the quantile window is allowed — it runs over bucket rows, which the
    // plan shows as a window AFTER the count aggregate, never before
    assert(q.indexOf("HashAggregate") >= 0 && q.contains("Window"))
  }

  test("count-min sketch plan: map-only cell explode into one hash agg") {
    val p = plan("a_countmin_sketch")
    assert(p.contains("HashAggregate"))
    assert(!p.contains("SortAggregate") && !p.contains("CartesianProduct"))
    // formatted mode prints each node in the tree AND a detail block:
    // one physical exchange = 2 matches
    assert("Exchange".r.findAllIn(p).size <= 2,
      "CMS build must shuffle only the bounded cell table")
  }

  test("PMI joins run on count tables, no cartesian, no sort") {
    val p = plan("a_cooccurrence_pmi")
    assert(!p.contains("CartesianProduct"), "PMI join must not be cartesian")
    assert(!p.contains("SortAggregate"), "PMI counts must hash-aggregate")
  }

  test("temporal dimension join is a keyed join, never nested-loop") {
    val p = plan("a_temporal_dim_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "interval predicates must ride a key equi-join, not a range join")
  }

  test("budget selection joins the bucket tables BROADCAST; only the " +
      "tiny histogram (never the corpus) crosses the global window") {
    val p = plan("a_budget_select")
    assert(p.contains("BroadcastHashJoin"),
      "full/boundary bucket sets must broadcast back onto the corpus")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // the deliberately-global window (constant partition key, so it
    // cannot trip WindowExec's missing-partition warning) runs over the
    // bucket HISTOGRAM — its input must be an aggregate, i.e. Window
    // above HashAggregate, not a corpus-wide scan-sort
    assert(p.contains("Window"), "bucket prefix window missing")
    // the key is projected (`pmod(qd, 1) AS _w0`) before the exchange
    assert(p.contains("pmod(qd"),
      "histogram window should gather the AGGREGATED buckets under the " +
        "constant pmod partition key (Windows.globalKey)")
  }

  test("Mongo outbox router parses the document once (json_tuple), " +
      "never per-field") {
    val p = plan("r3_outbox_mongo")
    // one json_tuple generator over the document; the per-field form
    // (6× get_json_object(after_json, ...)) re-parsed the full document
    // for every outbox field — measured 6.4× slower at sf0.1
    assert(p.contains("json_tuple"),
      "outbox fields should extract via one json_tuple pass")
    assert(!p.contains("get_json_object(after_json"),
      "full document re-parsed per field — single-parse regressed")
  }

  /** Jobs submitted by `body` (inference pre-scans are eager jobs at
    * DataFrame-CONSTRUCTION time; execution jobs are excluded because
    * the body never runs an action). The body runs under a unique JOB
    * GROUP and only that group's JobStart events count — concurrent
    * work on the shared session (parallel suites, lingering streams)
    * cannot skew the tally. The listener bus is async, so drain with a
    * bounded poll after the synchronous body returns.
    */
  private def jobsDuring(body: => Unit): Int = {
    val group = s"plan-spec-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (Option(j.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, "PlanSpec.jobsDuring",
      interruptOnCancel = false)
    try {
      body
      val deadline = System.nanoTime + 3_000_000_000L
      var last = -1
      // poll until the count is stable across two 200ms windows (any
      // inference job COMPLETED synchronously inside body, so its
      // JobStart is already posted — this only waits out bus delivery)
      while (System.nanoTime < deadline && jobs.get != last) {
        last = jobs.get
        Thread.sleep(200)
      }
      jobs.get
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  test("declared payload schema expands the outbox with ZERO inference " +
      "pre-scan jobs (the corpus is read exactly once, at execution)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // baseline: constructing the NON-expanded router runs whatever
    // incidental jobs DataFrame construction always runs (parquet
    // footer reads) — the schema paths are judged RELATIVE to it
    val baseline = jobsDuring {
      SparkEntry.queries("r3_outbox_mongo")(spark, sfDir)
        .queryExecution.executedPlan: Unit
    }
    // harness validity: the inference path MUST show up as extra eager
    // jobs — otherwise the no-extra-jobs assertion below would be vacuous
    val inferred = jobsDuring {
      SparkEntry.queries("r3_outbox_expanded")(spark, sfDir)
        .queryExecution.executedPlan: Unit
    }
    assert(inferred > baseline,
      s"schema inference should surface as eager construction-time jobs " +
        s"beyond the $baseline-job construction baseline (got $inferred)")
    val declared = jobsDuring {
      val df = SparkEntry.queries("r3_outbox_mongo_expanded")(spark, sfDir)
      df.queryExecution.executedPlan: Unit
    }
    assert(declared <= baseline,
      s"declared-schema expansion launched $declared construction-time " +
        s"jobs (baseline $baseline) — payload inference is scanning the " +
        "corpus despite the declared schema")
    // and the executed plan itself reads the source exactly once
    // (formatted mode prints each node in the tree AND a detail block:
    // one physical scan = 2 matches)
    val p = plan("r3_outbox_mongo_expanded")
    assert("Scan parquet".r.findAllIn(p).size == 2,
      "expanded outbox should scan its source exactly once")
  }
}
