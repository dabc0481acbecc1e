package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for corpus pipelines: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash. Designed so the only shuffles are keyed by content
  * hash / band bucket — no cross joins of the full corpus at scale.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the smallest doc_id as the
    * canonical representative. One map-side-combinable aggregation.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** Token-set Jaccard similarity of two text columns. */
  def jaccard(a: Column, b: Column): Column = {
    val ta = array_distinct(split(a, " "))
    val tb = array_distinct(split(b, " "))
    size(array_intersect(ta, tb)).cast("double") /
      size(array_union(ta, tb)).cast("double")
  }

  /** Character n-gram (shingle) set of a text column — the
    * tokenization-robust dedup unit: catches near-dups that word-level
    * Jaccard misses under punctuation/whitespace drift. Pure codegen
    * (sequence + transform + substr), no UDF; texts shorter than `n`
    * contribute their whole text as the single shingle.
    */
  def charNgrams(text: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => text.substr(i, lit(n))))

  /** Candidate-pair Jaccard within blocking buckets: only pairs sharing
    * `bucket` are compared (at scale: one shuffle on the bucket key; bucket
    * by LSH band or fingerprint prefix, never a full cross join).
    * Word-token variant; see `jaccardPairsBy` for other shingle units.
    */
  def jaccardPairs(docs: DataFrame, bucket: Column, minJaccard: Double): DataFrame =
    jaccardPairsBy(docs, bucket,
      array_distinct(split(col("text"), " ")), minJaccard)

  /** Jaccard candidate pairs over an arbitrary shingle-set expression
    * (word tokens, char n-grams, …) within blocking buckets.
    *
    * Same shape as the LSH candidate stage: shingle ONCE, shuffle each
    * doc once on its bucket, emit each bucket's pairwise combinations
    * from the grouped member list — a bucket self-join would evaluate
    * the shingling in both branches and shuffle twice. Each bucket's
    * members materialize in one aggregation row, which content-based
    * blocking keeps small (a bucket IS a near-dup candidate set);
    * quadratic work per bucket is inherent either way.
    *
    * A NULL bucket means "no blocking key" (e.g. empty text): such docs
    * are candidates of nothing, matching the self-join formulation where
    * `null === null` never matches — filtered out before the groupBy so
    * the null group doesn't become an accidental all-pairs bucket.
    */
  def jaccardPairsBy(docs: DataFrame, bucket: Column, shingles: Column,
                     minJaccard: Double): DataFrame =
    docs
      .select(bucket.as("bucket"),
        struct(col("doc_id"), shingles.as("toks")).as("m"))
      .filter(col("bucket").isNotNull)
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(col("m"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + lit(2), size(col("ms"))), y =>
          struct(x.as("a"), y.as("b")))))).as("p"))
      .withColumn("jaccard", jaccardQ4(col("p.a.toks"), col("p.b.toks")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("p.a.doc_id").as("id_a"), col("p.b.doc_id").as("id_b"),
        col("jaccard"))

  /** Set Jaccard of two shingle arrays, floor-quantized to 1e-4: identical
    * IEEE quotients floor the same in every engine, where round()
    * disagrees at exact .xxxx5 boundaries.
    */
  private[analytics] def jaccardQ4(a: Column, b: Column): Column =
    floor(size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double") * 10000) / 10000.0

  /** Asymmetric shingle CONTAINMENT within blocking buckets:
    * `|A∩B| / |A|` and `|A∩B| / |B|` per candidate pair — the
    * quote/superset detector symmetric Jaccard misses (a short document
    * wholly embedded in a long one has high containment but low
    * Jaccard, since the union is dominated by the long side). Same
    * one-shuffle grouped-combinations shape as [[jaccardPairsBy]]; a
    * pair survives if EITHER direction clears `minContainment`.
    *
    * `shingles` is deduplicated internally (once, before the pair
    * stage): the numerator `array_intersect` is set-semantics, so a
    * duplicate-preserving denominator would understate containment on
    * non-distinct inputs.
    */
  def containmentPairs(docs: DataFrame, bucket: Column, shingles: Column,
                       minContainment: Double): DataFrame =
    docs
      .select(bucket.as("bucket"),
        struct(col("doc_id"), array_distinct(shingles).as("toks")).as("m"))
      .filter(col("bucket").isNotNull)
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(col("m"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + lit(2), size(col("ms"))), y =>
          struct(x.as("a"), y.as("b")))))).as("p"))
      .withColumn("inter",
        size(array_intersect(col("p.a.toks"), col("p.b.toks"))).cast("double"))
      // floor-quantize (engine-stable), not round() (.xxxx5 disagreement)
      .withColumn("containment_a", floor(
        col("inter") / size(col("p.a.toks")).cast("double") * 10000) / 10000.0)
      .withColumn("containment_b", floor(
        col("inter") / size(col("p.b.toks")).cast("double") * 10000) / 10000.0)
      .filter(greatest(col("containment_a"), col("containment_b"))
        >= minContainment)
      .select(col("p.a.doc_id").as("id_a"), col("p.b.doc_id").as("id_b"),
        col("containment_a"), col("containment_b"))

  /** Edge-count cap for the driver-side union-find fast path of
    * [[dedupClusters]]: 4M undirected edges ≈ 64 MB of longs on the
    * driver — the same bounded-collect discipline as
    * [[Ivf.driverKMax]]. Above it, the distributed label-propagation
    * loop takes over.
    */
  val driverEdgeMax = 4000000L

  /** Resolve near-dup PAIRS into duplicate CLUSTERS — the step a dedup
    * pipeline actually acts on: every document gets a `cluster_id` (the
    * minimum doc_id of its connected component in the pair graph) and a
    * keep/drop verdict (`is_canonical` = it IS that minimum).
    *
    * Two paths, split like the IVF trainers ([[Ivf.driverKMax]]):
    *  - edge list ≤ `driverMax` (the common case — near-dup graphs are
    *    a small fraction of the corpus): ONE bounded collect, a
    *    union-find with path compression on the driver, and one
    *    broadcast-joined label table back out. Constant job count; no
    *    per-round plan/codegen cost.
    *  - larger: distributed min-label propagation WITH pointer
    *    doubling — each round every node adopts the smallest label
    *    among itself and its neighbors, then compresses one pointer hop
    *    (`label ← label(label)`, valid because `label(x) ≤ x` always
    *    holds under min-propagation), so rounds = O(log diameter), the
    *    Shiloach–Vishkin shortcut. Each round materializes two eager
    *    localCheckpoints over the EDGE-derived frames only (docs
    *    outside any pair never enter the loop) and the convergence
    *    check is a plain scan of checkpointed partitions (the previous
    *    label rides along as `prev`).
    */
  def dedupClusters(docs: DataFrame, pairs: DataFrame,
                    maxIter: Int = 20,
                    driverMax: Long = driverEdgeMax): DataFrame = {
    val spark = docs.sparkSession
    val undirected = pairs.select(col("id_a").cast("long").as("src"),
      col("id_b").cast("long").as("dst"))
      .localCheckpoint(true)
    val nEdges = undirected.count()
    val labelsDf =
      if (nEdges <= driverMax) driverClusters(spark, undirected)
      else distributedClusters(undirected, maxIter)
    docs.select(col("doc_id"))
      .join(labelsDf.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
  }

  /** Representative selection by QUALITY: within each duplicate cluster
    * keep the highest-quality member (ties → lowest doc_id) instead of
    * the arbitrary min-id canonical — the curation policy when near-dups
    * differ in extraction quality (one crawl of the page is boilerplate-
    * stripped, another is not). Input is the cluster table joined with a
    * per-doc `quality` column; output adds `kept` (1 for the
    * representative).
    *
    * 100 TB shape: one hash shuffle on cluster_id; the per-cluster sort
    * is bounded by cluster size (near-dup clusters are small by
    * construction — a giant cluster means the blocking key collapsed and
    * should be fixed upstream, not absorbed here).
    */
  def keepBest(clustersWithQuality: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    clustersWithQuality.withColumn("kept",
      (row_number().over(w) === 1).cast("int"))
  }

  /** Union-find with path compression over a bounded collected edge
    * list; returns the (id, label = component min) table, broadcast-
    * sized by construction.
    */
  private def driverClusters(spark: org.apache.spark.sql.SparkSession,
                             undirected: DataFrame): DataFrame = {
    val edges = undirected.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root)
        root = parent.getOrElse(root, root)
      // path compression
      var cur = x
      while (parent.getOrElse(cur, cur) != root) {
        val nxt = parent.getOrElse(cur, cur)
        parent.update(cur, root)
        cur = nxt
      }
      root
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      // union by MIN root so the final find() is the component minimum
      if (ra < rb) parent.update(rb, ra)
      else if (rb < ra) parent.update(ra, rb)
    }
    val ids = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    val rows = ids.iterator.map(id => (id, find(id))).toSeq
    import spark.implicits._
    broadcast(rows.toDF("id", "label"))
  }

  /** The distributed path of [[dedupClusters]] (see its scaladoc). */
  private def distributedClusters(undirected: DataFrame,
                                  maxIter: Int): DataFrame = {
    val edges = undirected.select(col("src"), col("dst"))
      .unionAll(undirected.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint(true)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val neighborLabels = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("label"), lit(false).as("self"))
      // the self row is tagged into the same aggregation, so the node's
      // previous label (`prev`, for the convergence check) comes out of
      // the one grouped pass — no separate labels join
      // eager checkpoint BEFORE the pointer hop: the self-join below
      // consumes the propagation twice (child and parent side), and the
      // two legs carry different projections so ReuseExchange cannot
      // dedupe them — without the checkpoint the whole union+agg
      // subtree would run twice per round
      val prop = neighborLabels
        .unionAll(labels.select(col("id"), col("label"),
          lit(true).as("self")))
        .groupBy(col("id")).agg(min(col("label")).as("label"),
          max(when(col("self"), col("label"))).as("prev"))
        .localCheckpoint(true)
      // pointer doubling: every label is itself a node id in `prop`
      // (min-propagation only ever emits ids, and every id keeps a
      // row), so one self-join hops label → label(label) — fresh
      // pointers, halving the remaining diameter every round. Inner
      // join is safe for the same reason.
      val next = prop
        .join(prop.select(col("id").as("label"), col("label").as("ll")),
          Seq("label"))
        .select(col("id"), col("ll").as("label"), col("prev"))
        .localCheckpoint(true)
      // scan of checkpointed partitions — no recompute, no shuffle
      converged = next.filter(col("label") < col("prev")).isEmpty
      labels = next.select(col("id"), col("label"))
      it += 1
    }
    // exiting non-converged would SILENTLY split a component into
    // several clusters, each with its own is_canonical row — duplicates
    // survive with no warning
    require(converged,
      s"cluster resolution did not converge in $maxIter rounds — a " +
        s"near-dup component has diameter > 2^$maxIter; raise maxIter")
    labels
  }

  /** `n`-token shingles of a text column — delegates to the single
    * implementation in TextAnalysis: decontamination and dedup
    * verification MUST shingle identically (two drifting copies would
    * desynchronize them silently).
    */
  def shingles(text: Column, n: Int): Column = TextAnalysis.shingles(text, n)

  /** Shingle-set Jaccard — the similarity MinHash approximates (must use
    * the same shingle size as the signature stage).
    */
  def jaccardShingles(a: Column, b: Column, n: Int): Column = {
    val sa = shingles(a, n)
    val sb = shingles(b, n)
    size(array_intersect(sa, sb)).cast("double") /
      size(array_union(sa, sb)).cast("double")
  }

  /** MinHash signatures via the native one-pass expression
    * (`graft.expressions.MinHashSignature`): each shingle hashed once,
    * permutations derived by universal hashing — a map-only projection,
    * no explode and no aggregation shuffle. (The previous explode +
    * per-permutation `min` agg shuffled `docs × shingles` rows — a
    * 10-100× amplification of the corpus at the signature stage.)
    */
  def minhashSignatures(docs: DataFrame, shingleSize: Int, numPerm: Int): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"),
      graft.expressions.GraftFunctions
        .minhash(shingles(col("text"), shingleSize), numPerm).as("sig"))
  }

  /** MinHash+LSH candidate pairs verified by exact Jaccard: signatures are
    * banded (`numPerm = bands * rowsPerBand`); docs sharing any band bucket
    * are candidates; candidates are verified with the true shingle
    * Jaccard. Shuffles: one on band bucket + the verify joins — never
    * O(n²), and the signature stage itself is shuffle-free.
    */
  /** Ordered in-bucket member pairs in ONE pass: group by the bucket
    * key, emit each bucket's pairwise combinations from the sorted
    * member list. Replaces a bucket SELF-JOIN, which evaluates the
    * (expensive) upstream signature pipeline once per join side — the
    * grouped form computes signatures exactly once and shuffles each
    * bucketed row once. Quadratic only within a bucket, which is the
    * inherent LSH candidate set.
    */
  private def bucketPairs(banded: DataFrame, bucketCols: Seq[Column],
                          member: Column): DataFrame =
    banded.groupBy(bucketCols: _*)
      .agg(sort_array(collect_list(member)).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + lit(2), size(col("ms"))), y =>
          struct(x.as("a"), y.as("b")))))).as("p"))

  /** Banding is a RECALL/CANDIDATE-VOLUME dial, and the dial scales with
    * corpus size: candidates = true near-dups (∝N) + chance band
    * collisions (∝N² · P[band match at background similarity s_bg] =
    * N² · s_bg^rowsPerBand · bands). rowsPerBand=2 at a 0.8 threshold
    * admits moderately-similar pairs almost surely (P ≥ 1-(1-s²)^b),
    * so the verify stage goes quadratic as the corpus grows — measured
    * 33× candidate growth for 10× docs on the synthetic corpus.
    * rowsPerBand=3 / bands=24 keeps the threshold-0.8 miss probability
    * at (1-0.8³)^24 ≈ 3.4e-8 (BETTER than r=2/b=16's 8e-8) while
    * cutting the background collision rate per pair by ~s_bg — at 100 TB
    * raise rowsPerBand further (r≈6..8) so FP candidates stay ∝N·k.
    */
  /** Derive LSH banding (bands, rowsPerBand) from the detection
    * THRESHOLD and CORPUS SIZE instead of pinned constants — the r7 10×
    * finding promoted to code: for each candidate r (ascending), size b
    * for the target miss probability at the threshold
    * (`(1-t^r)^b ≤ missProb`), then accept the first r whose expected
    * CHANCE-collision volume stays bounded per document
    * (`N/2 · b · s_bg^r ≤ fpPerDoc`, with `s_bg` the background
    * signature-agreement rate of unrelated documents). Growing N drives
    * r up (and b with it), so false-positive candidates stay ∝ N while
    * recall at the threshold is held constant — at 10⁹ docs this lands
    * at r ≈ 8, matching the documented 100 TB rule of thumb.
    */
  def lshParams(threshold: Double, nDocs: Long, sBg: Double = 0.05,
                missProb: Double = 1e-7, fpPerDoc: Double = 1.0): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold $threshold not in (0,1)")
    def bandsFor(r: Int): Int = math.max(1, math.ceil(
      math.log(missProb) / math.log1p(-math.pow(threshold, r))).toInt)
    (2 to 16).foreach { r =>
      val b = bandsFor(r)
      if (nDocs / 2.0 * b * math.pow(sBg, r) <= fpPerDoc) return (b, r)
    }
    (bandsFor(16), 16)
  }

  /** [[minhashLshPairs]] with [[lshParams]]-derived banding — the
    * default entry point (one `count()` job sizes the dial).
    */
  /** Above this permutation count the auto path switches the signature
    * stage to one-permutation hashing ([[graft.expressions.OnePermMinHash]],
    * O(shingles + k) per doc): `lshParams` drives the count into the
    * hundreds as the corpus grows, and the classic signature's
    * shingles × permutations inner loop comes to dominate the pipeline.
    */
  val OnePermCutoff = 96

  def minhashLshPairsAuto(docs: DataFrame, shingleSize: Int,
                          minJaccard: Double,
                          sBg: Double = 0.05): DataFrame = {
    val (bands, rowsPerBand) = lshParams(minJaccard, docs.count(), sBg)
    minhashLshPairs(docs, shingleSize, bands, rowsPerBand, minJaccard,
      onePerm = bands * rowsPerBand >= OnePermCutoff)
  }

  /** One row per (document, band) of a signature frame: `carry` plus
    * `band` and `key = hash(slice(sig, band · rowsPerBand + 1,
    * rowsPerBand))`. Documents with a NULL signature (NULL text) get no
    * rows — they are candidates of nothing, like NULL buckets in
    * [[jaccardPairsBy]]; banding them would put them all in the bucket of
    * `hash(NULL)`. The NULL test sits inside the explode, not in a
    * `filter`: the optimizer pushes a filter below the projection that
    * computes `sig` by inlining it, which signs every document twice.
    */
  private[analytics] def bandRows(signed: DataFrame, carry: Seq[String],
                                  bands: Int, rowsPerBand: Int): DataFrame =
    signed
      .select(carry.map(col) :+ explode(when(col("sig").isNotNull,
        array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("key"))
        }: _*))).as("bs"): _*)
      .select(carry.map(col) ++
        Seq(col("bs.band").as("band"), col("bs.key").as("key")): _*)

  def minhashLshPairs(docs: DataFrame, shingleSize: Int, bands: Int,
                      rowsPerBand: Int, minJaccard: Double,
                      onePerm: Boolean = false): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    val numPerm = bands * rowsPerBand
    // shingle sets computed ONCE PER DOC and carried to the verify —
    // never recomputed per candidate pair (at 10× scale the per-pair
    // recompute dominated wall-clock)
    val sh = docs.select(col("doc_id"),
      shingles(col("text"), shingleSize).as("sh"))
    val sig = sh.select(col("doc_id"),
      (if (onePerm) graft.expressions.GraftFunctions.onePermMinhash(col("sh"), numPerm)
       else graft.expressions.GraftFunctions.minhash(col("sh"), numPerm)).as("sig"))
    val banded = bandRows(sig, Seq("doc_id"), bands, rowsPerBand)
    val cand = bucketPairs(banded, Seq(col("band"), col("key")), col("doc_id"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()
    // fetch candidate shingle sets with ONE scan of the corpus: melt
    // each pair into its two member ids, probe the side table against
    // the streamed corpus, regroup per pair — instead of two separate
    // joins each re-scanning and re-shingling the text column
    val sides = cand.select(col("id_a"), col("id_b"),
      explode(array(col("id_a"), col("id_b"))).as("doc_id"))
    sides.join(sh, Seq("doc_id"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(
        first(when(col("doc_id") === col("id_a"), col("sh")),
          ignoreNulls = true).as("sh_a"),
        first(when(col("doc_id") === col("id_b"), col("sh")),
          ignoreNulls = true).as("sh_b"))
      .withColumn("jaccard", jaccardQ4(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Portable 32-bit token hash: the first 8 hex chars of md5. Any engine
    * with md5 reproduces it exactly (oracle parity); use xxhash64 on hot
    * paths where cross-engine reproducibility is not needed.
    */
  def md5Hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** `bits`-wide SimHash over tokens: per-bit majority vote of token
    * hashes. One explode + one aggregation of `bits` conditional sums.
    * The token hash is pluggable: xxhash64 (default, fast) or `md5Hash32`
    * (portable — bit-exact in any engine with md5).
    */
  def simhash(docs: DataFrame, bits: Int = 64,
              tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("w"))
      .withColumn("h", tokenHash(col("w")))
    val votes = (0 until bits).map { b =>
      sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0, 1).otherwise(-1)).as(s"v$b")
    }
    tok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce((a: Column, c: Column) => a.bitwiseOR(c)).as("simhash"))
  }

  /** SimHash near-dup pairs: block on `nBands` equal sub-bands (by the
    * pigeonhole principle a pair within hamming distance `nBands - 1`
    * shares at least one identical band — recall 1.0 for
    * `maxHamming < nBands`), verify true hamming ≤ `maxHamming`.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int, bits: Int = 64,
                   nBands: Int = 4,
                   tokenHash: Column => Column = xxhash64(_)): DataFrame =
    simhashPairsFrom(simhash(docs, bits, tokenHash), maxHamming, bits, nBands)

  /** One-pass native signature (map-only, no explode/agg shuffle —
    * [[graft.expressions.SimHashSignature]]); bit-identical to
    * `simhash(docs, bits, xxhash64|md5Hash32)`.
    */
  def simhashNative(docs: DataFrame, bits: Int, useMd5: Boolean): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"),
      graft.expressions.GraftFunctions.simhash(
        array_distinct(split(col("text"), " ")), bits, useMd5).as("simhash"))
  }

  def simhashPairsNative(docs: DataFrame, maxHamming: Int, bits: Int,
                         nBands: Int, useMd5: Boolean): DataFrame =
    simhashPairsFrom(simhashNative(docs, bits, useMd5), maxHamming, bits, nBands)

  private def simhashPairsFrom(signatures: DataFrame, maxHamming: Int,
                               bits: Int, nBands: Int): DataFrame = {
    val bandBits = bits / nBands
    // Java shifts are mod 64: 1L << 64 == 1, so a single 64-bit band
    // would mask to 0 and collapse the corpus into ONE bucket (an
    // all-pairs cross join — the explosion the banding exists to stop)
    val bandMask = if (bandBits >= 64) -1L else (1L << bandBits) - 1
    // persist the per-doc signature (16 bytes/doc, spillable): the band
    // self-join below evaluates its input once per leg, and without the
    // persist each leg re-runs the signature stage twice. (MLlib's LSH
    // approxSimilarityJoin caches its transformed datasets for the same
    // reason.) The coarse 2^bandBits
    // band buckets stay as a JOIN, not grouped pair-combos: with only 256
    // distinct bucket values a grouped form would materialize a bucket's
    // whole quadratic candidate product inside single rows.
    val sh = signatures
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(bandMask))
            .as("bits"))
      }: _*)).as("bs"))
      .select(col("doc_id"), col("simhash"),
        col("bs.band").as("band"), col("bs.bits").as("bits"))
    val pairs = banded.as("l").join(banded.as("r"),
      col("l.band") === col("r.band") && col("l.bits") === col("r.bits") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"),
        col("l.simhash").as("sa"), col("r.simhash").as("sb"))
      .distinct()
    pairs
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Incremental (cross-crawl) dedup: label each NEW document dup/new
    * against an already-ingested history WITHOUT joining the full new
    * side to the full history. Two stages:
    *
    *  1. bloom prefilter — the history's fingerprint hashes aggregate
    *     into ONE serialized bloom filter (Spark's internal
    *     runtime-filter aggregate, distributed partial aggregation; the
    *     only driver state is the filter itself, sized by `numBits`),
    *     probed as a foldable literal on the new side: a map-only pass
    *     that discards the (at 100 TB, overwhelming) majority of
    *     genuinely-new documents with zero shuffle;
    *  2. exact verify — only bloom candidates join (semi) against the
    *     history fingerprints, eliminating bloom false positives. No
    *     false negatives exist, so the result EQUALS the exact
    *     anti-join computation at a fraction of its shuffle volume.
    *
    * Returns every new doc with `is_dup` (1 = fingerprint already in
    * history).
    */
  def incrementalDedup(newDocs: DataFrame, history: DataFrame,
                       fingerprint: Column, expectedItems: Long = 1 << 20,
                       numBits: Long = 1 << 23): DataFrame = {
    import graft.expressions.GraftFunctions
    GraftFunctions.register(newDocs.sparkSession)
    val histFp = history.select(fingerprint.as("fp"))
    val bloomBytes = histFp
      .agg(GraftFunctions.bloomAgg(xxhash64(col("fp")),
        expectedItems, numBits).as("bloom"))
      .head().getAs[Array[Byte]](0) // bounded: the serialized filter
    val fingered = newDocs.select(col("doc_id"), fingerprint.as("fp"))
    val candidates = fingered
      .filter(GraftFunctions.bloomMightContain(lit(bloomBytes),
        xxhash64(col("fp"))))
    val dups = candidates
      .join(histFp.distinct(), Seq("fp"), "left_semi")
      .select(col("doc_id")).withColumn("is_dup", lit(1))
    fingered.select(col("doc_id"))
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("is_dup"), lit(0)).as("is_dup"))
  }
}
