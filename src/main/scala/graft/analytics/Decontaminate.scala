package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.GraftFunctions

/** Benchmark decontamination for training corpora: flag training
  * documents that share any `n`-token shingle with an evaluation set
  * (the n-gram-collision rule used to scrub eval benchmarks out of
  * pretraining data).
  *
  * 100 TB shape: the benchmark side is the SMALL side (eval suites are
  * a few thousand documents) — its distinct shingles are broadcast, so
  * the 100 TB training side is a single map-side semi-join pass with no
  * shuffle of the corpus; the only aggregation is per-doc hit counting,
  * which is map-side combinable. Shingling happens once per side as a
  * column expression (no UDFs, stays in codegen).
  */
object Decontaminate {

  /** Training docs sharing ≥1 `n`-shingle with `benchmark`:
    * `(doc_id, contaminated_shingles)`, hit count = distinct shared
    * shingles. Docs with no overlap are absent (the keep-set is the
    * anti-join complement).
    */
  def contaminatedDocs(train: DataFrame, benchmark: DataFrame,
                       n: Int = 8): DataFrame = {
    def shingled(df: DataFrame): DataFrame =
      df.select(col("doc_id"),
        explode(TextAnalysis.shingles(col("text"), n)).as("sh"))

    val benchShingles = shingled(benchmark).select("sh").distinct()
    shingled(train)
      .join(broadcast(benchShingles), "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("contaminated_shingles"))
  }

  /** FUZZY decontamination: training docs NEAR-duplicating any document
    * of the eval split (MinHash-LSH candidates exact-verified at
    * `minJaccard`) — catches paraphrased/lightly-edited benchmark
    * leakage that exact shingle collision misses. `isBenchmark` marks
    * the eval side within `corpus`; output is one row per contaminated
    * TRAINING doc with its match count (distinct eval docs) and worst
    * (highest) Jaccard.
    *
    * A broadcast probe, not a self-join: each side is shingled, signed
    * with the classic MinHash ([[graft.expressions.MinHashSignature]]) and
    * banded once with [[Dedup.bandRows]]. The small eval side is broadcast as
    * `(band, key, eval_id, eval_sh)`; the training side streams through
    * it in one map-side pass with no shuffle, its band rows carrying only
    * `(doc_id, text)`, and re-shingles only the rows that hit. Each hit is
    * verified with the same floor-quantized Jaccard as
    * [[Dedup.minhashLshPairs]], and only verified matches reach the one
    * `groupBy(doc_id)`. The candidates are exactly the train×eval pairs
    * that share a band bucket — the cross pairs of `minhashLshPairs` over
    * the whole corpus — so the output equals filtering its pairs to cross
    * pairs, without computing (and discarding) the train×train ones.
    * NULL-text documents have no signature and match nothing.
    */
  def nearDupContaminated(corpus: DataFrame,
                          isBenchmark: Column => Column,
                          shingleSize: Int, bands: Int, rowsPerBand: Int,
                          minJaccard: Double): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val numPerm = bands * rowsPerBand
    val isEval = isBenchmark(col("doc_id"))
    def sh(text: Column): Column = Dedup.shingles(text, shingleSize)
    val evalBands = Dedup.bandRows(
      corpus.filter(isEval)
        .select(col("doc_id").as("eval_id"), sh(col("text")).as("eval_sh"))
        .withColumn("sig", GraftFunctions.minhash(col("eval_sh"), numPerm)),
      Seq("eval_id", "eval_sh"), bands, rowsPerBand)
    val trainBands = Dedup.bandRows(
      corpus.filter(!isEval).select(col("doc_id"), col("text"),
        GraftFunctions.minhash(sh(col("text")), numPerm).as("sig")),
      Seq("doc_id", "text"), bands, rowsPerBand)
    trainBands.join(broadcast(evalBands), Seq("band", "key"))
      .select(col("doc_id"), col("eval_id"),
        Dedup.jaccardQ4(sh(col("text")), col("eval_sh")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("eval_id")).as("n_matches"),
        max(col("jaccard")).as("max_jaccard"))
  }
}
