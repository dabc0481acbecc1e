package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.{Decontaminate, Dedup, TextAnalysis}

/** The native text kernels ([[graft.expressions.TokenShingles]],
  * [[graft.expressions.TopTokenCount]]) against the higher-order-lambda
  * formulations they replaced, kept here as the reference; and NULL text
  * through the MinHash pipelines.
  */
class TextKernelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  // --- reference: the lambda formulations, verbatim ---
  private def bound(v: Column)(f: Column => Column): Column =
    element_at(transform(array(v), f), 1)
  private def refShingles(text: Column, n: Int): Column =
    bound(split(text, " ")) { tk =>
      array_distinct(transform(
        sequence(lit(1), greatest(size(tk) - (n - 1), lit(1))),
        i => array_join(slice(tk, i, lit(n)), " ")))
    }
  private def q4(c: Column): Column = floor(c * 10000) / 10000.0
  private def refTopTokenFrac(text: Column): Column =
    bound(split(text, " ")) { tk =>
      val top = aggregate(
        array_sort(tk),
        struct(lit(null).cast("string").as("prev"), lit(0).as("run"),
          lit(0).as("best")),
        (acc, w) => {
          val run = when(acc("prev") <=> w, acc("run") + 1).otherwise(lit(1))
          struct(w.as("prev"), run.as("run"),
            greatest(acc("best"), run).as("best"))
        },
        acc => acc("best"))
      q4(top.cast("double") / size(tk))
    }
  private def refDup2gramFrac(text: Column): Column =
    bound(split(text, " ")) { tk =>
      val grams = transform(sequence(lit(1), greatest(size(tk) - 1, lit(1))),
        i => array_join(slice(tk, i, lit(2)), " "))
      q4(lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams))
    }

  val edgeTexts: Seq[String] = Seq("", " ", "   ", " a", "a ", " a ", "a  b",
    "  a  b  ", "a\tb c", "a\t b\t\tc a\t", "a", "a b", "a b c", "a b c d",
    "x x x x x", "a b a b a b", "héllo wörld héllo wörld",
    "日本 語 日本 語 テキスト 日本 語", "é é  é", "𝄞 a 𝄞 a 𝄞")

  /** Seeded texts over a small vocabulary (repeats, multibyte words, empty
    * fields from doubled spaces), 0 to 40 fields each.
    */
  val randomTexts: Seq[String] = {
    val r = new Random(20261019L)
    val vocab = Array("a", "b", "ab", "the", "", "é", "日本", "x\ty", "𝄞",
      "wörd", "c")
    Seq.fill(300)(Seq.fill(r.nextInt(41))(vocab(r.nextInt(vocab.length)))
      .mkString(" "))
  }

  private val ns = Seq(1, 2, 3, 5)

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Texts as an RDD-backed frame: a local relation would be constant-
    * folded by the optimizer and never reach generated code.
    */
  private def frame(texts: Seq[String]): DataFrame =
    spark.sparkContext.parallelize(texts.zipWithIndex, 2).toDF("text", "i")

  test("kernels equal the lambda formulations, codegen forced on and off") {
    val t = col("text")
    val cols = ns.flatMap(n => Seq(refShingles(t, n), TextAnalysis.shingles(t, n))) ++
      Seq(refTopTokenFrac(t), TextAnalysis.topTokenFrac(t),
        refDup2gramFrac(t), TextAnalysis.dup2gramFrac(t))
    val texts = edgeTexts ++ randomTexts
    for ((factory, wholeStage) <- Seq("CODEGEN_ONLY" -> "true",
                                      "NO_CODEGEN" -> "false")) {
      val rows = withConf("spark.sql.codegen.factoryMode" -> factory,
          "spark.sql.codegen.wholeStage" -> wholeStage) {
        frame(texts).select(col("i") +: cols: _*).collect()
      }
      assert(rows.length == texts.length)
      rows.foreach { r =>
        val text = texts(r.getInt(0))
        ns.zipWithIndex.foreach { case (n, k) =>
          assert(r.getSeq[String](2 * k + 2) == r.getSeq[String](2 * k + 1),
            s"[$factory] shingles('$text', $n)")
        }
        val o = 2 * ns.length + 1
        assert(r.getDouble(o + 1) == r.getDouble(o),
          s"[$factory] topTokenFrac('$text')")
        assert(r.getDouble(o + 3) == r.getDouble(o + 2),
          s"[$factory] dup2gramFrac('$text')")
      }
    }
  }

  test("NULL text: the kernels are NULL, not one NULL shingle") {
    val r = frame(Seq("a b")).select(lit(null).cast("string").as("text"))
      .select(TextAnalysis.shingles(col("text"), 3),
        TextAnalysis.topTokenFrac(col("text")),
        TextAnalysis.dup2gramFrac(col("text")))
      .head()
    assert((0 until 3).forall(r.isNullAt), s"expected all NULL, got $r")
  }

  /** A seeded corpus with planted near-copies (one token substituted in
    * 40: 3-shingle Jaccard ≥ 0.85) of earlier documents, so both
    * same-side and cross-side near-duplicate pairs exist when every 5th id
    * is an eval document.
    */
  lazy val corpus: DataFrame = {
    val r = new Random(7L)
    val vocab = Array.tabulate(400)(i => s"w$i")
    val docs = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    (0 until 120).foreach { i =>
      docs += (if (i > 10 && i % 7 == 3) {
        val c = docs(r.nextInt(i)).clone()
        c(r.nextInt(c.length)) = s"new$i"
        c
      } else Array.fill(40)(vocab(r.nextInt(vocab.length))))
    }
    docs.zipWithIndex.map { case (d, i) => (i.toLong, d.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
  }
  val withNull: DataFrame => DataFrame =
    _.union(Seq((1000L, null: String)).toDF("doc_id", "text"))

  private def pairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("a NULL-text row changes no MinHash-LSH pairs (classic and one-perm)") {
    Seq(false, true).foreach { onePerm =>
      def run(d: DataFrame) = pairs(Dedup.minhashLshPairs(d, 3, 16, 2, 0.8,
        onePerm = onePerm))
      val base = run(corpus)
      assert(base.nonEmpty, "the seeded corpus must have near-dup pairs")
      assert(run(withNull(corpus)) == base, s"onePerm=$onePerm")
    }
  }

  test("nearDupContaminated = cross pairs of minhashLshPairs, per training doc") {
    val isEval = (c: Column) => c % 5 === 0
    def decon(d: DataFrame) =
      Decontaminate.nearDupContaminated(d, isEval, 3, 16, 2, 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ps = pairs(Dedup.minhashLshPairs(corpus, 3, 16, 2, 0.8)).toSeq
    def eval(id: Long) = id % 5 == 0
    val cross = ps.filter { case (a, b, _) => eval(a) != eval(b) }
    assert(cross.nonEmpty && cross.size < ps.size,
      "the seeded corpus must have both cross and same-side pairs")
    val want = cross.map { case (a, b, j) => (if (eval(a)) b else a, j) }
      .groupBy(_._1).map { case (d, js) =>
        (d, js.length.toLong, js.map(_._2).max) }.toSet
    assert(decon(corpus) == want)
    assert(decon(withNull(corpus)) == want, "a NULL-text row must match nothing")
    // no eval side: nothing is contaminated
    assert(Decontaminate.nearDupContaminated(corpus, c => c < 0, 3, 16, 2, 0.8)
      .count() == 0)
  }
}
