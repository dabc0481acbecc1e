// A/B of the native text kernels against the higher-order-lambda
// formulations they replaced, on long documents (>= `minTok` tokens each).
// Standalone: not part of the sbt build. Compile it against the engine's
// classes and the Spark jars, then run (from the repo root):
//
//   python3 -c "import sys; sys.path.insert(0,'perfbench'); import build; build.ensure_built('.')"
//   CP=".bench_build/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
//   java -cp "$CP" scala.tools.nsc.Main -usejavacp -d /tmp/tkab bench/TextKernelAB.scala
//   java --add-opens=java.base/sun.nio.ch=ALL-UNNAMED -cp "/tmp/tkab:$CP" \
//     TextKernelAB 2000 1000 7 > result.json
//
// Arguments: documents, minimum tokens per document (each document has
// minTok..2·minTok-1 tokens), timed rounds. Each round times every variant
// once as `agg(sum(expr))` over a cached frame, in a rotating order; the
// record is the median per variant. `floor` (sum of text lengths) is the
// cost of the scan and aggregation alone.

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.TextAnalysis

object TextKernelAB {
  private def bound(v: Column)(f: Column => Column): Column =
    element_at(transform(array(v), f), 1)
  private def q4(c: Column): Column = floor(c * 10000) / 10000.0

  private def lambdaShingles(text: Column, n: Int): Column =
    bound(split(text, " ")) { tk =>
      array_distinct(transform(
        sequence(lit(1), greatest(size(tk) - (n - 1), lit(1))),
        i => array_join(slice(tk, i, lit(n)), " ")))
    }
  private def sortAggTopTokenFrac(text: Column): Column =
    bound(split(text, " ")) { tk =>
      val top = aggregate(array_sort(tk),
        struct(lit(null).cast("string").as("prev"), lit(0).as("run"),
          lit(0).as("best")),
        (acc, w) => {
          val run = when(acc("prev") <=> w, acc("run") + 1).otherwise(lit(1))
          struct(w.as("prev"), run.as("run"), greatest(acc("best"), run).as("best"))
        },
        acc => acc("best"))
      q4(top.cast("double") / size(tk))
    }
  private def lambdaDup2gramFrac(text: Column): Column =
    bound(split(text, " ")) { tk =>
      val grams = transform(sequence(lit(1), greatest(size(tk) - 1, lit(1))),
        i => array_join(slice(tk, i, lit(2)), " "))
      q4(lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams))
    }

  def main(args: Array[String]): Unit = {
    val Array(docs, minTok, rounds) = args.map(_.toInt)
    val spark = SparkSession.builder().master("local[3]")
      .config("spark.sql.shuffle.partitions", "3")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val r = new scala.util.Random(9L)
    val vocab = Array.tabulate(5000)(i => s"w$i")
    val texts = Seq.fill(docs)(Array.fill(minTok + r.nextInt(minTok))(
      vocab((vocab.length * math.pow(r.nextDouble(), 1.5)).toInt)).mkString(" "))
    val df = spark.sparkContext.parallelize(texts, 3).toDF("text").cache()
    df.count()
    val t = col("text")
    val variants = Seq(
      "floor" -> length(t).cast("double"),
      "top_token_frac/sort_aggregate" -> sortAggTopTokenFrac(t),
      "top_token_frac/native" -> TextAnalysis.topTokenFrac(t),
      "shingles3/lambda" -> size(lambdaShingles(t, 3)).cast("double"),
      "shingles3/native" -> size(TextAnalysis.shingles(t, 3)).cast("double"),
      "dup2gram_frac/lambda" -> lambdaDup2gramFrac(t),
      "dup2gram_frac/native" -> TextAnalysis.dup2gramFrac(t))
    def once(c: Column): (Double, Double) = {
      val t0 = System.nanoTime
      val v = df.agg(sum(c)).head().getDouble(0)
      ((System.nanoTime - t0) / 1e6, v)
    }
    variants.foreach { case (_, c) => once(c); once(c) } // warm-up
    val samples = variants.map(_._1 -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val values = scala.collection.mutable.Map.empty[String, Double]
    (0 until rounds).foreach { k =>
      val order = variants.drop(k % variants.length) ++ variants.take(k % variants.length)
      order.foreach { case (name, c) =>
        val (ms, v) = once(c); samples(name) += ms; values(name) = v
      }
    }
    def median(xs: Seq[Double]) = { val s = xs.sorted; s(s.length / 2) }
    val same = Seq("top_token_frac", "shingles3", "dup2gram_frac").map { f =>
      val ks = values.keys.filter(_.startsWith(f + "/")).toSeq
      s""""$f":${ks.map(values).distinct.length == 1}"""
    }
    val per = variants.map { case (name, _) =>
      s""""$name":{"median_ms":${median(samples(name).toSeq)},"ms":[${samples(name).mkString(",")}]}"""
    }
    val tokens = texts.map(_.count(_ == ' ') + 1).sum
    println(s"""{"docs":$docs,"tokens":$tokens,"rounds":$rounds,"cores":3,""" +
      s""""variants":{${per.mkString(",")}},"equal_sums":{${same.mkString(",")}}}""")
    spark.stop()
  }
}
