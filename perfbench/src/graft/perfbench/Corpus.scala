package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analytics.{Decontaminate, Dedup, TextAnalysis}

/** The seeded corpus and what was planted in it. */
final case class CorpusData(docs: IndexedSeq[(Long, Array[String])],
                            planted: Set[(Long, Long)],
                            exactGroups: Int, exactCopies: Int,
                            contaminated: Set[Long])

/** `corpus`: near-duplicate curation of a seeded synthetic corpus.
  *
  * 2,500 training documents of 50-80 tokens over a 5,000-word
  * vocabulary, plus a 250-document eval split. Planted: 1% exact
  * copies and 4% near-duplicates (one token substituted; 3-shingle
  * Jaccard >= 0.85) of earlier plain documents, and 25 training
  * documents that near-duplicate an eval document. Set-up ingests the
  * corpus with each document's language and quality score computed by
  * the analytics expressions, cached. One job runs exact
  * dedup, MinHash-LSH pairs at J >= 0.8, clusters with keep-best,
  * fuzzy decontamination against the eval split and the repetition
  * statistics; it repeats in-process after an untimed warm-up job. This
  * is the workload where `analytics` and `expressions` do the work and
  * `streaming` and `sinks` do none.
  */
object Corpus {
  val TrainDocs = 2500
  val EvalDocs = 250
  val EvalBase = 1000000000L
  val Vocab = 5000
  val ShingleSize = 3
  val MinJaccard = 0.8
  val ExactShare = 0.01
  val NearShare = 0.04
  val Contaminated = 25
  val SetupReps = 5
  val WarmJobs = 1
  /** The timed phase is a fixed number of jobs, one per NominalJobS of
    * the run's seconds.
    */
  val NominalJobS = 4.0
  val MinJobs = 2

  def shingles(tk: Array[String], n: Int): Set[String] =
    if (tk.length < n) Set(tk.mkString(" "))
    else (0 to tk.length - n).map(i => tk.slice(i, i + n).mkString(" ")).toSet

  def jaccard(a: Array[String], b: Array[String]): Double = {
    val sa = shingles(a, ShingleSize); val sb = shingles(b, ShingleSize)
    (sa intersect sb).size.toDouble / (sa union sb).size
  }

  def generate(seed: Long): CorpusData = {
    val r = Gen.rng(seed, 0)
    val vocab = Array.fill(Vocab)(Gen.randomText(r, 3 + r.nextInt(7)).toLowerCase)
    // skewed word frequencies, like text
    def word(): String = vocab((Vocab * math.pow(r.nextDouble(), 1.5)).toInt)
    def fresh(): Array[String] = Array.fill(50 + r.nextInt(31))(word())
    def nearCopy(src: Array[String]): Array[String] = {
      var c: Array[String] = null
      while (c == null || jaccard(src, c) < 0.85) {
        c = src.clone()
        val i = r.nextInt(c.length)
        var w = word()
        while (w == src(i)) w = word()
        c(i) = w
      }
      c
    }
    val eval = (0 until EvalDocs).map(i => (EvalBase + i, fresh()))
    val docs = mutable.ArrayBuffer.empty[(Long, Array[String])]
    val plain = mutable.ArrayBuffer.empty[Int]
    val planted = mutable.Set.empty[(Long, Long)]
    val exactSrc = mutable.Set.empty[Int]
    var exactCopies = 0
    val contaminated = mutable.Set.empty[Long]
    val contamEvery = TrainDocs / Contaminated
    (0 until TrainDocs).foreach { i =>
      val u = r.nextDouble()
      val id = i.toLong
      if (i % contamEvery == contamEvery / 2) {
        docs += ((id, nearCopy(eval(r.nextInt(EvalDocs))._2)))
        contaminated += id
      } else if (plain.length > 100 && u < ExactShare + NearShare) {
        val j = plain(r.nextInt(plain.length))
        if (u < ExactShare) {
          docs += ((id, docs(j)._2.clone())); exactSrc += j; exactCopies += 1
        } else docs += ((id, nearCopy(docs(j)._2)))
        planted += ((j.toLong, id))
      } else {
        docs += ((id, fresh())); plain += i
      }
    }
    CorpusData((docs ++ eval).toIndexedSeq, planted.toSet, exactSrc.size,
      exactCopies, contaminated.toSet)
  }

  private val q4 = (x: Double) => math.floor(x * 10000).toLong / 10000.0

  /** The repetition statistics of one document, as TextAnalysis defines them. */
  def repetition(tk: Array[String]): (Double, Double, Double) = {
    val dupTok = q4(1.0 - tk.distinct.length.toDouble / tk.length)
    val top = q4(tk.groupBy(identity).values.map(_.length).max.toDouble / tk.length)
    val grams = (0 until math.max(tk.length - 1, 1)).map(i => tk.slice(i, i + 2).mkString(" "))
    val dup2 = q4(1.0 - grams.distinct.length.toDouble / grams.length)
    (dupTok, top, dup2)
  }

  def run(env: Env): Result = {
    import env._
    val s = new Samples
    var data: CorpusData = null
    var all: DataFrame = null

    val (setupS, setupTs) = setupReps(SetupReps) { _ =>
      if (all != null) all.unpersist(blocking = true)
      data = generate(seed)
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))
      val rows = data.docs.map { case (id, tk) => Row(id, tk.mkString(" ")) }
      // ingest as a curation pipeline does before dedup: per-document
      // language and quality through the analytics expressions, cached
      all = spark.createDataFrame(spark.sparkContext.parallelize(rows, cores), schema)
        .select(col("doc_id"), col("text"),
          TextAnalysis.langId(col("text")).as("lang"),
          length(col("text")).as("n_chars"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .cache()
      all.count(): Unit
    }
    val train = all.filter(col("doc_id") < EvalBase)
    val texts = data.docs.toMap
    val trainTk = data.docs.filter(_._1 < EvalBase).map(_._2)
    val wantRep = {
      val rs = trainTk.map(repetition)
      (Stats.mean(rs.map(_._1)), Stats.mean(rs.map(_._2)), Stats.mean(rs.map(_._3)))
    }
    val (bands, rows) = Dedup.lshParams(MinJaccard, data.docs.length.toLong)

    def timedStage[T](name: String, timed: Boolean)(body: => T): T = {
      val t0 = System.nanoTime
      val r = tracer.span(name)(body)
      if (timed) s.add(name, (System.nanoTime - t0) / 1e6)
      r
    }

    /** One complete curation job with its checks. */
    def job(timed: Boolean): Unit = tracer.span("job") {
      val exact = timedStage("analytics.exact", timed) {
        Dedup.exact(train).filter(col("n_copies") > 1)
          .agg(count(lit(1)), coalesce(sum(col("n_copies") - 1), lit(0L))).head()
      }
      check(exact.getLong(0) == data.exactGroups && exact.getLong(1) == data.exactCopies,
        s"exact dedup: $exact want (${data.exactGroups}, ${data.exactCopies})")

      val pairs = timedStage("analytics.minhash", timed) {
        Dedup.minhashLshPairsAuto(train, ShingleSize, MinJaccard)
          .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      }
      val found = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val missed = data.planted -- found
      check(missed.isEmpty, s"${missed.size} planted pairs not found, e.g. ${missed.take(3)}")
      val weak = pairs.filter { case (a, b) => jaccard(texts(a), texts(b)) < MinJaccard }
      check(weak.isEmpty, s"${weak.length} reported pairs below J $MinJaccard")

      val kept = timedStage("analytics.clusters", timed) {
        import spark.implicits._
        val pdf = pairs.toSeq.toDF("id_a", "id_b")
        val cl = Dedup.dedupClusters(train, pdf)
          .join(train.select("doc_id", "quality"), "doc_id")
        Dedup.keepBest(cl).agg(sum(col("kept"))).head().getLong(0)
      }
      check(kept == TrainDocs - merged(pairs), s"keepBest kept $kept")

      val contaminated = timedStage("analytics.decontaminate", timed) {
        Decontaminate.nearDupContaminated(all, c => c >= lit(EvalBase),
          ShingleSize, bands, rows, MinJaccard)
          .select("doc_id").collect().map(_.getLong(0)).toSet
      }
      check(contaminated == data.contaminated,
        s"decontaminate found ${contaminated.size} want ${data.contaminated.size}")

      val rep = timedStage("analytics.repetition_stats", timed) {
        train.agg(avg(TextAnalysis.dupTokenFrac(col("text"))),
          avg(TextAnalysis.topTokenFrac(col("text"))),
          avg(TextAnalysis.dup2gramFrac(col("text")))).head()
      }
      val got = (rep.getDouble(0), rep.getDouble(1), rep.getDouble(2))
      def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
      check(close(got._1, wantRep._1) && close(got._2, wantRep._2) && close(got._3, wantRep._3),
        s"repetition stats $got want $wantRep")
    }

    scoped("warm")((0 until WarmJobs).foreach(_ => job(timed = false)))
    sync()
    drainListeners()

    val gc0 = Counters.gcMs
    val jobs = math.max(MinJobs, math.ceil(seconds / NominalJobS).toInt)
    val t0 = System.nanoTime
    val jobsMs = (0 until jobs).map { _ =>
      val j0 = System.nanoTime
      scoped("job")(job(timed = true))
      (System.nanoTime - j0) / 1e6
    }
    val wallS = (System.nanoTime - t0) / 1e9
    val gcMs = Counters.gcMs - gc0
    drainListeners()
    all.unpersist(blocking = true)

    val (att, fail) = tally
    val layer = if (!traced) Map.empty[String, Double] else {
      val j = scope("job")
      Map(
        "analytics.minhash_ms" -> Stats.median(s.get("analytics.minhash")),
        "analytics.clusters_ms" -> Stats.median(s.get("analytics.clusters")),
        "analytics.decontaminate_ms" -> Stats.median(s.get("analytics.decontaminate")),
        "analytics.repetition_stats_ms" -> Stats.median(s.get("analytics.repetition_stats")),
        "analytics.shuffle_bytes" -> j.shuffleWrite.get.toDouble / jobs,
        "analytics.exec_cpu_frac" -> j.cpuNs.get / (jobsMs.sum * 1e6 * cores),
        "jvm.gc_ms_per_step" -> gcMs.toDouble / jobsMs.length)
    }
    Result(att, fail,
      e2e = Map("setup_s" -> setupS, "op_p50_ms" -> Stats.median(jobsMs),
        "items_per_s" -> data.docs.length * jobs / wallS),
      layer = layer,
      report = Map(
        "setup_reps_s" -> setupTs, "timed_s" -> wallS, "jobs" -> jobs,
        "job_ms" -> jobsMs, "job_s" -> Stats.median(jobsMs) / 1000,
        "docs" -> data.docs.length, "planted_pairs" -> data.planted.size,
        "lsh_bands_rows" -> Seq(bands, rows),
        "exact_stage_ms_p50" -> Stats.median(s.get("analytics.exact")),
        "error_rate" -> fail.toDouble / att))
  }

  /** Documents merged away by the pair graph: nodes minus components. */
  private def merged(pairs: Array[(Long, Long)]): Long = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.size - parent.keys.count(k => find(k) == k)
  }
}
