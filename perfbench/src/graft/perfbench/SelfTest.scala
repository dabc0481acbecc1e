package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import graft.streaming.ChangeLogPipeline

/** The benchmark's own tests: the percentile rule, span self times, the
  * Zipfian key chooser and generator determinism. Run with
  * `python3 perfbench/test.py`.
  */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def expect(ok: Boolean, what: String): Unit =
    if (ok) passed += 1 else { failures += 1; System.err.println(s"FAIL: $what") }

  def percentiles(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    expect(Stats.percentile(xs, 0.9).contains(90.0), "p90 of 100 samples is the 90th")
    expect(Stats.percentile(xs.take(99), 0.9).isEmpty, "p90 of 99 samples has 9 beyond: refused")
    expect(Stats.percentile(xs.take(20), 0.5).contains(10.0), "p50 of 20 samples")
    expect(Stats.percentile(xs.take(19), 0.5).isEmpty, "p50 of 19 samples has 9 beyond: refused")
    expect(Stats.percentile(xs.reverse, 0.9).contains(90.0), "percentile ignores input order")
    expect(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "odd median")
    expect(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5, "even median")
  }

  def selfTimes(): Unit = {
    val t = new Tracer(true, null)
    t.record(Span(1, 0, "a", 0, 10))
    t.record(Span(2, 1, "b", 2, 5))
    t.record(Span(3, 1, "b", 4, 8))
    t.record(Span(4, 3, "c", 4, 12))
    val m = t.summary.map { case (n, c, tot, self) => n -> (c, tot, self) }.toMap
    expect(m("a") == ((1, 10 / 1e6, 4 / 1e6)), s"self time of a: ${m("a")}")
    // c overhangs its parent: only the overlap is covered
    expect(m("b") == ((2, 7 / 1e6, 3 / 1e6)), s"self time of b: ${m("b")}")
  }

  /** Digest of a wire log: its segments' bytes concatenated in log order.
    * Segment boundaries come from writeWire's range-partition sample,
    * which depends on RDD ids, so they repeat across fresh processes but
    * not across calls within one; the log itself must repeat exactly.
    */
  private def dirDigest(d: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val s = Files.list(d)
    try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
      .foreach(p => md.update(Files.readAllBytes(p)))
    finally s.close()
    md.digest().map(b => f"$b%02x").mkString
  }

  def wireDeterminism(work: Path): Unit = {
    val spark = Main.session(2, work)
    def wire(seed: Long, name: String): String = {
      val d = work.resolve(name)
      val m = new TableModel(seed, highEntropy = true)
      ChangeLogPipeline.writeWire(Gen.feed(spark, m.snapshot(2000), 2), d.toString, 2)
      ChangeLogPipeline.writeWire(
        Gen.feed(spark, m.changes(1, 300, 0.8, 0.1, latest = true), 1), d.toString, 1)
      dirDigest(d)
    }
    val a = wire(7, "a"); val b = wire(7, "b"); val c = wire(8, "c")
    def listing(n: String) = Files.list(work.resolve(n)).iterator().asScala
      .map(p => s"${p.getFileName}:${Files.size(p)}").toSeq.sorted.mkString(" ")
    expect(a == b, s"same seed: byte-identical wire log\n  ${listing("a")}\n  ${listing("b")}")
    expect(a != c, "another seed: another wire log")
    spark.stop()
  }

  def corpusDeterminism(): Unit = {
    def sig(seed: Long) = {
      val d = Corpus.generate(seed)
      (d.docs.map { case (id, tk) => id -> tk.mkString(" ") }, d.planted, d.contaminated)
    }
    expect(sig(7) == sig(7), "same seed: identical corpus")
    expect(sig(7) != sig(8), "another seed: another corpus")
    val d = Corpus.generate(7)
    val texts = d.docs.toMap
    expect(d.planted.forall { case (a, b) => Corpus.jaccard(texts(a), texts(b)) >= 0.85 },
      "planted pairs are near-duplicates")
  }

  def zipfian(): Unit = {
    val z = new Zipfian(1000)
    val r = Gen.rng(7, 0)
    val ranks = Seq.fill(20000)(z.next(r))
    expect(ranks.forall(k => k >= 0 && k < 1000), "Zipfian ranks lie in range")
    val counts = ranks.groupBy(identity).map { case (k, v) => k -> v.length }
    expect(counts(0L) == counts.values.max, "Zipfian rank 0 is the most likely")
    // ranks 0 and 1 are drawn exactly: P(k) = (k + 1)^-0.99 / zeta(1000)
    val zeta = (1 to 1000).map(i => 1.0 / math.pow(i, 0.99)).sum
    Seq(0L, 1L).foreach { k =>
      val share = counts(k).toDouble / ranks.length
      val want = math.pow(k + 1.0, -0.99) / zeta
      expect(math.abs(share - want) < 0.01, s"Zipfian share of rank $k: $share want $want")
    }
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    Files.createDirectories(work)
    percentiles()
    selfTimes()
    zipfian()
    corpusDeterminism()
    wireDeterminism(work)
    println(s"selftest: $passed passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
