package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.v2.GraftSinkCatalog
import graft.streaming.{CdcSink, ManifestSink, SinkFs}

/** On-disk formats only earlier builds wrote are REFUSED, never read:
  * for every sink kind each retired format fails loudly — naming the
  * directory and saying to re-materialize it — on the operations that
  * consume the retired artifact, and every other operation returns
  * exactly what the intact table returns (never empty, never partial).
  * A fresh table round-trips the current format.
  *
  * The operations: `open` (the metadata a handle resolves: tip epoch,
  * versions with commit times, tip position, the state's layout),
  * `read` (time travel to the newest epoch and its changefeed rows)
  * and `merge` (the next epoch).
  */
class RetiredFormatSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get

  private def envBatch(markers: (Int, String, String)*): DataFrame = {
    import spark.implicits._
    markers.toSeq.toDF("k", "name", "o").select(
      struct(col("k").as("n_nationkey")).as("key"),
      lit(null).cast("struct<n_nationkey:int,n_name:string>").as("before"),
      struct(col("k").as("n_nationkey"), col("name").as("n_name")).as("after"),
      col("o").as("op"),
      struct((col("k") + 100000).cast("long").as("pos")).as("source"),
      lit(null).cast("string").as("transaction"),
      (col("k") + 100000).cast("long").as("ts_ms"))
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private val props = Map("buckets" -> "4", "changefeed" -> "true")
  private val manifestKinds = Seq("bucketed", "lsm", "scd2")
  private val allKinds = "full" +: manifestKinds

  /** A table with two committed epochs (snapshot, then one update). */
  private def fresh(kind: String): Path = {
    val dir = Files.createTempDirectory(s"retired-$kind")
    val s = open(kind, dir)
    assert(s.merge(envBatch((1 to 8).map(k => (k, s"n$k", "r")): _*), 0L))
    assert(s.merge(envBatch((3, "u3", "u")).withColumn("source",
      struct(lit(900000L).as("pos"))), 1L))
    dir
  }

  private def open(kind: String, dir: Path): CdcSink =
    GraftSinkCatalog.sinkFor(kind, dir.toString, props)

  private def artifact(kind: String, epoch: Long) =
    if (kind == "full") s"v$epoch" else s"m$epoch.manifest"

  /** Rewrite the newest manifest's lines. */
  private def editManifest(dir: Path)(f: Seq[String] => Seq[String]): Unit = {
    val mf = dir.resolve("m1.manifest")
    Files.writeString(mf, f(Files.readString(mf).split("\n").toSeq)
      .mkString("", "\n", "\n"))
  }

  private val ops: Seq[(String, CdcSink => Any)] = Seq(
    "open" -> (s => (s.committedEpoch, s.versions.map(s.commitTimeMillis),
      s.tipPos(spark), s.state(spark).map(_.schema))),
    "read" -> (s => (s.stateAt(spark, 1L).map(canon),
      s.changesAt(spark, 1L, Some(0L)).map(canon))),
    "merge" -> (s => (s.merge(envBatch((5, "u5", "u")).withColumn("source",
      struct(lit(950000L).as("pos"))), 2L), canon(s.view(spark)))))

  private val every: String => Set[String] = _ => Set("open", "read", "merge")

  /** (retired format, kinds that could hold it, the operations that
    * consume it per kind, how an earlier build left it on disk).
    */
  private val formats: Seq[(String, Seq[String], String => Set[String],
                            (String, Path) => Unit)] = Seq(
    ("manifest without the format line", manifestKinds, every,
      (_, d) => editManifest(d)(_.tail)),
    ("_buckets-only bucket count", manifestKinds, every,
      (_, d) => {
        editManifest(d)(_.drop(2))
        Files.writeString(d.resolve("_buckets"), "4")
      }),
    ("DDL-less manifest entry", manifestKinds, every,
      (_, d) => editManifest(d)(ls => ls.take(2) ++ ls.drop(2).map(l =>
        l.split("\t", -1).updated(3, "").mkString("\t")))),
    ("absolute-path manifest entry", manifestKinds, every,
      (_, d) => editManifest(d)(ls => ls.take(2) ++ ls.drop(2).map { l =>
        val f = l.split("\t", -1)
        f.updated(2, d.resolve(f(2)).toString).mkString("\t")
      })),
    ("unframed CURRENT pointer", allKinds, every,
      (_, d) => Files.writeString(d.resolve("CURRENT"),
        SinkFs.unframe(Files.readString(d.resolve("CURRENT"))).get.trim)),
    // the full kind's merge rewrites the whole state, so its tip comes
    // from the write alone and never reads the previous sidecar
    ("committed epoch without .maxpos", allKinds,
      k => if (k == "full") Set("open") else Set("open", "merge"),
      (k, d) => Files.delete(d.resolve(artifact(k, 1L) + ".maxpos"))),
    ("committed epoch without .committs", allKinds, _ => Set("open"),
      (k, d) => Files.delete(d.resolve(artifact(k, 1L) + ".committs"))),
    ("c<epoch>/ sidecar without .ddl", Seq("full", "bucketed", "scd2"),
      _ => Set("read"),
      (_, d) => Files.delete(d.resolve("c1.ddl"))))

  /** What an intact table answers, op by op (each op on its own twin,
    * so a merge never runs over another op's epoch).
    */
  private lazy val intact: Map[String, Map[String, Any]] =
    allKinds.map(k => k -> ops.map { case (name, op) =>
      name -> op(open(k, fresh(k)))
    }.toMap).toMap

  for ((format, kinds, consumers, corrupt) <- formats; kind <- kinds) {
    test(s"$kind: $format is refused loudly, never read as empty") {
      val dir = fresh(kind)
      corrupt(kind, dir)
      for ((name, op) <- ops) {
        if (consumers(kind)(name)) {
          val e = intercept[IllegalStateException](op(open(kind, dir)))
          assert(e.getMessage.contains("re-materialize") &&
            e.getMessage.contains(dir.getFileName.toString),
            s"$name: ${e.getMessage}")
        } else {
          val got = op(open(kind, dir))
          // commit times differ between the twin and this table
          def stable(v: Any) = v match {
            case (e, _: Seq[_], t, s) => (e, t, s)
            case other => other
          }
          assert(stable(got) == stable(intact(kind)(name)), s"$name changed")
        }
      }
    }
  }

  test("a fresh table round-trips the current format, every commit " +
      "writes both sidecars, an empty first commit included") {
    for (kind <- allKinds) {
      val dir = fresh(kind)
      val s = open(kind, dir)
      val framed = Files.readString(dir.resolve("CURRENT"))
      assert(SinkFs.unframe(framed).map(_.trim).contains(artifact(kind, 1L)))
      for (e <- Seq(0L, 1L); side <- Seq(".maxpos", ".committs"))
        assert(Files.exists(dir.resolve(artifact(kind, e) + side)), s"$kind $e$side")
      assert(s.tipPos(spark).contains(900000L))
      if (kind != "full") {
        val lines = Files.readString(dir.resolve("m1.manifest")).split("\n")
        assert(lines(0) == ManifestSink.FormatLine && lines(1) == "K\t4",
          lines.take(2).mkString("|"))
        assert(lines.drop(2).forall(l => Set("O", "B", "D")(l.split("\t")(0)) &&
          !l.split("\t")(2).startsWith("/") && l.split("\t")(3).nonEmpty),
          lines.mkString("\n"))
        val m = s.asInstanceOf[ManifestSink].manifest
        assert(m.k == 4 && !m.isEmpty)
      }
      // a relocated directory reads the same (paths are root-relative)
      val before = canon(s.view(spark))
      val moved = dir.resolveSibling(dir.getFileName.toString + "-moved")
      Files.move(dir, moved)
      assert(canon(open(kind, moved).view(spark)) == before, kind)
    }
    // an empty table's first commit still records its (empty) tip
    val dir = Files.createTempDirectory("retired-empty")
    val s = open("bucketed", dir)
    assert(s.merge(envBatch().limit(0), 0L))
    assert(Files.readString(dir.resolve("m0.manifest.maxpos")).isEmpty)
    assert(Files.exists(dir.resolve("m0.manifest.committs")))
    assert(s.tipPos(spark).isEmpty)
    assert(s.merge(envBatch((1, "a", "c")), 1L))
    assert(s.tipPos(spark).contains(100001L))
  }
}
