package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The sink family's commit machinery rides the Hadoop FileSystem API
  * (graft.streaming.SinkFs) — manifests, version listings, the atomic
  * CURRENT swap, commit-ts/.ddl sidecars, the `_floor`, and EpochClaim
  * claim files — so a sink root can be any Hadoop path (`file:`,
  * `hdfs://`, an object store with a connector), not just the driver's
  * local disk. Pinned here by driving the FULL lifecycle — CREATE →
  * append → SQL DML → `$changes` → time travel → CALL vacuum — through
  * an EXPLICIT `file:` URI root: every path the machinery touches then
  * carries a scheme, so any code still assuming `java.nio` local paths
  * fails loudly rather than silently resolving against the working dir.
  */
class SinkFsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get

  private def envBatch(markers: (Int, String, String)*): DataFrame = {
    import spark.implicits._
    markers.toSeq.toDF("k", "name", "o").select(
      struct(col("k").as("n_nationkey")).as("key"),
      lit(null).cast("struct<n_nationkey:int,n_name:string>").as("before"),
      when(col("o") === "d", lit(null)
        .cast("struct<n_nationkey:int,n_name:string>"))
        .otherwise(struct(col("k").as("n_nationkey"),
          col("name").as("n_name"))).as("after"),
      col("o").as("op"),
      struct((col("k") + 100000).cast("long").as("pos")).as("source"),
      lit(null).cast("string").as("transaction"),
      (col("k") + 100000).cast("long").as("ts_ms"))
  }

  private lazy val (cat, localRoot) = {
    val local = Files.createTempDirectory("sinkfs-cat").toString
    val c = "graft_fsuri"
    spark.conf.set(s"spark.sql.catalog.$c",
      classOf[graft.sinks.v2.GraftSinkCatalog].getName)
    // the point of the suite: a scheme-qualified Hadoop URI root
    spark.conf.set(s"spark.sql.catalog.$c.root", s"file://$local")
    (c, local)
  }

  for (kind <- Seq("full", "bucketed", "lsm", "scd2")) {
    test(s"$kind: create -> append -> DML -> $$changes -> time travel -> " +
        "vacuum, all through a file: URI sink root") {
      val name = s"t_" + java.util.UUID.randomUUID().toString.take(8)
      val tbl = s"$cat.$kind.$name"
      val props = Map("buckets" -> "4", "changefeed" -> "true")

      // CREATE (snapshot epoch 0): commit machinery writes manifests /
      // versions / CURRENT under the URI root
      val w = envBatch((1 to 10).map(k => (k, s"n$k", "r")): _*).writeTo(tbl)
      props.foldLeft(w) { case (w, (k, v)) => w.tableProperty(k, v) }.create()
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$localRoot/$kind/$name/CURRENT")),
        "the URI root must resolve to the same local directory")
      assert(spark.table(tbl).count() == 10)

      // append epoch 1 (explicit epoch: the replay-guard path)
      envBatch((3, "u3", "u")).withColumn("source",
        struct(lit(900000L).as("pos")))
        .writeTo(tbl).option("epoch", "1").append()
      assert(spark.sql(s"SELECT after.n_name FROM $tbl " +
        "WHERE key.n_nationkey = 3 AND op <> 'd'")
        .head.getString(0) == "u3")

      // SQL DML (default-epoch commitWithRetry path, epoch 2)
      spark.sql(s"UPDATE $tbl SET after.n_name = 'dml5' " +
        "WHERE key.n_nationkey = 5")
      assert(spark.sql(s"SELECT after.n_name FROM $tbl " +
        "WHERE key.n_nationkey = 5 AND op <> 'd'")
        .head.getString(0) == "dml5")

      // $changes: snapshot + both increments (sidecars under the URI root)
      val feed = spark.table(s"$cat.$kind.`$name$$changes`")
      val epochs = feed.select("epoch").collect().map(_.getLong(0))
      assert(epochs.count(_ == 0L) == 10 && epochs.count(_ > 0L) >= 2,
        s"$kind feed epochs: ${epochs.toSeq.sorted}")

      // time travel to the pre-DML epoch
      assert(spark.sql(s"SELECT after.n_name FROM $tbl VERSION AS OF 1 " +
        "WHERE key.n_nationkey = 5 AND op <> 'd'").head.getString(0) == "n5")

      // DELETE tombstones a key as a fresh epoch
      spark.sql(s"DELETE FROM $tbl WHERE key.n_nationkey = 7")
      assert(spark.sql(s"SELECT count(*) FROM $tbl " +
        "WHERE key.n_nationkey = 7 AND op <> 'd'").head.getLong(0) == 0L)

      // CALL vacuum runs the maintenance path through the URI root
      val removed = spark.sql(
        s"CALL $cat.system.vacuum(table => '$kind.$name')").collect()
      assert(removed.length == 1 && removed(0).getInt(0) >= 0)
      assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE op <> 'd'")
        .head.getLong(0) == 9L, s"$kind: post-vacuum read changed")
    }
  }

  test("no-atomic-rename scheme (forced): full lifecycle commits via " +
      "framed overwrite-in-place + read-back-verify, and a reader " +
      "hammering the swap loop never observes a torn pointer (the " +
      "object-store commit layer — Delta S3SingleDriverLogStore role)") {
    val old = sys.props.get("graft.sink.rename.atomic")
    sys.props("graft.sink.rename.atomic") = "false"
    try {
      // lifecycle: create -> append -> DML -> time travel, every commit
      // riding the write-in-place pointer protocol
      val name = s"t_" + java.util.UUID.randomUUID().toString.take(8)
      val tbl = s"$cat.lsm.$name"
      envBatch((1 to 10).map(k => (k, s"n$k", "r")): _*).writeTo(tbl)
        .tableProperty("buckets", "4").create()
      assert(spark.table(tbl).count() == 10)
      envBatch((3, "u3", "u")).withColumn("source",
        struct(lit(900000L).as("pos")))
        .writeTo(tbl).option("epoch", "1").append()
      spark.sql(s"UPDATE $tbl SET after.n_name = 'dml5' " +
        "WHERE key.n_nationkey = 5")
      assert(spark.sql(s"SELECT after.n_name FROM $tbl " +
        "WHERE key.n_nationkey = 5 AND op <> 'd'").head.getString(0) == "dml5")
      assert(spark.sql(s"SELECT after.n_name FROM $tbl VERSION AS OF 1 " +
        "WHERE key.n_nationkey = 5 AND op <> 'd'").head.getString(0) == "n5")

      // swap hammer: overwrite-in-place swaps racing validating readers
      // — the frame + retry must make every read a complete payload
      val dir = Files.createTempDirectory("nonatomic-swap").toString
      val pointer = new org.apache.hadoop.fs.Path(dir, "CURRENT")
      graft.streaming.SinkFs.swapPointer(pointer, "CURRENT.tmp", "v0")
      @volatile var stop = false
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val readers = (1 to 4).map { _ =>
        val t = new Thread(() => {
          try {
            while (!stop) {
              val c = graft.streaming.SinkFs.readPointer(pointer)
              if (!c.startsWith("v") || c.drop(1).toLongOption.isEmpty)
                throw new AssertionError(s"torn pointer content: '$c'")
            }
          } catch { case t: Throwable => errors.add(t); stop = true }
        })
        t.start(); t
      }
      // commit-scale spacing (real swaps are epoch-scale; a µs-scale
      // hot loop over a truncate-in-place local file is harsher than
      // any real object store, where a PUT is atomic per object)
      for (i <- 1 until 1500 if !stop) {
        graft.streaming.SinkFs.swapPointer(pointer, "CURRENT.tmp", s"v$i")
        Thread.sleep(0, 500000) // ~0.5 ms between commits
      }
      stop = true
      readers.foreach(_.join())
      assert(errors.isEmpty, s"torn read on forced non-atomic scheme: " +
        s"${errors.peek()}")
    } finally {
      old match {
        case Some(v) => sys.props("graft.sink.rename.atomic") = v
        case None => sys.props -= "graft.sink.rename.atomic"
      }
    }
  }

  test("a feed-only retention vacuum must not make AS OF reads claim " +
      "version erosion (_feed_floor vs _floor separation)") {
    val dir = Files.createTempDirectory("feedfloor").toString
    val sink = new graft.streaming.MergeSink(dir, changefeedDelta = true)
    // first-ever epoch is 3 (a resuming caller's seeded counter)
    def b(k: Int, n: String) = envBatch((k, n, "u"))
    assert(sink.merge(b(1, "a"), 3L))
    assert(sink.merge(b(2, "b"), 4L))
    assert(sink.merge(b(3, "c"), 5L))
    assert(sink.vacuumFeed(5L) > 0, "feed sidecars below 5 reclaimed")
    // pre-fix this threw "version data vacuumed away" although every
    // version dir is intact — the FEED floor had leaked into the
    // version-erosion check; correct: plain None (no epoch <= 1 exists)
    assert(sink.stateAt(spark, 1L).isEmpty)
    // the feed paths still see the erosion
    assert(sink.changefeedFloor.contains(5L))
    // and a REAL version vacuum still raises loudly below its floor
    assert(sink.vacuum() > 0)
    intercept[IllegalStateException] { sink.stateAt(spark, 4L) }
  }

  test("tipPos rides the .maxpos commit sidecar: O(1) driver metadata, " +
      "exact across appends, DML, compaction, and delete tombstones") {
    val dir = Files.createTempDirectory("maxpos").toString
    val sink = new graft.streaming.LsmMergeSink(dir, buckets = 4,
      compactEvery = 3)
    assert(sink.merge(envBatch((1 to 5).map(k => (k, s"n$k", "r")): _*), 0L))
    // envBatch positions are k+100000
    assert(sink.tipPos(spark).contains(100005L))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "m0.manifest.maxpos")),
      "commit must persist the tip sidecar")
    // an update at a higher pos raises the tip
    assert(sink.merge(envBatch((2, "u2", "u")).withColumn("source",
      struct(lit(500000L).as("pos"))), 1L))
    assert(sink.tipPos(spark).contains(500000L))
    // a delete's position counts (tombstones are retained rows)
    assert(sink.merge(envBatch((3, "d3", "d")).withColumn("source",
      struct(lit(600000L).as("pos"))), 2L))
    assert(sink.tipPos(spark).contains(600000L))
    // epoch 2 hit compactEvery=3: the fold must carry the tip unchanged
    assert(sink.manifest.deltas.isEmpty, "compaction should have run")
    assert(sink.tipPos(spark).contains(600000L))
    assert(sink.merge(envBatch((4, "u4", "u")).withColumn("source",
      struct(lit(550000L).as("pos"))), 3L))
    // 550000 < the deleted key's 600000: the tip must NOT move backwards
    assert(sink.tipPos(spark).contains(600000L))
    // a committed epoch without its sidecar (a table an earlier build
    // wrote) is refused loudly by both readers — tipPos and the next
    // merge's tip arithmetic — never answered from a footer scan
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "m3.manifest.maxpos"))
    for (e <- Seq(intercept[IllegalStateException](sink.tipPos(spark)),
                  intercept[IllegalStateException](sink.merge(envBatch(
                    (5, "u5", "u")), 4L))))
      assert(e.getMessage.contains("m3.manifest.maxpos") &&
        e.getMessage.contains("re-materialize"), e.getMessage)
  }

  test("point lookups and rename work through the URI root") {
    val name = s"t_" + java.util.UUID.randomUUID().toString.take(8)
    val tbl = s"$cat.bucketed.$name"
    envBatch((1 to 20).map(k => (k, s"n$k", "r")): _*).writeTo(tbl)
      .tableProperty("buckets", "4").create()
    assert(spark.sql(s"SELECT after.n_name FROM $tbl " +
      "WHERE key.n_nationkey = 11 AND op <> 'd'").head.getString(0) == "n11")
    spark.sql(s"ALTER TABLE $tbl RENAME TO bucketed.${name}_r")
    assert(spark.table(s"$cat.bucketed.${name}_r").count() == 20)
    assert(spark.catalog.tableExists(s"$cat.bucketed.${name}_r"))
  }
}
