package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Materialize
import graft.sources.{ChangeFeedGen, Tables}
import graft.streaming.BucketedMergeSink

class BucketedMergeSinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  val sfDir = "/root/testdata/sf0.001"

  def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect().map(_.mkString("|")).sorted.toSeq
  }

  test("bucketed merge matches latestState semantics") {
    val feed = ChangeFeedGen.standardFeed(
      Tables.load(spark, sfDir, "orders"), "orders")
    val sink = new BucketedMergeSink(
      Files.createTempDirectory("bsink").toString, buckets = 8)
    sink.merge(feed.filter(col("op") === "r"), 0L)
    sink.merge(feed.filter(col("op") =!= "r"), 1L)
    assert(canon(sink.view(spark)) == canon(Materialize.latestState(feed)))
  }

  test("every bucket an epoch rewrites is one data file") {
    val feed = ChangeFeedGen.standardFeed(
      Tables.load(spark, sfDir, "orders"), "orders")
    val dir = Files.createTempDirectory("bsink-files")
    val sink = new BucketedMergeSink(dir.toString, buckets = 8)
    sink.merge(feed.filter(col("op") === "r"), 0L)
    sink.merge(feed.filter(col("op") =!= "r"), 1L)
    for (v <- Seq("v0", "v1")) {
      val bucketDirs = Files.list(dir.resolve(v)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("_bucket="))
      assert(bucketDirs.size >= 2, s"$v touched ${bucketDirs.size} buckets")
      bucketDirs.foreach { b =>
        val files = Files.list(b).toArray.toSeq
          .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
          .filter(_.endsWith(".parquet"))
        assert(files.size == 1, s"$b: ${files.mkString(", ")}")
      }
    }
  }

  test("a pinned write-task count places buckets by id: n partitions, " +
      "partition p holds exactly the buckets ≡ p (mod n)") {
    val rows = spark.range(0L, 4000L, 1L, 3).select(
      struct((col("id") % 900).as("k")).as("key"), col("id").as("pos"),
      (col("id") % 16).as("_bucket"))
    for (n <- Seq(1, 3, 16)) {
      val out = Materialize.latestPerKeyToBuckets(rows, n)
      assert(out.rdd.getNumPartitions == n, s"n=$n")
      val placed = out.select(spark_partition_id(), col("_bucket"))
        .distinct().collect().map(r => (r.getInt(0), r.getLong(1)))
      assert(placed.map(_._2).sorted.toSeq == (0L until 16L), s"n=$n")
      assert(placed.forall { case (p, b) => b % n == p }, s"n=$n: " +
        placed.sorted.mkString(" "))
    }
  }

  test("replaying a committed epoch is a no-op; bucket count is pinned") {
    val feed = ChangeFeedGen.standardFeed(
      Tables.load(spark, sfDir, "supplier"), "supplier")
    val dir = Files.createTempDirectory("bsink-replay").toString
    val sink = new BucketedMergeSink(dir, buckets = 8)
    sink.merge(feed.filter(col("op") === "r"), 0L)
    sink.merge(feed.filter(col("op") =!= "r"), 1L)
    val committed = canon(sink.view(spark))
    // foreachBatch-style retry of epoch 1 (crash between sink commit and
    // checkpoint commit): must not overwrite v1 while reading it — and
    // must not change state
    sink.merge(feed.filter(col("op") =!= "r"), 1L)
    sink.merge(feed.filter(col("op") === "r"), 0L)
    assert(canon(sink.view(spark)) == committed)
    assert(sink.versions == Seq(0L, 1L), "replays must not add versions")
    // reopening with a different bucket count would misroute keys
    assertThrows[IllegalArgumentException] {
      new BucketedMergeSink(dir, buckets = 32)
        .merge(feed.filter(col("op") =!= "r"), 2L)
    }
    // same count reopens fine
    new BucketedMergeSink(dir, buckets = 8)
      .merge(feed.filter(col("op") =!= "r"), 2L)
    assert(canon(sink.view(spark)) == committed)
  }

  test("a narrow batch rewrites only the buckets it touches") {
    val feed = ChangeFeedGen.standardFeed(
      Tables.load(spark, sfDir, "customer"), "customer")
    val sink = new BucketedMergeSink(
      Files.createTempDirectory("bsink").toString, buckets = 16)
    sink.merge(feed.filter(col("op") === "r"), 0L)
    val m0 = sink.manifest
    assert(m0.size == 16, s"snapshot should populate all buckets, got ${m0.size}")
    // narrow update batch: a handful of keys → a few buckets
    val narrow = feed.filter(col("op") === "u" && col("key.c_custkey") < 20)
    assert(narrow.count() > 0)
    sink.merge(narrow, 1L)
    val m1 = sink.manifest
    val rewritten = m1.count { case (b, p) => m0(b) != p }
    assert(rewritten < 16, "narrow batch rewrote every bucket")
    assert(m1.exists { case (b, p) => m0(b) == p },
      "no untouched bucket kept its old files")
    // and the merged view is still exactly right
    val want = Materialize.latestState(
      feed.filter(col("op") === "r").unionAll(narrow))
    assert(canon(sink.view(spark)) == canon(want))
  }

  test("vacuum removes unreferenced versions, state still readable") {
    val feed = ChangeFeedGen.standardFeed(
      Tables.load(spark, sfDir, "nation"), "nation")
    val sink = new BucketedMergeSink(
      Files.createTempDirectory("bsink").toString, buckets = 4)
    // every merge touches all 4 buckets → each older version dies entirely
    sink.merge(feed.filter(col("op") === "r"), 0L)
    sink.merge(feed, 1L)
    sink.merge(feed, 2L)
    val before = canon(sink.view(spark))
    val removed = sink.vacuum()
    assert(removed >= 1, "expected at least one dead version dir")
    assert(canon(sink.view(spark)) == before, "vacuum broke live state")
    assert(sink.vacuum() == 0, "second vacuum should be a no-op")
  }

  test("time travel: viewAt reads any committed epoch; vacuum makes it strict") {
    val feed = ChangeFeedGen.standardFeed(
      Tables.load(spark, sfDir, "region"), "region")
    val sink = new BucketedMergeSink(
      Files.createTempDirectory("bsink").toString, buckets = 4)
    sink.merge(feed.filter(col("op") === "r"), 0L)  // snapshot only
    sink.merge(feed, 2L)                            // full feed (c/u/d applied)
    assert(sink.versions == Seq(0L, 2L))
    // as-of 0: snapshot state; as-of 1: VERSION AS OF semantics → still 0
    val snap = canon(sink.viewAt(spark, 0L))
    assert(snap == canon(feed.filter(col("op") === "r").select(col("after.*"))))
    assert(canon(sink.viewAt(spark, 1L)) == snap)
    assert(canon(sink.viewAt(spark, 2L)) == canon(sink.view(spark)))
    assert(sink.stateAt(spark, -1L).isEmpty)
    // vacuum erodes epoch-0 data (all buckets rewritten at 2) → strict error
    if (sink.vacuum() > 0)
      assertThrows[IllegalArgumentException](sink.viewAt(spark, 0L).collect())
  }

  test("replay of an old batch cannot regress newer state (pos precedence)") {
    val feed = ChangeFeedGen.standardFeed(
      Tables.load(spark, sfDir, "supplier"), "supplier")
    val sink = new BucketedMergeSink(
      Files.createTempDirectory("bsink").toString, buckets = 4)
    sink.merge(feed, 0L)
    sink.merge(feed.filter(col("op") === "r"), 1L) // stale replay
    assert(canon(sink.view(spark)) == canon(Materialize.latestState(feed)))
  }

  test("orphaned manifest (crash before CURRENT swap) is not a committed epoch") {
    val feed = ChangeFeedGen.standardFeed(
      Tables.load(spark, sfDir, "part"), "part")
    val dir = Files.createTempDirectory("bsink-orphan")
    val sink = new BucketedMergeSink(dir.toString, buckets = 8)
    sink.merge(feed.filter(col("op") === "r"), 0L)
    // simulate the crash window: epoch 1's manifest lands on disk but the
    // CURRENT pointer was never swapped
    Files.writeString(dir.resolve("m1.manifest"), "0\t/nowhere\t\n")
    assert(sink.committedEpoch.contains(0L),
      "an unswapped manifest must not count as committed")
    // the foreachBatch replay of epoch 1 must APPLY, not be skipped
    sink.merge(feed.filter(col("op") =!= "r"), 1L)
    assert(canon(sink.view(spark)) ==
      canon(Materialize.latestState(feed)))
    assert(sink.committedEpoch.contains(1L))
  }

  test("rebucket: state identical, new count merges on, old handle " +
      "refuses, pre-rebucket time travel intact") {
    val feed = ChangeFeedGen.standardFeed(
      Tables.load(spark, sfDir, "orders"), "orders")
    val dir = Files.createTempDirectory("bsink-rb").toString
    val sink = new BucketedMergeSink(dir, buckets = 8)
    sink.merge(feed.filter(col("op") === "r"), 0L)
    sink.merge(feed.filter(col("op") === "u"), 1L)
    val before = canon(sink.view(spark))
    val grown = sink.rebucket(spark, 32, 2L)
    assert(canon(grown.view(spark)) == before,
      "rebucket must preserve state byte-for-byte (by value)")
    // reopening cold also sees the NEW count (manifest K line)
    assertThrows[IllegalArgumentException] {
      new BucketedMergeSink(dir, buckets = 8)
        .merge(feed.filter(col("op") === "d"), 3L)
    }
    // the old handle refuses further merges — its count no longer
    // matches the committed layout
    assertThrows[IllegalArgumentException] {
      sink.merge(feed.filter(col("op") === "d"), 3L)
    }
    // new handle merges on under the new layout
    grown.merge(feed.filter(col("op") === "d"), 3L)
    assert(canon(grown.view(spark)) == canon(Materialize.latestState(feed)))
    // pre-rebucket epochs still time-travel against the OLD layout
    assert(canon(grown.viewAt(spark, 1L)) == before)
    assert(grown.changedBuckets(1L, 2L).nonEmpty,
      "rebucket epoch must report buckets changed (ids re-keyed)")
  }
}
