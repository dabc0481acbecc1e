package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ChangeFeedGen, Tables}

/** Bucket-pruned POINT LOOKUPS through the sink catalog
  * (CdcSinkTable.prunedFrame + CdcSink.stateBucket): a full-key
  * equality predicate resolves to exactly one hash bucket, so the scan
  * reads that bucket's files instead of the table. xxhash scatters
  * keys, so parquet row-group min/max stats can NEVER prune an
  * equality on the key — without this path a point lookup is a full
  * table scan at any scale. Soundness is the bar: the pruned read must
  * return exactly what the full scan returns (wrong bucket arithmetic
  * would surface as a missing row, pinned here), and partial-key
  * predicates must NOT prune.
  */
class PointLookupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  val sfDir = "/root/testdata/sf0.001"

  private lazy val cat: String = {
    val c = "graft_pl"
    if (spark.conf.getOption(s"spark.sql.catalog.$c").isEmpty) {
      spark.conf.set(s"spark.sql.catalog.$c",
        classOf[graft.sinks.v2.GraftSinkCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$c.root",
        Files.createTempDirectory("pl-cat").toString)
    }
    c
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect().map(_.mkString("|")).sorted.toSeq
  }

  /** Jobs `body` runs and the input bytes their tasks read (job-group
    * scoped — concurrent suites on the shared session cannot skew it;
    * the listener bus is async, so poll until stable like
    * PlanSpec.jobsDuring).
    */
  private def jobsAndBytesDuring(body: => Unit): (Int, Long) = {
    val group = s"point-lookup-${java.util.UUID.randomUUID()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new AtomicLong
    val bytes = new AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (Option(j.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          j.stageIds.foreach(id => stages.add(id): Unit)
        }
      }
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (stages.contains(t.stageId) && t.taskMetrics != null)
          bytes.addAndGet(t.taskMetrics.inputMetrics.bytesRead): Unit
      }
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, "PointLookupSpec.jobsAndBytesDuring",
      interruptOnCancel = false)
    try {
      body
      val deadline = System.nanoTime + 3_000_000_000L
      var last = (-1L, -1L)
      while (System.nanoTime < deadline && (jobs.get, bytes.get) != last) {
        last = (jobs.get, bytes.get)
        Thread.sleep(200)
      }
      (jobs.get.toInt, bytes.get)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  private def freshTable(kind: String): String = {
    val feed = ChangeFeedGen.standardFeed(
      Tables.load(spark, sfDir, "orders"), "orders")
    val name = s"$cat.$kind.orders_" +
      java.util.UUID.randomUUID().toString.take(8)
    feed.filter(col("op") === "r").writeTo(name)
      .tableProperty("buckets", "16").tableProperty("compactEvery", "100")
      .create()
    feed.filter(col("op") =!= "r").writeTo(name).option("epoch", "1").append()
    name
  }

  /** A key that survives the feed's deletes, plus an absent key. */
  private def keys(name: String): (Long, Long) = {
    val present = spark.sql(
      s"SELECT min(key.o_orderkey) FROM $name WHERE op <> 'd'")
      .head.get(0).toString.toLong
    (present, -987654321L)
  }

  for (kind <- Seq("bucketed", "lsm", "scd2")) {
    test(s"$kind: full-key equality returns exactly the full scan's row " +
        "and reads a fraction of its bytes") {
      val name = freshTable(kind)
      val (present, absent) = keys(name)
      def point = spark.sql(s"SELECT after.* FROM $name " +
        s"WHERE key.o_orderkey = $present AND op <> 'd'")
      val expected = canon(spark.sql(
        s"SELECT after.* FROM $name WHERE op <> 'd'")
        .filter(col("o_orderkey") === present))
      assert(expected.length == 1, s"setup: $expected")
      assert(canon(point) == expected)
      assert(spark.sql(s"SELECT after.* FROM $name " +
        s"WHERE key.o_orderkey = $absent AND op <> 'd'").count() == 0)
      // I/O bound: the lookup reads ~1/16th of the buckets; 4x margin
      // for footers and the lsm delta leafs
      val (_, full) = jobsAndBytesDuring {
        spark.sql(s"SELECT after.* FROM $name WHERE op <> 'd'")
          .collect(): Unit
      }
      val (jobs, pruned) = jobsAndBytesDuring { point.collect(): Unit }
      assert(pruned > 0 && pruned < full / 4,
        s"$kind point lookup read $pruned of $full bytes — not pruned")
      // the key hashes on the driver: the lookup's only job is its
      // read. An outstanding lsm delta makes that read a merge-on-read
      // reduce, whose shuffle AQE runs as one more job; folded, it is one
      if (kind != "lsm") assert(jobs == 1, s"$kind point lookup ran $jobs jobs")
      else {
        assert(jobs == 2, s"lsm point lookup over a delta ran $jobs jobs")
        val short = name.split("\\.", 3)(2)
        spark.sql(s"CALL $cat.system.compact(table => 'lsm.$short')")
          .collect()
        val (folded, _) = jobsAndBytesDuring { point.collect(): Unit }
        assert(folded == 1, s"compacted lsm point lookup ran $folded jobs")
        assert(canon(point) == expected)
      }
    }
  }

  test("VERSION AS OF point lookup prunes against the pinned manifest") {
    val name = freshTable("bucketed")
    val (present, _) = keys(name)
    val asOf0 = canon(spark.sql(
      s"SELECT after.* FROM $name VERSION AS OF 0 WHERE op <> 'd'")
      .filter(col("o_orderkey") === present))
    assert(canon(spark.sql(s"SELECT after.* FROM $name VERSION AS OF 0 " +
      s"WHERE key.o_orderkey = $present AND op <> 'd'")) == asOf0)
  }

  test("a full-key point DELETE reads one bucket for its matched set, " +
      "not the table, and deletes exactly the pinned row") {
    val name = freshTable("lsm")
    val (present, _) = keys(name)
    val before = spark.sql(s"SELECT count(*) FROM $name WHERE op <> 'd'")
      .head.getLong(0)
    val (_, full) = jobsAndBytesDuring {
      spark.sql(s"SELECT after.* FROM $name WHERE op <> 'd'")
        .collect(): Unit
    }
    val (_, pruned) = jobsAndBytesDuring {
      spark.sql(s"DELETE FROM $name WHERE key.o_orderkey = $present")
    }
    assert(spark.sql(s"SELECT count(*) FROM $name " +
      s"WHERE key.o_orderkey = $present AND op <> 'd'").head.getLong(0) == 0L)
    assert(spark.sql(s"SELECT count(*) FROM $name WHERE op <> 'd'")
      .head.getLong(0) == before - 1, "exactly one row tombstoned")
    // matched-set scan = one bucket (16 here); tipPos adds a pos-only
    // column scan — 4x margin covers both plus footers
    assert(pruned > 0 && pruned < full / 4,
      s"point DELETE read $pruned of $full bytes — not pruned")
  }

  test("VERSION AS OF point lookup across a rebucket hashes under the " +
      "PINNED manifest's bucket count, not the current layout's") {
    for (kind <- Seq("bucketed", "lsm", "scd2")) {
      val name = freshTable(kind)
      val (present, _) = keys(name)
      val expectAt1 = canon(spark.sql(
        s"SELECT after.* FROM $name VERSION AS OF 1 WHERE op <> 'd'")
        .filter(col("o_orderkey") === present))
      assert(expectAt1.length == 1, s"$kind setup: $expectAt1")
      // rebucket 16 -> 4: every bucket id means something else afterwards
      val short = name.split("\\.", 3)(2)
      spark.sql(s"CALL $cat.system.rebucket(table => '$kind.$short', " +
        "buckets => 4)").collect()
      // the pre-rebucket epoch must still find the row — hashing the key
      // under the NEW count against the OLD manifest would probe a
      // bucket that holds different keys there and silently return none
      assert(canon(spark.sql(s"SELECT after.* FROM $name VERSION AS OF 1 " +
        s"WHERE key.o_orderkey = $present AND op <> 'd'")) == expectAt1,
        s"$kind: pre-rebucket as-of lookup lost the row")
      // and the live lookup prunes under the new count
      assert(canon(spark.sql(s"SELECT after.* FROM $name " +
        s"WHERE key.o_orderkey = $present AND op <> 'd'")) == expectAt1,
        s"$kind: post-rebucket live lookup lost the row")
    }
  }

  test("a point read pins ONE manifest: a rebucket that commits while " +
      "the key hashes still reads the row under the pinned layout") {
    import graft.streaming.{BucketedMergeSink, CdcSink, LsmMergeSink, Scd2Sink}
    val feed = ChangeFeedGen.standardFeed(
      Tables.load(spark, sfDir, "orders"), "orders")
    val kinds = Seq[(String, String => CdcSink, CdcSink => Unit)](
      ("bucketed", new BucketedMergeSink(_, 16),
        s => s.asInstanceOf[BucketedMergeSink].rebucket(spark, 4, 2L): Unit),
      ("lsm", new LsmMergeSink(_, 16, compactEvery = 100),
        s => s.asInstanceOf[LsmMergeSink].rebucket(spark, 4, 2L): Unit),
      ("scd2", new Scd2Sink(_, 16, compactEvery = 100),
        s => s.asInstanceOf[Scd2Sink].rebucket(spark, 4, 2L): Unit))
    for ((kind, open, rebucket) <- kinds) {
      val sink = open(Files.createTempDirectory(s"pl-pin-$kind").toString)
      sink.merge(feed.filter(col("op") === "r"), 0L)
      sink.merge(feed.filter(col("op") =!= "r"), 1L)
      val live = sink.state(spark).get.filter(col("op") =!= "d")
      val present = live.agg(min(col("key.o_orderkey"))).head.getLong(0)
      val mine = live.filter(col("key.o_orderkey") === present)
      val want = mine.select(col("after")).collect().toSeq
      assert(want.length == 1, s"$kind setup: $want")
      val bucketUnder = Seq(16, 4).map(k => k ->
        mine.select(pmod(xxhash64(col("key")), lit(k))).head.getLong(0).toInt)
        .toMap
      val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
      val got = sink.stateBucket(spark, None, { k =>
        seen += k
        rebucket(sink) // commits 16 -> 4 before the bucket is known
        bucketUnder(k)
      }).get.filter(col("key.o_orderkey") === present)
        .select(col("after")).collect().toSeq
      assert(seen == Seq(16), s"$kind hashed under $seen")
      assert(got == want, s"$kind: the pinned read lost the row")
      assert(sink.committedEpoch.contains(2L), s"$kind: rebucket not committed")
    }
  }

  test("partial-key equality on a composite key does NOT prune and " +
      "stays correct; pinning every field prunes") {
    import spark.implicits._
    val feed = (1 to 40).map(i => (i % 4, s"s$i", i))
      .toDF("a", "b", "v").select(
        struct(col("a"), col("b")).as("key"),
        lit(null).cast("struct<a:int,b:string,v:int>").as("before"),
        struct(col("a"), col("b"), col("v")).as("after"),
        lit("r").as("op"),
        struct(col("v").cast("long").as("pos")).as("source"),
        lit(null).cast("string").as("transaction"),
        col("v").cast("long").as("ts_ms"))
    val name = s"$cat.bucketed.comp_" +
      java.util.UUID.randomUUID().toString.take(8)
    feed.writeTo(name).tableProperty("buckets", "8").create()
    // partial: only key.a pinned — 10 rows, no bucket can be singled out
    assert(spark.sql(s"SELECT after.* FROM $name WHERE key.a = 1")
      .count() == 10)
    // full key: exactly one row, via the pruned path
    val one = spark.sql(
      s"SELECT after.v FROM $name WHERE key.a = 1 AND key.b = 's5'")
      .collect()
    assert(one.map(_.getInt(0)).toSeq == Seq(5), one.mkString(";"))
  }
}
