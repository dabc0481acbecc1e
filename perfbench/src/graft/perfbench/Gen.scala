package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One order row, TPC-H `orders` columns with integral money. */
final case class Order(key: Long, custkey: Long, status: String,
                       totalCents: Long, date: String, priority: String,
                       clerk: String, shipPriority: Int, comment: String) {
  def row: Row = Row(key, custkey, status, totalCents, date, priority,
    clerk, shipPriority, comment)
  /** The canonical text the table-equality hash is taken over. */
  def canon: String =
    s"$key|$custkey|$status|$totalCents|$date|$priority|$clerk|$shipPriority|$comment"
}

/** One change event: op in r/c/u/d, a collision-free log position, and
  * the after-image (null for deletes).
  */
final case class Ev(op: String, pos: Long, key: Long, after: Order)

/** Seeded input generators. Every generator is a pure function of its
  * seed and arguments, so a seed names one input exactly.
  */
object Gen {
  val payloadSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", LongType),
    StructField("o_orderdate", StringType),
    StructField("o_orderpriority", StringType),
    StructField("o_clerk", StringType),
    StructField("o_shippriority", IntegerType),
    StructField("o_comment", StringType)))
  val keySchema: StructType =
    StructType(Seq(StructField("o_orderkey", LongType)))

  /** Envelope rows as `ChangeLogPipeline.writeWire` takes them. */
  val feedSchema: StructType = StructType(Seq(
    StructField("key", keySchema), StructField("before", payloadSchema),
    StructField("after", payloadSchema), StructField("op", StringType),
    StructField("source", StructType(Seq(StructField("table", StringType),
      StructField("pos", LongType)))),
    StructField("transaction", StringType), StructField("ts_ms", LongType)))

  /** Envelope rows as the pipeline merges them (its `source` carries only
    * the position): the schema the catalog tables are created with.
    */
  val tableSchema: StructType = StructType(feedSchema.fields.map { f =>
    if (f.name == "source")
      f.copy(dataType = StructType(Seq(StructField("pos", LongType))))
    else f
  })

  def feed(spark: SparkSession, evs: Seq[Ev], slices: Int): DataFrame = {
    val rows = evs.map { e =>
      Row(Row(e.key), null, if (e.after == null) null else e.after.row, e.op,
        Row("orders", e.pos), null, e.pos)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices),
      feedSchema)
  }

  /** A stream of independent generators derived from (seed, stream). */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 1)

  private val statuses = Array("O", "F", "P")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val words = Array("carefully", "final", "deposits", "sleep",
    "quickly", "ironic", "requests", "among", "the", "furiously", "bold",
    "packages", "haggle", "slyly", "even", "accounts", "express", "pinto",
    "beans", "across", "regular", "theodolites", "blithely", "pending")
  private val alnum =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"

  def wordText(r: SplittableRandom, n: Int): String =
    Iterator.fill(n)(words(r.nextInt(words.length))).mkString(" ")

  def randomText(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb += alnum.charAt(r.nextInt(alnum.length)); i += 1 }
    sb.toString
  }

  def order(r: SplittableRandom, key: Long, highEntropy: Boolean): Order = {
    val day = r.nextInt(2400)
    val date = java.time.LocalDate.of(1992, 1, 1).plusDays(day.toLong).toString
    Order(key, 1L + r.nextInt(15000), statuses(r.nextInt(3)),
      100L + r.nextLong(50000000L), date, priorities(r.nextInt(5)),
      f"Clerk#${1 + r.nextInt(1000)}%09d", 0,
      if (highEntropy) randomText(r, 64) else wordText(r, 4 + r.nextInt(6)))
  }

  def update(r: SplittableRandom, o: Order, highEntropy: Boolean): Order =
    o.copy(status = statuses(r.nextInt(3)),
      totalCents = o.totalCents + 1 + r.nextInt(10000),
      priority = priorities(r.nextInt(5)),
      comment = if (highEntropy) randomText(r, 64) else wordText(r, 4 + r.nextInt(6)))
}

/** The live key set with O(1) random choice, insert and delete. */
final class KeySet {
  private val keys = mutable.ArrayBuffer.empty[Long]
  private val at = mutable.HashMap.empty[Long, Int]
  def size: Int = keys.length
  def contains(k: Long): Boolean = at.contains(k)
  def add(k: Long): Unit = { at(k) = keys.length; keys += k }
  def remove(k: Long): Unit = {
    val i = at.remove(k).get
    val last = keys.remove(keys.length - 1)
    if (i < keys.length) { keys(i) = last; at(last) = i }
  }
  def pick(r: SplittableRandom): Long = keys(r.nextInt(keys.length))
}

/** Seeded model of a CDC source table: it generates the change events
  * and keeps the expected latest state per key, so every read of the
  * sink has an exact expected answer.
  */
final class TableModel(seed: Long, highEntropy: Boolean) {
  val state = mutable.HashMap.empty[Long, Order]
  val live = new KeySet
  private var nextKey = 1L
  private var nextPos = 1L

  private def emit(op: String, key: Long, after: Order): Ev = {
    val e = Ev(op, nextPos, key, after)
    nextPos += 1
    if (after == null) { state.remove(key); live.remove(key) }
    else { if (!state.contains(key)) live.add(key); state(key) = after }
    e
  }

  /** Snapshot read events (op r) of `n` fresh keys. */
  def snapshot(n: Int): Seq[Ev] = {
    val r = Gen.rng(seed, 0)
    (0 until n).map { _ =>
      val k = nextKey; nextKey += 1
      emit("r", k, Gen.order(r, k, highEntropy))
    }
  }

  /** One batch of `n` change events from generator stream `stream`:
    * `pUpdate` updates and `pInsert` inserts, the rest deletes. Updates
    * and deletes pick their key with one of YCSB's request distributions
    * (Cooper et al., "Benchmarking Cloud Serving Systems with YCSB",
    * SoCC 2010): `latest` (workload D: Zipfian with constant 0.99 over
    * recency, the newest key the most likely) or else `uniform`.
    */
  def changes(stream: Long, n: Int, pUpdate: Double, pInsert: Double,
              latest: Boolean): Seq[Ev] = {
    val r = Gen.rng(seed, stream)
    val zipf = if (latest && nextKey > 3) Some(new Zipfian(nextKey - 1)) else None
    def target(): Long = zipf match {
      case Some(z) =>
        // the newest keys are tried first; a deleted key draws again
        var k = -1L
        var tries = 0
        while (k < 0 && tries < 64) {
          val c = nextKey - 1 - z.next(r)
          if (live.contains(c)) k = c
          tries += 1
        }
        if (k < 0) live.pick(r) else k
      case None => live.pick(r)
    }
    (0 until n).map { _ =>
      val u = r.nextDouble()
      if (u < pInsert || live.size < 2) {
        val k = nextKey; nextKey += 1
        emit("c", k, Gen.order(r, k, highEntropy))
      } else if (u < pInsert + pUpdate) {
        val k = target()
        emit("u", k, Gen.update(r, state(k), highEntropy))
      } else emit("d", target(), null)
    }
  }

  /** Order-independent digest of the expected live state: (count, sum of
    * per-row hashes of [[Order.canon]]).
    */
  def digest: (Long, Long) =
    (state.size.toLong, state.valuesIterator.map(o => Digest.of(o.canon)).sum)
}

/** YCSB's Zipfian generator over ranks 0 until `items` with constant
  * 0.99 (Gray et al., "Quickly Generating Billion-Record Synthetic
  * Databases", SIGMOD 1994), rank 0 the most likely.
  */
final class Zipfian(items: Long) {
  private val theta = 0.99
  private def zeta(n: Long): Double = {
    var s = 0.0; var i = 1L
    while (i <= n) { s += 1.0 / math.pow(i.toDouble, theta); i += 1 }
    s
  }
  private val zetan = zeta(items)
  private val zeta2 = zeta(2)
  private val alpha = 1.0 / (1.0 - theta)
  private val eta = (1 - math.pow(2.0 / items, 1 - theta)) / (1 - zeta2 / zetan)

  def next(r: SplittableRandom): Long = {
    val u = r.nextDouble()
    val uz = u * zetan
    if (uz < 1.0) 0L
    else if (uz < 1.0 + math.pow(0.5, theta)) 1L
    else math.min(items - 1, (items * math.pow(eta * u - eta + 1, alpha)).toLong)
  }
}

object Digest {
  def of(s: String): Long = scala.util.hashing.MurmurHash3.stringHash(s).toLong

  /** An order from a payload row in [[Gen.payloadSchema]] order. */
  def order(r: Row): Order =
    Order(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
      r.getString(4), r.getString(5), r.getString(6), r.getInt(7),
      r.getString(8))

  /** (count, sum of row hashes) of collected payload rows. */
  def ofRows(rows: Iterator[Row]): (Long, Long) = {
    var n = 0L; var h = 0L
    rows.foreach { r => n += 1; h += of(order(r).canon) }
    (n, h)
  }
}
