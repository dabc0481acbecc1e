package graft.sinks.v2

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `GraftSinkCatalog.bucketOf` evaluates the sink's bucket expression
  * on the DRIVER for a point lookup's literal key. It must agree with
  * the column expression the sinks route stored rows by
  * (`pmod(xxhash64(key), n)`, run as generated code on executors) for
  * every key field type — a disagreement is a lookup that probes the
  * wrong bucket and silently returns no row. The column side runs as
  * ONE job over seeded rows; the driver side sees each value in the
  * external form the pushed-literal conversion hands it.
  */
class BucketOfSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.get

  private val fields = Seq(
    "ti" -> ByteType, "si" -> ShortType, "i" -> IntegerType,
    "l" -> LongType, "s" -> StringType, "d10" -> DecimalType(10, 2),
    "d38" -> DecimalType(38, 0), "b" -> BooleanType, "db" -> DoubleType,
    "f" -> FloatType, "dt" -> DateType, "ts" -> TimestampType,
    "ntz" -> TimestampNTZType, "bin" -> BinaryType)
  private val schema = StructType(fields.map { case (n, t) =>
    StructField(n, t, nullable = false) })

  private def row(r: scala.util.Random, i: Int): Row = {
    val micros = r.nextLong() % 4000000000000000L // ~±127 years
    val text = Seq("", "a", "é", "漢字", "🙂x", "Grüße, 世界")(i % 6) + r.nextInt(100)
    Row(r.nextInt().toByte, r.nextInt().toShort, r.nextInt(),
      if (i % 2 == 0) r.nextLong() else r.nextInt().toLong, text,
      java.math.BigDecimal.valueOf(r.nextLong() % 10000000000L, 2),
      new java.math.BigDecimal(new java.math.BigInteger(126, r.self))
        .multiply(java.math.BigDecimal.valueOf(if (i % 2 == 0) 1 else -1)),
      i % 2 == 0, Seq(r.nextDouble() * 1e6, -0.0, -1.5e300)(i % 3),
      Seq(r.nextFloat(), 0.0f, Float.MaxValue)(i % 3),
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(r.nextInt(80000) - 20000L)),
      java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(micros * 1000L)),
      java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
        Math.floorMod(micros, 1000000L).toInt * 1000, java.time.ZoneOffset.UTC),
      text.getBytes(UTF_8))
  }

  test("the driver-side bucket equals the column expression for every " +
      "key type, a composite key and an Int literal on a BIGINT field") {
    val r = new scala.util.Random(20261020L)
    val rows = (0 until 24).map(row(r, _))
    val ns = Seq(1, 16, 1000)
    // key shapes: one per field, a composite key, and the width case
    // (an Int literal pushed against a BIGINT key field)
    val keys: Seq[(String, Seq[String], Row => Seq[(StructField, Any)])] =
      fields.map { case (n, _) =>
        val f = schema(n)
        (n, Seq(n), (x: Row) => Seq(f -> x.get(schema.fieldIndex(n))))
      } ++ Seq(
        ("i+s+dt", Seq("i", "s", "dt"), (x: Row) =>
          Seq("i", "s", "dt").map(n => schema(n) -> x.get(schema.fieldIndex(n)))),
        ("int-on-bigint", Seq("i"), (x: Row) =>
          Seq(StructField("i", LongType) -> x.getInt(schema.fieldIndex("i")))))
    def keyCol(name: String, cols: Seq[String]): Column =
      if (name == "int-on-bigint") struct(col("i").cast("long").as("i"))
      else struct(cols.map(col): _*)
    val hashCols = for ((name, cols, _) <- keys; n <- ns)
      yield pmod(xxhash64(keyCol(name, cols)), lit(n)).cast("int")
    // an RDD-backed frame: a local relation would be folded and
    // evaluated on the driver, the very path under test
    val hashed = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema)
      .select(hashCols: _*).collect()
    val bad = for {
      (x, h) <- rows.zip(hashed)
      ((name, _, vals), ki) <- keys.zipWithIndex
      (n, ni) <- ns.zipWithIndex
      want = h.getInt(ki * ns.length + ni)
      got = GraftSinkCatalog.bucketOf(spark, vals(x), n)
      if got != want
    } yield s"$name n=$n ${vals(x)}: driver $got, column $want"
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
    // the width case is not vacuous: an Int hashed as an INT lands
    // elsewhere for most values
    val asInt = rows.count { x =>
      val v = x.getInt(schema.fieldIndex("i"))
      GraftSinkCatalog.bucketOf(spark, Seq(StructField("i", IntegerType) -> v), 1000) !=
        GraftSinkCatalog.bucketOf(spark, Seq(StructField("i", LongType) -> v), 1000)
    }
    assert(asInt > rows.length / 2, s"only $asInt of ${rows.length} differ")
  }
}
