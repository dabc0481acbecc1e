package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg: comma-separated query names (local iteration aid)
    val only: Option[Set[String]] =
      if (args.length > 2)
        Some(args(2).stripPrefix("only=").split(",").toSet)
      else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftSparkExtensions())
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries ns-precision timestamps: surface them as
      // epoch-ns longs (SURVEY §1.3 NanoTimestamp mapping)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // size-derived query/oracle parameters (heuristic k, LSH banding)
    // resolve against THIS run's data directory
    graft.queries.QueryContext.dataDir = Some(sfDir)
    // Refresh the output dir WITHOUT a recursive wipe: delete only the
    // entries this program could have written — per-query dump dirs and
    // oracle_sql.json. A dump of a since-renamed or since-removed query
    // is no longer in queries.keySet, so "is a known name" is not the
    // test; "looks like a parquet dump dir" is — anything else (a
    // mistyped outDir pointing at a real directory) fails loudly instead
    // of being silently deleted. Under only=, sibling dumps from the
    // full invocation survive a partial iteration.
    val outPath = Paths.get(outDir)
    def own(n: String) = n == "oracle_sql.json" || n == "selected.json"
    if (Files.exists(outPath)) {
      import scala.jdk.CollectionConverters._
      val known = SparkEntry.queries.keySet
      // a Verify-written dump: it carries the _GRAFT_DUMP marker this
      // program writes into every dump it produces. A shape heuristic
      // (coalesce(1) parquet layout) is NOT enough — other tools'
      // single-part exports look identical, and a mistyped outDir
      // pointing at such exports must fail loudly, never be silently
      // wiped. Crashed dumps (no marker yet) under a still-known name
      // are covered by `known`; a crashed dump of a since-renamed query
      // stays foreign and needs manual removal.
      def looksLikeDump(p: java.nio.file.Path): Boolean =
        Files.isDirectory(p) && Files.exists(p.resolve("_GRAFT_DUMP"))
      val entries = scala.util.Using.resource(Files.list(outPath))(
        _.iterator().asScala.toSeq)
      val foreign = entries.filterNot { p =>
        val n = p.getFileName.toString
        own(n) || known.contains(n) || looksLikeDump(p)
      }
      require(foreign.isEmpty,
        s"refusing to clean $outDir: contains non-query entries " +
          foreign.map(_.getFileName).take(5).mkString(", ") +
          " — is this really a Verify output directory?")
      val stale = entries.filter { p =>
        val n = p.getFileName.toString
        own(n) ||
          ((known.contains(n) || looksLikeDump(p)) &&
            only.forall(_.contains(n)))
      }
      stale.foreach { p =>
        scala.util.Using.resource(Files.walk(p)) { st =>
          st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
        }
      }
    }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          // ownership marker: future runs only auto-clean dirs carrying it
          Files.writeString(Paths.get(s"$outDir/$name/_GRAFT_DUMP"), name): Unit
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the queries this run was asked for, so a targeted check judges
    // exactly those (oracle_sql.json always lists every query)
    Files.writeString(Paths.get(s"$outDir/selected.json"),
      SparkEntry.queries.keys.filter(n => only.forall(_.contains(n)))
        .toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
