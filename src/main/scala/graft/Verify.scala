package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the driver's DuckDB compare and
  * verify_failures.json listing every query that threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev only): comma-separated query names to dump —
    // the driver always passes two args and gets the full suite
    val Array(sfDir, outDir) = args.take(2)
    val only: Set[String] =
      args.lift(2).map(_.split(",").toSet).getOrElse(Set.empty)
    def wanted(name: String) = only.isEmpty || only(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // match Bench: single-file tables split at row-group boundaries
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // shared-subtree memoization, same as Bench (results unaffected)
    etl.Interactions(spark, sfDir).persist()
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
    // a failing query is recorded by name, class and message in
    // verify_failures.json (an empty list when all pass); fatal errors
    // are not caught and end the run
    val failures = SparkEntry.orderedQueries.filter { case (n, _) => wanted(n) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: $e")
          Some(s"{\"name\": ${q(name)}, \"class\": ${q(e.getClass.getName)}, " +
            s"\"message\": ${q(String.valueOf(e.getMessage))}}")
        }
      }
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"),
      failures.mkString("[", ",\n", "]"))
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => wanted(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Testdata fingerprint (size + mtime per parquet) as seen AT DUMP
    // TIME: when a driver hash compare later disagrees with a local
    // re-verify, this resolves regenerated-testdata drift vs a real
    // hash bug in one look (the r6/r7 ambiguity — q_scd2 post-mortem).
    val fp = new java.io.File(sfDir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => s"${q(f.getName)}: {\"bytes\": ${f.length}, " +
        s"\"mtime_ms\": ${f.lastModified}}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/testdata_fingerprint.json"), fp)
    spark.stop()
  }
}
