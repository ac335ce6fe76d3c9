package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.collection.immutable.TreeMap
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check.py). A query that
  * throws does not stop the others; it lands in failures.json (query →
  * first error line, `{}` when none failed) and makes the run exit 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated query-name filter for local iteration — the
    // driver leaves it unset and dumps everything (same contract as Bench)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = only.fold(SparkEntry.queries)(f => SparkEntry.queries.filter(kv => f(kv._1)))
    val failures = dumpAll(spark, sfDir, outDir, selected)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonObject(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/failures.json"), jsonObject(failures))
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} of ${selected.size} " +
        s"queries failed: ${failures.keys.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Writes each query's result to `outDir/<name>` as parquet and returns
    * the ones that threw, name → first line of the error. */
  private[graft] def dumpAll(
      spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): TreeMap[String, String] = {
    var failures = TreeMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures += name -> e.toString.linesIterator.nextOption().getOrElse("")
      }
      // release per-query persisted intermediates (see graft.Bench)
      spark.catalog.clearCache()
    }
    failures
  }

  /** One flat JSON object of string pairs. Escapes backslash, quote, and ALL
    * control chars (<0x20) — a tab or CR in the oracle SQL would
    * otherwise make the compare's json.load fail and silently zero the
    * correctness record. */
  private[graft] def jsonObject(kv: Iterable[(String, String)]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
