package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Builder-side dev tool: [[Verify]] for a SUBSET of queries, so a
  * single operator's Spark↔DuckDB parity can be iterated in seconds
  * instead of re-dumping all 69 entries. Writes the same layout Verify
  * does (per-query parquet + oracle_sql.json filtered to the subset), so
  * `scripts/check.py <outDir> <sfDir>` gates it unchanged. A failed
  * entry prints its stack trace; the run names every failed entry and
  * exits 1 if there is one.
  *
  * Usage: runMain graft.VerifySome <sfDir> <outDir> <name> [<name>...]
  */
object VerifySome {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2).toSet
    require(names.nonEmpty, "pass at least one query name")
    val unknown = names.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: $unknown")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.filter(q => names(q._1)).toSeq.flatMap {
      case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify-some] $name failed: ${e.getMessage}")
          e.printStackTrace()
          Some(name)
        }
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(o => names(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify-some] ${failed.size} failed: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
