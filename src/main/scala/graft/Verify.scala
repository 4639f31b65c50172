package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The dump itself, separated from `main` so the test suite can exercise
    * the exact driver-contract path against the shared session. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: Set[String] = Set.empty): Unit = {
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators persist intermediate relations (LSH signatures etc.);
      // drop them between queries so memory doesn't creep across the run
      spark.catalog.clearCache()
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
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  /** args: sfDir outDir [queryName...] — extra names restrict the dump to
    * those queries (local iteration); the driver always passes two args. */
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet
    val spark = Harness.localSession()
    run(spark, sfDir, outDir, only)
    spark.stop()
  }
}
