package graft
import org.json4s.{JObject, JString}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // builder-side iteration aid (same convention as Bench); the driver
    // sets no env so it always dumps the full set
    val selected = Harness.only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None        => SparkEntry.queries
    }
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
    spark.stop()
    // the last stderr line says whether every query dumped, so a
    // failure logged mid-run cannot pass unnoticed
    System.err.println(
      if (failed.isEmpty) s"[verify] dumped ${selected.size}/${selected.size}"
      else s"[verify] FAILED: ${failed.mkString(", ")}")
  }

  /** The oracle map as one JSON object, query name -> DuckDB SQL. */
  private[graft] def oracleJson(sql: Map[String, String]): String =
    Harness.json(JObject(sql.map { case (k, v) => k -> JString(v) }.toList))
}
