package graft
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (builder tooling
    // for partial re-dumps; the driver always passes exactly two args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    val spark = Tools.session()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // query-internal .cache() frames (dsir/ann/dedup paths) are scoped to
      // one query by harness contract — drop them so a 125-query session
      // doesn't accumulate cached RDDs (Bench does the same per rep)
      spark.catalog.clearCache()
    }
    Tools.writeOracleJson(outDir,
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) })
    spark.stop()
  }
}
