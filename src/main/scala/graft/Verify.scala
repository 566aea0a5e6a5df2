package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (local iteration only —
    // the driver always passes two args and gets the full suite)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [q1,q2,...]")
        sys.exit(2)
    }
    val spark = graft.util.LocalSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val oracle = new java.util.LinkedHashMap[String, String]()
    SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .foreach { case (k, v) => oracle.put(k, v) }
    val json = new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(oracle)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
