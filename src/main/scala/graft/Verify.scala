package graft
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated substring filter for fast local runs
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(',').toSeq) else None
    val spark = RipSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        if (sys.env.contains("SPARK_GRAFT_VERBOSE")) e.printStackTrace()
      }
    }
    writeOracleSql(outDir, SparkEntry.oracleSql)
    spark.stop()
  }

  /** `outDir/oracle_sql.json` (query name → DuckDB SQL), written by the
    * Jackson Spark ships: it escapes quotes, backslashes and every
    * control character, so a tab or CR in oracle SQL cannot break the
    * checker's json.load and zero the whole correctness run. */
  def writeOracleSql(outDir: String, sql: Map[String, String]): Unit =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new java.io.File(outDir, "oracle_sql.json"), sql.asJava)
}
