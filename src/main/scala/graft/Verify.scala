package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: comma-separated entry-name filter for fast
    // local iteration (the driver always runs the full surface)
    val Array(sfDir, outDir) = args.take(2)
    // Bind the persisted-artifact oracle paths to the fixture actually
    // being verified — MUST precede the first SparkEntry touch (oracle
    // strings are built at query-object class-init). See graft.OracleEnv.
    OracleEnv.sfDir = sfDir
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val spark = Core.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Core.jsonString(k)}: ${Core.jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
