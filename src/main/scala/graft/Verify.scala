package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names (dev-loop filter)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
    // Jackson escapes every control character: a tab or CR in an oracle
    // string must not break the reader's json.load
    import scala.jdk.CollectionConverters._
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(SparkEntry.oracleSql.asJava))
    spark.stop()
  }
}
