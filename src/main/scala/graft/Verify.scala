package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each gate's result → parquet, plus every gate's
  * oracle SQL as one flat `{name: sql}` object in oracle_sql.json, for the
  * DuckDB compare (`tools/check_parity.py`). */
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
    val oracles = new java.util.LinkedHashMap[String, String]
    SparkEntry.gates.foreach { g =>
      oracles.put(g.name, g.oracle)
      if (only.forall(_.contains(g.name)))
        try g.build(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${g.name}")
        catch { case e: Throwable =>
          System.err.println(s"[verify] ${g.name} failed: ${e.getMessage}")
        }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(oracles))
    spark.stop()
  }
}
