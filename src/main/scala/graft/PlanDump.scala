package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Plan-evidence dump: writes `.explain("formatted")` output for named
  * queries to files, for the plans/rNN before/after record. Not part of
  * the driver contract — a build-time tool like Verify/Bench.
  *
  * Usage: PlanDump <sfDir> <outDir> <suffix> <query> [<query> ...]
  * Writes <outDir>/<query>_<suffix>.txt for each query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: PlanDump <sfDir> <outDir> <suffix> <query> [<query> ...]")
      sys.exit(2)
    }
    val sfDir = args(0); val outDir = args(1); val suffix = args(2)
    val names = args.drop(3)
    // honor the contract core count (ADVICE r12): plan dumps produced
    // under the same config as the bench (local[$SPARK_GRAFT_CPUS],
    // matching shuffle partitions) so partition counts and threshold-near
    // broadcast decisions match what the benchmark executes
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Graft.init(spark)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val txt = SparkEntry.queries.get(n) match {
        case None => s"ERROR: unknown query '$n'"
        case Some(fn) =>
          try fn(spark, sfDir).queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          catch { case e: Throwable => s"ERROR: ${e.getClass.getName}: ${e.getMessage}" }
          // a subtree persisted while building this query would otherwise
          // show up as InMemoryTableScan in a later query's plan
          finally Graft.releaseCaches(spark)
      }
      Files.write(Paths.get(outDir, s"${n}_$suffix.txt"), txt.getBytes("UTF-8"))
      println(s"wrote $n ($suffix): ${txt.length} chars")
    }
    spark.stop()
  }
}
