package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: dump `.explain("formatted")` for every (or selected) declared
  * query to text files — the plan evidence the optimization rounds commit
  * under plans/rNN/.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> [query ...]
  *   writes <outDir>/<query>_<suffix>.txt
  * Reads SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like the bench.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val only = args.drop(2).toSet
    val sfDir = Harness.sfDir
    val spark = Harness.session(Harness.cpus)
    Files.createDirectories(Paths.get(outDir))
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only(name)) {
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
          println(s"[plandump] wrote $name")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}
