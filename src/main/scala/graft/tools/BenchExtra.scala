package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev benchmark (guide §1.4 isolation — the frozen graft.Bench is the
  * driver's artifact; THIS main is the builder's measuring instrument):
  *
  *  - per-query noop-sink timing with a JIT warm-up pass over the whole
  *    query set first, then K timed passes INTERLEAVED across the set
  *    (a steal burst poisons one pass, not one query's every sample);
  *  - optional crawl-round stage breakdown (GRAFT_BENCHX_CRAWL=1): the same
  *    loaded round the driver measures, printing per-stage wall ms.
  *
  * Usage: runMain graft.tools.BenchExtra [query ...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, GRAFT_BENCHX_PASSES (default 3),
  *      GRAFT_BENCHX_CRAWL=1 to run the crawl stage breakdown instead.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val cpus = Harness.cpus
    val passes = sys.env.get("GRAFT_BENCHX_PASSES").map(_.toInt).getOrElse(3)
    val spark = Harness.session(cpus)

    if (sys.env.contains("GRAFT_BENCHX_CRAWL")) { crawlBreakdown(spark, cpus); spark.stop(); return }

    val names =
      if (args.nonEmpty) args.toSeq
      else graft.Bench.headline
    def once(name: String): Double = Harness.timeQuery(spark, sfDir, name)

    // JIT + cache warm-up pass (not recorded)
    val warm = names.map(n => n -> once(n)).toMap
    // K interleaved passes
    val samples = scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    (1 to passes).foreach { _ =>
      names.foreach { n => samples(n) = once(n) :: samples(n) }
    }
    var total = 0.0
    names.foreach { n =>
      val best = samples(n).min
      total += best
      println(f"$n%-26s best=${best}%7.3f  cold=${warm(n)}%7.3f  samples=${samples(n).reverse.map(s => f"$s%.3f").mkString(",")}")
    }
    println(f"TOTAL(best) = $total%.3f sec over ${names.size} queries")
    spark.stop()
  }

  /** The driver bench's loaded crawl round with per-stage wall times. */
  private def crawlBreakdown(spark: SparkSession, cpus: Int): Unit = {
    // GRAFT_BENCHX_STAGES=1: per-Spark-stage metrics (duration, shuffle
    // bytes, records) — maps the stageMs buckets back to physical stages
    if (sys.env.contains("GRAFT_BENCHX_STAGES"))
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          println(s"[job ${j.jobId}] stages=${j.stageIds.mkString(",")} " +
            Option(j.properties.getProperty("spark.job.description")).getOrElse(""))
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val m = i.taskMetrics
          val ms = i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
          println(f"[stage ${i.stageId}%4d] ${ms}%6d ms  tasks=${i.numTasks}%3d " +
            f"in=${m.inputMetrics.bytesRead / 1e6}%8.1fMB " +
            f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
            f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
            f"recs=${m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten}%9d  " +
            i.name.takeWhile(_ != 0x0a.toChar).take(100))
        }
      })
    val round = Harness.loadedRound(spark, graft.Bench.web, graft.Bench.crawlConfig(cpus),
      java.nio.file.Files.createTempDirectory("graft-benchx").toString)
    (1 to 3).foreach { i =>
      val s = round.replay()
      println(f"run$i wall=${s.wallMs / 1000.0}%.2fs fetched=${s.fetchedPages} " +
        s.stageMs.map { case (k, v) => f"$k=${v / 1000.0}%.2fs" }.mkString(" "))
    }
  }
}
