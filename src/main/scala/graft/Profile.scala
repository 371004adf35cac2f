package graft

/** Ad-hoc profiler: run one named SparkEntry query three times in this
  * JVM, print wall times and (optionally) the formatted plan and the last
  * run's per-stage breakdown — stage wall span, task-time sum, GC, input,
  * shuffle read/write bytes and spill, from [[StageMetrics]] — so the
  * expensive exchange/stage of a slow query is visible data, not a guess
  * (guide §1: measure first, §7.1 stage view). Local cores:
  * `SPARK_GRAFT_CPUS`, 32 when unset.
  * Usage: runMain graft.Profile <queryName> [sfDir] [explain] [stages] [noaqe]
  */
object Profile {

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1 && !args(1).startsWith("-")
      && args(1) != "explain" && args(1) != "stages" && args(1) != "noaqe")
      args(1) else "/root/testdata/sf0.1"
    val showPlan = args.contains("explain")
    val showStages = args.contains("stages")
    val cpus = Bench.parseCpus(sys.env.get("SPARK_GRAFT_CPUS"), 32)
    val spark = Bench.session(sfDir, cpus, aqe = !args.contains("noaqe"))
    val stages = new StageMetrics
    if (showStages) spark.sparkContext.addSparkListener(stages)

    val fn = SparkEntry.queries(name)
    if (showPlan) fn(spark, sfDir).explain("formatted")
    for (i <- 1 to 3) {
      if (i == 3) stages.clear()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[profile] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n")
      spark.catalog.clearCache() // match Bench.runOnce: no cross-run cache reuse
    }
    if (showStages) {
      Thread.sleep(300) // drain async listener events
      println("[stages] last run, by wall span:")
      stages.snapshot().sortBy { case (_, s) => -s.wallMs }
        .take(30).foreach { case (id, s) =>
          println(f"[stage $id%4d] wall=${s.wallMs / 1e3}%7.2fs taskSum=${s.taskMs / 1e3}%8.2fs " +
            f"gc=${s.gcMs / 1e3}%6.2fs in=${s.inputB / 1e6}%8.1fMB " +
            f"sr=${s.shuffleReadB / 1e6}%8.1fMB sw=${s.shuffleWriteB / 1e6}%8.1fMB " +
            f"spill=${s.spillB / 1e6}%8.1fMB tasks=${s.tasks}%4d ${s.name}")
        }
    }
    spark.stop()
  }
}
