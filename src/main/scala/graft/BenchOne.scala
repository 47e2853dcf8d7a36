package graft

/** Dev tool: time one named query (warm, N passes) — the per-query view of
  * Bench for iterating on a single plan without re-running the full set.
  * Usage: BenchOne <queryName> [sfDir] [passes]
  *
  * Opt-in diagnostics (both used for the round-10 sf10 pins):
  *  - SPARK_GRAFT_EXPLAIN=1  print the FINAL executed plan (post-AQE —
  *    `graft.Explain` prints the static plan, which hides runtime
  *    broadcast conversions and skew splits) after the last pass;
  *  - SPARK_GRAFT_STAGES=1   per-stage wall time / task time / shuffle
  *    bytes for the LAST pass, sorted by wall time — the stage-level view
  *    that separates "one stage grew" from "everything inflated" (the
  *    co-tenant signature) when a query's number drifts across windows.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 3
    // Bench's session, so per-query numbers iterated on here reproduce in
    // the full bench
    val spark = Bench.buildSession()

    final case class StageRow(id: Int, nm: String, wallMs: Long,
                              taskMs: Long, maxTaskMs: Long, nTasks: Int,
                              shufRead: Long, shufWrite: Long)
    val stages = scala.collection.mutable.ArrayBuffer.empty[StageRow]
    // per-stage MAX task runtime: the floor-vs-overhead discriminator for
    // spread exchanges (wall ≈ max task ⇒ compute-floor; wall ≫ max task ⇒
    // scheduling/replication overhead left) — the round-13 s11 question
    val maxTask = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (e.taskMetrics != null)
          maxTask.merge(e.stageId, e.taskMetrics.executorRunTime,
            (a, b) => math.max(a, b))
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val wall = (for {a <- i.completionTime; b <- i.submissionTime}
          yield a - b).getOrElse(0L)
        val m = i.taskMetrics
        stages.synchronized {
          stages += StageRow(i.stageId, i.name.takeWhile(_ != '\n').take(60),
            wall, m.executorRunTime,
            maxTask.getOrDefault(i.stageId, 0L), i.numTasks,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }

    // host-speed probes (Bench records the same pair in its artifacts):
    // per-query numbers measured here get quoted in PERF.md, so they need
    // the same window attribution as the full-set artifacts
    println(f"host probes: spin_reg=${Bench.cpuSpinReg()}%.3f s  " +
      f"spin_mem=${Bench.cpuSpinMem()}%.3f s")

    var last: org.apache.spark.sql.DataFrame = null
    (1 to passes).foreach { i =>
      val profile = sys.env.contains("SPARK_GRAFT_STAGES") && i == passes
      if (profile) spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      last = SparkEntry.queries(name)(spark, sfDir)
      val n = last.count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"pass $i: $dt%.3f s  rows=$n")
    }
    if (sys.env.contains("SPARK_GRAFT_STAGES")) {
      // the listener bus is async and the public API hides
      // listenerBus.waitUntilEmpty — poll until the stage count is stable
      // instead of a fixed sleep, so late-arriving stage-completed events
      // on a loaded machine aren't silently dropped from the profile
      // (this is the tool regressions get pinned with)
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(200)
        val n = stages.synchronized(stages.size)
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
      println("stage profile (last pass, by wall time):")
      stages.sortBy(-_.wallMs).take(20).foreach { s =>
        println(f"  stage ${s.id}%4d ${s.wallMs}%7d ms wall ${s.taskMs}%8d ms task " +
          f"max ${s.maxTaskMs}%6d ms/${s.nTasks}%4d t " +
          f"shufR ${s.shufRead / 1048576}%5d MB shufW ${s.shufWrite / 1048576}%5d MB  ${s.nm}")
      }
    }
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN") && last != null) {
      println("final executed plan (post-AQE):")
      println(last.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
