package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Measurement aid (optimization guide §1): `runMain graft.JobProfile q01`
  * runs each named query once warm, then once timed, with a listener that
  * records EVERY Spark job's wall time and aggregate stage metrics
  * (shuffle read/write bytes, spill, input bytes, task count). Prints a
  * per-job breakdown so the expensive jobs inside a multi-action query
  * (iterative rounds, persisted setup, the final noop sink) are
  * attributable without the UI. Runs on [[Session.local]]. */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()

    final case class JobRec(
      var desc: String = "", var start: Long = 0L, var end: Long = 0L,
      var stages: Seq[Int] = Nil)
    final case class StageRec(
      tasks: Int, runTimeMs: Long, input: Long, shRead: Long, shWrite: Long,
      spillMem: Long, spillDisk: Long, name: String)
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stages = mutable.Map.empty[Int, StageRec]
    // AtomicBoolean, not a captured var: the listener bus runs on its own
    // thread, and a plain captured Boolean has no JMM visibility guarantee
    // there (the listener could never observe the flip)
    val enabled = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled.get) {
        val r = JobRec(
          Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""),
          e.time, 0L, e.stageIds.map(_.toInt))
        jobs.synchronized { jobs(e.jobId) = r }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (enabled.get) {
          val si = e.stageInfo
          val m = si.taskMetrics
          stages.synchronized {
            stages(si.stageId) = StageRec(
              si.numTasks, m.executorRunTime,
              m.inputMetrics.bytesRead,
              m.shuffleReadMetrics.totalBytesRead,
              m.shuffleWriteMetrics.bytesWritten,
              m.memoryBytesSpilled, m.diskBytesSpilled,
              si.name)
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    val wanted = args.toSeq
    val selected = SparkEntry.allQueries
      .filter(q => wanted.exists(q.name.startsWith))
    def mb(b: Long): String = f"${b / 1048576.0}%9.1f"
    selected.foreach { q =>
      // warm rep (JIT/codegen/page cache), unrecorded
      q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      jobs.clear(); stages.clear(); enabled.set(true)
      val t0 = System.nanoTime()
      q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      enabled.set(false)
      // listener bus is async; poll until the event maps go quiet
      // (two consecutive identical samples) instead of a fixed sleep
      // that can under-wait on a loaded bus — bounded at 2 s
      var prevCounts = (-1, -1)
      var quiet = false
      var spins = 0
      while (!quiet && spins < 40) {
        Thread.sleep(50)
        val now = (jobs.synchronized(jobs.size), stages.synchronized(stages.size))
        quiet = now == prevCounts
        prevCounts = now
        spins += 1
      }
      println(f"\n=== ${q.name} warm total ${total}%.3f s, ${jobs.size} jobs ===")
      println("  job    sec  tasks  inputMB shReadMB shWrtMB spillMB  top-stage")
      val stageDetail = sys.env.getOrElse("SPARK_GRAFT_PROFILE_STAGES", "0") == "1"
      jobs.toSeq.sortBy(_._1).foreach { case (id, j) =>
        val ss = j.stages.flatMap(stages.get)
        val sec = (j.end - j.start) / 1000.0
        val topStage = ss.sortBy(-_.runTimeMs).headOption.map(_.name).getOrElse("")
        println(f"  $id%4d $sec%7.3f ${ss.map(_.tasks).sum}%5d " +
          s"${mb(ss.map(_.input).sum)} ${mb(ss.map(_.shRead).sum)} " +
          s"${mb(ss.map(_.shWrite).sum)} ${mb(ss.map(_.spillMem).sum)}  " +
          topStage.take(60) +
          (if (j.desc.nonEmpty) s"  [${j.desc.take(40)}]" else ""))
        // SPARK_GRAFT_PROFILE_STAGES=1: one line per completed stage —
        // task count and executor-run ms attribute narrow/starved stages
        // inside multi-stage jobs (the per-job sums above hide them)
        if (stageDetail) j.stages.sorted.foreach { sid =>
          stages.get(sid).foreach { s =>
            println(f"        stage $sid%4d ${s.runTimeMs / 1000.0}%8.3f ${s.tasks}%5d " +
              s"${mb(s.input)} ${mb(s.shRead)} ${mb(s.shWrite)}  ${s.name.take(70)}")
          }
        }
      }
    }
    spark.stop()
  }
}
