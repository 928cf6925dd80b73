package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev profiler: run ONE registered query (args: name [sfDir [repeats]])
  * with a listener that prints per-job wall time, stage/task counts and
  * the job's call site — the measurement loop of the optimization
  * rounds (guide §1: find which of a query's jobs the time goes to
  * before touching anything). Not part of the graded surface.
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val repeats = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.create()

    final case class J(start: Long, desc: String, stageIds: Seq[Int],
                       var end: Long = 0L, var stages: Int = 0, var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    // exact stage -> job mapping via SparkListenerJobStart.stageIds
    // (the old form attributed a completed stage to an arbitrary
    // unfinished job — iteration-order-dependent under overlap); a
    // job's entries are dropped when it ends, so the map holds only
    // running jobs' stages
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties.getProperty("spark.job.description"))
          .orElse(Option(e.properties.getProperty("callSite.short"))).getOrElse("?")
        jobs.put(e.jobId, J(e.time, d, e.stageIds)); order.add(e.jobId)
        e.stageIds.foreach(sid => stageJob.put(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) {
          j.end = e.time
          j.stageIds.foreach(sid => stageJob.remove(sid, e.jobId))
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val jid = stageJob.getOrDefault(e.stageInfo.stageId, -1)
        val j = jobs.get(jid)
        if (j != null) { j.stages += 1; j.tasks += e.stageInfo.numTasks }
      }
    })

    val fn = SparkEntry.queries(name)
    for (r <- 1 to repeats) {
      jobs.clear(); order.clear()
      val dt = Runner.time(spark, fn(spark, sfDir)).fold(e => throw e, identity)
      println(f"== repeat $r: $name total ${dt}%.3f s, ${jobs.size} jobs ==")
      if (r == repeats) {
        val it = order.iterator()
        var sum = 0L
        var gapSum = 0L
        var prevEnd = 0L
        while (it.hasNext) {
          val id = it.next(); val j = jobs.get(id)
          val ms = if (j.end > 0) j.end - j.start else -1
          if (ms >= 0) sum += ms
          val gap = if (prevEnd > 0) j.start - prevEnd else 0L
          if (gap > 0) gapSum += gap
          if (j.end > 0) prevEnd = math.max(prevEnd, j.end)
          println(f"  job $id%3d ${ms}%6d ms  gap ${gap}%6d ms  stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.desc.take(90)}")
        }
        println(f"  sum of job wall times: ${sum}%d ms, sum of inter-job gaps: ${gapSum}%d ms")
      }
    }
    spark.stop()
  }
}
