package graft

import org.apache.spark.scheduler._

/** Per-job forensics for one query (r19): the funnels run 75–135 jobs
  * per execution at sf0.1 — this main runs a query once (after a warm
  * pass) and prints every job's callsite, stage count, task count, and
  * summed task time, so the job explosion is attributable to a specific
  * operator (AQE stage jobs vs executeTake scale-up rounds vs persist
  * materializations).
  *
  * Usage: run_main.sh graft.JobTrace <queryName> [sfDir]
  */
object JobTrace {

  private case class JobRow(id: Int, desc: String, stages: Int,
      var tasks: Int, var taskMs: Long)

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = args.lift(1).getOrElse(
      "/tmp/graft_bench_staged/_root_testdata_sf0.1_p2")
    val spark = core.GraftSession.builder("graft-jobtrace", "32")
      .config("spark.driver.maxResultSize", "8g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries(name)

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    // stage -> its job's row; a task of a stage with no mapped job (one
    // submitted before tracing began) finds null and is skipped. A
    // stage -> jobId map of Ints would unbox that null to job 0.
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    var tracing = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = if (tracing) {
        val names = j.stageInfos.map(_.name.takeWhile(_ != '\n')).distinct
        val d = names.mkString(" | ").take(180)
        val row = JobRow(j.jobId, d, j.stageIds.length, 0, 0L)
        jobs.put(j.jobId, row)
        j.stageIds.foreach(s => stageToJob.put(s, row))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (tracing) {
        val row = stageToJob.get(t.stageId)
        if (row != null && t.taskInfo != null) {
          row.tasks += 1
          row.taskMs += t.taskInfo.finishTime - t.taskInfo.launchTime
        }
      }
    })

    def once(): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm
    tracing = true
    val wall = once()
    Thread.sleep(500)
    tracing = false
    println(f"$name wall=$wall%.2f s  jobs=${jobs.size}")
    import scala.jdk.CollectionConverters._
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { r =>
      println(f"job ${r.id}%4d  stages=${r.stages}%3d tasks=${r.tasks}%5d " +
        f"taskTime=${r.taskMs / 1000.0}%8.2f s  ${r.desc}")
    }
    spark.stop()
  }
}
