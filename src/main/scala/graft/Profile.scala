package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Optimization-round tooling: run one query and attribute its wall time to
  * Spark jobs (with stage/task counts) vs driver-side gaps (planning, log
  * folds, footer reads). Same [[GraftSession]] as [[Bench]]. Not a
  * driver-contract surface.
  *
  * Usage: runMain graft.Profile <sfDir> <name> [reps]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.local(defaultCpus = 4)

    case class JobRec(id: Int, start: Long, var end: Long = -1L,
      var stages: Int = 0, var tasks: Int = 0, desc: String = "")
    val jobs = scala.collection.mutable.ArrayBuffer.empty[JobRec]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += JobRec(j.jobId, j.time,
          desc = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.find(_.id == j.jobId).foreach(_.end = j.time)
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          jobs.lastOption.foreach { r =>
            r.stages += 1; r.tasks += s.stageInfo.numTasks
          }
        }
    }

    val fn = SparkEntry.queries(name)
    // warm once at tiny sf (codegen) then once at target sf (IO cache)
    try fn(spark, "/root/testdata/sf0.001").count()
    catch { case e: Throwable => System.err.println(s"warm failed: $e") }
    fn(spark, sfDir).count()

    spark.sparkContext.addSparkListener(listener)
    (1 to reps).foreach { rep =>
      jobs.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      val js = jobs.synchronized(jobs.toSeq)
      val jobTime = js.filter(_.end > 0).map(j => (j.end - j.start) / 1e3).sum
      println(f"== $name rep $rep: wall $wall%.3f s, rows=$n, " +
        f"jobs=${js.size}, in-job $jobTime%.3f s, gaps ${wall - jobTime}%.3f s")
      var prevEnd = -1L
      js.sortBy(_.start).foreach { j =>
        val gap = if (prevEnd < 0) 0.0 else (j.start - prevEnd) / 1e3
        prevEnd = math.max(prevEnd, j.end)
        val d = if (j.end > 0) (j.end - j.start) / 1e3 else -1.0
        println(f"  job ${j.id}%4d  dur $d%7.3f s  gap-before $gap%7.3f s  " +
          f"stages=${j.stages} tasks=${j.tasks}  ${j.desc.take(60)}")
      }
    }
    spark.stop()
  }
}
