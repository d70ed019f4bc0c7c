package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.util.control.NonFatal

/** Per-key optimization probe: runs declared keys with a listener that
  * attributes wall time to jobs/stages, so "where do the seconds go"
  * is answered with scheduler facts instead of guesses (guide §1 /
  * §7.1 — the UI's Jobs/Stages view, scraped programmatically since
  * the bench runs with the UI off).
  *
  * `runMain graft.tools.ProbeKey <sfDir> <key> [passes]`
  *
  * Prints, per pass: total wall, #jobs, #stages, #tasks, and the top
  * stages by duration with their callsite-ish name. The timed action
  * is the bench's `.count()` so numbers line up with BENCH_FULL.
  */
object ProbeKey {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val keys = args(1).split(",").toSeq
    val passes = if (args.length > 2) args(2).toInt else 3
    val spark = graft.GraftSession.local()

    case class StageRec(id: Int, name: String, tasks: Int,
                        submitted: Long, completed: Long)
    val stages = mutable.ArrayBuffer.empty[StageRec]
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        stages += StageRec(si.stageId, si.name, si.numTasks,
          si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L))
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs += ((j.jobId, j.time, -1L))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val i = jobs.lastIndexWhere(_._1 == j.jobId)
        if (i >= 0) jobs(i) = (j.jobId, jobs(i)._2, j.time)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // warm codegen/JIT at the smallest SF like Bench does
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      keys.foreach { k =>
        try { SparkEntryRef(k)(spark, warmDir).count() }
        catch { case NonFatal(_) => () }
      }

    keys.foreach { key =>
      (1 to passes).foreach { p =>
        stages.clear(); jobs.clear()
        val t0 = System.nanoTime()
        val n = SparkEntryRef(key)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(400) // let the listener bus drain (private[spark] API)
        val stageSum = stages.map(s => (s.completed - s.submitted) / 1e3).sum
        println(f"PROBE $key%s pass=$p%d rows=$n%d wall=$wall%.3f s " +
          f"jobs=${jobs.size}%d stages=${stages.size}%d " +
          f"tasks=${stages.map(_.tasks).sum}%d stage_sum=$stageSum%.3f s")
        if (p == passes) {
          stages.sortBy(s => -(s.completed - s.submitted)).take(14).foreach { s =>
            println(f"  stage ${s.id}%5d ${(s.completed - s.submitted) / 1e3}%7.3f s " +
              f"tasks=${s.tasks}%4d  ${s.name.take(110)}%s")
          }
        }
      }
    }
    spark.stop()
  }

  private def SparkEntryRef(k: String) = graft.SparkEntry.queries(k)
}
