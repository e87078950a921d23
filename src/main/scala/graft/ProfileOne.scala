package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev helper (guide §1/§7 stand-in for the Spark UI, which is disabled in
  * the bench): run one registered query and print its JOB/STAGE timeline —
  * per-stage wall, task count, task-time sum, shuffle read/write bytes —
  * so latency-bound plans (many tiny sequential stages) are visibly
  * distinct from compute-bound ones. Not part of the driver contract.
  *
  * `runMain graft.ProfileOne <name> [sfDir] [reps]`
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Session.build("graft-profile-one", 32)

    case class St(var submit: Long = 0L, var done: Long = 0L, var nTask: Int = 0,
        var taskMs: Long = 0L, var shRead: Long = 0L, var shWrite: Long = 0L,
        var name: String = "", var gcMs: Long = 0L, var cpuMs: Long = 0L,
        var deserMs: Long = 0L, var site: String = "")
    val stages = mutable.LinkedHashMap.empty[Int, St]
    val jobs = mutable.LinkedHashMap.empty[Int, (Long, Long, Int)]
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.synchronized {
          val s = stages.getOrElseUpdate(e.stageInfo.stageId, St())
          s.submit = System.nanoTime(); s.name = e.stageInfo.name
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          val s = stages.getOrElseUpdate(e.stageInfo.stageId, St())
          s.done = System.nanoTime()
          s.nTask = e.stageInfo.numTasks
          val m = e.stageInfo.taskMetrics
          if (m != null) {
            s.taskMs = m.executorRunTime
            s.shRead = m.shuffleReadMetrics.totalBytesRead
            s.shWrite = m.shuffleWriteMetrics.bytesWritten
            s.gcMs = m.jvmGCTime
            s.cpuMs = m.executorCpuTime / 1000000L
            s.deserMs = m.executorDeserializeTime
          }
          s.site = e.stageInfo.details.linesIterator
            .find(l => l.contains("graft") && !l.contains("ProfileOne"))
            .getOrElse("").trim
        }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized { jobs(e.jobId) = (System.nanoTime(), 0L, e.stageIds.size) }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.get(e.jobId).foreach(j => jobs(e.jobId) = (j._1, System.nanoTime(), j._3))
        }
    }

    // comma-separated names profile back-to-back in ONE JVM (r16: the
    // store-probe sweep would otherwise pay a JVM+sbt spinup per query)
    names.foreach { name =>
      def exec(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.toRdd.foreach(_ => ())
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      stages.clear(); jobs.clear()
      // warm rep: JIT/codegen/listing paid before the profiled rep
      (1 until reps).foreach { i => println(f"[profile] $name warm rep$i: ${exec()}%.2f s") }
      spark.sparkContext.addSparkListener(listener)
      val w = exec()
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(300) // let the listener bus drain
      println(f"[profile] $name profiled rep: $w%.2f s")
      val t00 = stages.values.map(_.submit).filter(_ > 0).minOption.getOrElse(0L)
      println(f"[profile] ${jobs.size} jobs, ${stages.size} stages")
      jobs.foreach { case (id, (s, e, n)) =>
        println(f"[job] $id%4d  start=${(s - t00) / 1e9}%7.3f  wall=${(e - s) / 1e9}%7.3f  stages=$n")
      }
      stages.toSeq.sortBy(_._2.submit).foreach { case (id, s) =>
        val wall = if (s.done > s.submit) (s.done - s.submit) / 1e9 else -1.0
        println(f"[stage] $id%4d start=${(s.submit - t00) / 1e9}%7.3f wall=$wall%7.3f " +
          f"tasks=${s.nTask}%3d run=${s.taskMs / 1e3}%6.2fs cpu=${s.cpuMs / 1e3}%6.2fs " +
          f"gc=${s.gcMs / 1e3}%5.2fs deser=${s.deserMs / 1e3}%5.2fs " +
          f"shR=${s.shRead / 1024}%6dK shW=${s.shWrite / 1024}%6dK  ${s.site.take(80)}")
      }
    }
    spark.stop()
  }
}
