package graft

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Optimization-round helper: per-Spark-job breakdown of one query.
  *
  * Usage: runMain graft.JobProfile <sfDir> q413,q201,...
  *
  * Attaches a listener that records every job's wall-clock and call site,
  * then runs each named query once (consumed exactly like graft.Bench).
  * Output: one line per job — duration, jobId, description/call site —
  * so the expensive pass inside a multi-job operator is visible without
  * the Spark UI (disabled in this sandbox).
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local("graft-jobprofile", cpus)
    spark.sparkContext.setLogLevel("WARN")

    case class J(id: Int, start: Long, var end: Long = -1L, site: String = "")
    val jobs = mutable.LinkedHashMap.empty[Int, (Long, String)]
    val done = mutable.LinkedHashMap.empty[Int, Long]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        jobs.synchronized { jobs(e.jobId) = (e.time, site) }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        done.synchronized { done(e.jobId) = e.time }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      val full = SparkEntry.resolve(name)
      jobs.synchronized(jobs.clear()); done.synchronized(done.clear())
      val t0 = System.nanoTime()
      SparkEntry.queries(full)(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener events drain
      println(f"== $full: $wall%.2f s, ${jobs.size} jobs")
      val rows = jobs.toSeq.map { case (id, (st, site)) =>
        val dur = done.get(id).map(e => (e - st) / 1e3).getOrElse(-1.0)
        (id, dur, site)
      }
      rows.sortBy(-_._2).take(25).foreach { case (id, dur, site) =>
        println(f"  job $id%4d ${dur}%8.3f s  $site")
      }
      val acc = rows.filter(_._2 > 0).map(_._2).sum
      println(f"  [sum of job durations: $acc%.2f s; gaps = driver-side work]")
    }
    spark.stop()
  }
}
