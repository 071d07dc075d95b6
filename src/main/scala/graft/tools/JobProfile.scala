package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd}

/** Dev harness: timing and per-Spark-job attribution for registered
  * queries in one warm JVM — `JobProfile q_dv_compose [q_...] [reps]`.
  * Each query runs once cold, then `reps` more times (default 1); every
  * run prints its wall seconds and Spark job count, and the last run also
  * prints one line per job with wall ms, task count, and the call site
  * that launched it. The first thing to look at when a fixture-heavy
  * query's wall is many small jobs: WHICH operations launch them and what
  * each one costs.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.GraftSession.sfDir
    val (repArgs, names) = args.partition(_.forall(_.isDigit))
    val reps = repArgs.lastOption.map(_.toInt).getOrElse(1)
    val spark = graft.GraftSession()
    val sc = spark.sparkContext
    case class J(id: Int, t0: Long, site: String, tasks: Int)
    val open = scala.collection.concurrent.TrieMap.empty[Int, J]
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(J, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
        // stage name carries the action call site ("parquet at Foo.scala:12");
        // for AQE-materialized stages it is an executor-pool frame, so fall
        // back to the first graft frame in the stage details (full call site)
        val graftFrame = e.stageInfos.iterator
          .flatMap(_.details.linesIterator)
          .find(l => l.contains("graft.") && !l.contains("JobProfile"))
          .map(_.trim.stripPrefix("at "))
        val site = desc
          .orElse(e.stageInfos.lastOption.map(_.name).filterNot(_.contains("withThreadLocal")))
          .orElse(graftFrame)
          .getOrElse(e.stageInfos.lastOption.map(_.name).getOrElse("?"))
        val tasks = e.stageInfos.map(_.numTasks).sum
        open(e.jobId) = J(e.jobId, System.nanoTime(), site.take(110), tasks)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        open.remove(e.jobId).foreach(j => done.add((j, System.nanoTime())))
    }
    sc.addSparkListener(listener)
    names.foreach { q =>
      val fn = graft.SparkEntry.queries.getOrElse(q, sys.error(s"unknown query $q"))
      (0 to reps).foreach { i =>
        done.clear(); open.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        // the listener bus is asynchronous: wait until it has delivered
        // every job-end event of this run
        org.apache.spark.sql.GraftShim.drainListenerBus(sc)
        val tag = if (i == 0) "cold" else s"rep$i"
        println(f"== $q $tag wall=$wall%.3f s jobs=${done.size}%d")
        if (i == reps) {
          import scala.jdk.CollectionConverters._
          val rows = done.asScala.toSeq.sortBy(_._1.id)
          rows.foreach { case (j, t1) =>
            println(f"  job=${j.id}%4d ${(t1 - j.t0) / 1e6}%8.1f ms tasks=${j.tasks}%4d  ${j.site}")
          }
          val acc = rows.map { case (j, t1) => t1 - j.t0 }.sum
          println(f"  sum_job_wall=${acc / 1e9}%.3f s (gaps = driver-side work)")
        }
      }
    }
    sc.removeSparkListener(listener)
    spark.stop()
  }
}
