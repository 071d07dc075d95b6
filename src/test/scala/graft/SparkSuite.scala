package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (forked test JVM),
  * built by the engine's own [[GraftSession]].
  */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession()

  /** A second session on the suite's context with no graft extension and
    * nothing registered (`newSession()` would carry the extension). The
    * suite session stays the active and default one.
    */
  def bare(): SparkSession = detached(SparkSession.builder())

  /** A second session on the suite's context built with the extension. */
  def extended(): SparkSession =
    detached(SparkSession.builder()
      .withExtensions(new graft.functions.GraftSqlExtensions))

  // create() may take a vacant active/default slot, which the suite
  // session keeps
  private def detached(b: SparkSession.Builder): SparkSession = {
    val shared = spark
    val s = b.create()
    SparkSession.setActiveSession(shared)
    SparkSession.setDefaultSession(shared)
    s
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs `f` launches: tagged by job group and counted by a
    * listener. The listener bus delivers in order, so once a trailing
    * sentinel job is seen every earlier job has been counted.
    */
  protected def jobsLaunchedBy(f: => Any): Int = jobTasksOf(f).size

  /** The task count of each job's final stage, for the jobs `f` launches,
    * in launch order.
    */
  protected def jobTasksOf(f: => Any): Seq[Int] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-launched-by-${System.nanoTime()}"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("") ->
          e.stageInfos.maxBy(_.stageId).numTasks)
    }
    sc.addSparkListener(listener)
    def inGroup(g: String)(body: => Any): Unit = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    try {
      inGroup(group)(f)
      inGroup(s"$group-sentinel")(sc.parallelize(Seq(1), 1).count())
      import scala.jdk.CollectionConverters._
      def sentinelSeen = groups.asScala.exists(_._1 == s"$group-sentinel")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(sentinelSeen, "listener never saw the sentinel job")
      groups.asScala.toSeq.collect { case (`group`, tasks) => tasks }
    } finally sc.removeSparkListener(listener)
  }
}
