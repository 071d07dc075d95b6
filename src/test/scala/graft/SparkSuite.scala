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
}
