package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one timed op did: its kind, whether it is a write or a read, and
  * how many input rows it consumed.
  */
final case class OpResult(kind: String, cls: String, rows: Long)

/** An output check that failed; the run then reports `correct: false`. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** A closed-loop workload. `prepare` and `verify` run outside the timed
  * window: the first makes the next op's inputs, the second compares its
  * outputs with the benchmark's model.
  */
abstract class Workload(val spark: SparkSession, val work: File, val seed: Long,
                        val tracer: Tracer) {
  /** Generator settings, recorded in the result file. */
  def params: Map[String, Any]

  /** Ops per cycle of the workload's op mix; a run measures whole cycles. */
  def cycle: Int = 1

  /** About how long one cycle takes on a 4-core host; sizes the run. */
  def nominalCycleS: Double

  /** Generate inputs and build the initial table or warehouse. */
  def createState(): Unit

  /** Untimed warm-up ops on the created state, numbered -warmUpOps .. -1,
    * before the timed loop.
    */
  def warmUpOps: Int
  def warmUp(): Unit = (-warmUpOps until 0).foreach { i => prepare(i); verify(i, run(i)) }
  def prepare(i: Int): Unit = ()
  def run(i: Int): OpResult
  def verify(i: Int, r: OpResult): Unit = ()

  /** End-of-run checks over the whole state. */
  def finalCheck(): Unit

  /** End-of-run figures: stored bytes per live row and friends. */
  def endState(): Map[String, Double]

  /** Extra per-layer work, traced only, outside any op (kernel timings). */
  def traceExtras(): Unit = ()

  /** Per-layer counters, summed over traced ops (see [[count]]). */
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Checks that ran, by name, with how often each ran. */
  val checks: mutable.LinkedHashMap[String, Int] = mutable.LinkedHashMap.empty

  var countersOn = false
  def count(name: String, v: Double): Unit =
    if (countersOn) counters(name) = counters.getOrElse(name, 0.0) + v

  def require(name: String, ok: Boolean, detail: => String): Unit = {
    checks(name) = checks.getOrElse(name, 0) + 1
    if (!ok) throw new CheckFailed(s"$name: $detail")
  }

  protected def dir(name: String): File = {
    val d = new File(work, name)
    d.mkdirs()
    d
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, work: File, seed: Long,
            tracer: Tracer): Workload = name match {
    case "etl_ingest" => new EtlIngest(spark, work, seed, tracer)
    case "text_dedup" => new TextDedup(spark, work, seed, tracer)
    case "table_commits" => new TableCommits(spark, work, seed, tracer)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Bytes and regular-file count under `f`. */
  def du(f: File): (Long, Int) =
    if (!f.exists()) (0L, 0)
    else if (f.isFile) (f.length(), 1)
    else Option(f.listFiles()).getOrElse(Array.empty[File]).foldLeft((0L, 0)) {
      case ((b, n), c) => val (cb, cn) = du(c); (b + cb, n + cn)
    }

  /** Data files (no hidden or side files) under `f`, by path. */
  def dataFiles(f: File): Map[String, Long] =
    if (!f.exists()) Map.empty
    else if (f.isFile) {
      val n = f.getName
      if (n.startsWith(".") || n.startsWith("_")) Map.empty else Map(f.getPath -> f.length())
    } else Option(f.listFiles()).getOrElse(Array.empty[File])
      .filterNot(c => c.isDirectory && c.getName.startsWith("_"))
      .flatMap(dataFiles).toMap

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
