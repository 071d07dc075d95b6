package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --out <file>`. Builds the session, creates the
  * workload's initial state several times (the last one is measured),
  * warms it up, runs the closed loop for about `seconds`, checks every
  * output against the model, and writes the raw record `run.py` turns into
  * metrics.
  *
  * With `--trace 1` every other cycle of ops runs inside spans with the job
  * listener attributing Spark work to them; the untraced cycles in between
  * give the tracing overhead on the same state.
  */
object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = new File(a("work")).getAbsoluteFile
    val out = new File(a("out"))
    val cores = Runtime.getRuntime.availableProcessors()

    val rec = mutable.LinkedHashMap.empty[String, Any]
    rec ++= Seq("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cores)
    val before = Sentinel.sample(cores)

    val spark = session(work, cores)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - before._3

    val tracer = new Tracer(spark, trace)
    val errors = mutable.ArrayBuffer.empty[String]
    var correct = true
    // the initial state is built several times (the last one is measured)
    // and its median reported, then warmed up once
    val setups = mutable.ArrayBuffer.empty[Double]
    var w: Workload = null
    (0 until SetupRepeats).foreach { k =>
      val dir = new File(work, s"setup-$k")
      Workload.deleteRecursively(dir)
      dir.mkdirs()
      if (w != null) Workload.deleteRecursively(w.work)
      val t0 = System.nanoTime()
      w = Workload(workload, spark, dir, seed, tracer)
      w.createState()
      setups += (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    w.warmUp()
    val warmUpS = (System.nanoTime() - t0) / 1e9
    rec ++= Seq("session_s" -> sessionS, "setup_repeats_s" -> setups.toSeq,
      "warm_up_s" -> warmUpS, "cycle" -> w.cycle, "params" -> w.params)

    // the closed loop: one client, the next op starts when the last ends
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    var failed = 0
    var tracedOps = 0
    // A fixed number of whole cycles, sized to last about `seconds`: every
    // run measures the same ops at the same point of JVM warm-up, however
    // fast the host is at the time. A traced run needs a traced cycle
    // between two untraced ones at least.
    val cycles = math.max(if (trace) 3 else 1, math.round(seconds / w.nominalCycleS).toInt)
    val loopStart = System.nanoTime()
    var i = 0
    while (i < cycles * w.cycle) {
      // cycles alternate untraced and traced, so every op kind is seen both ways
      val traced = trace && (i / w.cycle) % 2 == 1
      w.prepare(i)
      w.countersOn = traced
      tracer.active = traced
      tracer.startOp(i)
      val t0 = System.nanoTime()
      val r = try Some(tracer.span("bench.op")(w.run(i))) catch {
        case NonFatal(e) =>
          failed += 1; errors += s"op $i: $e"; None
      }
      val t1 = System.nanoTime()
      tracer.startOp(-1)
      r.foreach { res =>
        try w.verify(i, res) catch {
          case e: CheckFailed => correct = false; errors += e.getMessage
        }
        ops += Map("i" -> i, "kind" -> res.kind, "cls" -> res.cls, "rows" -> res.rows,
          "t0_ns" -> (t0 - loopStart), "t1_ns" -> (t1 - loopStart), "traced" -> traced)
      }
      if (traced) tracedOps += 1
      tracer.active = false
      w.countersOn = false
      i += 1
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9

    try w.finalCheck() catch {
      case e: CheckFailed => correct = false; errors += e.getMessage
    }
    if (trace) {
      tracer.active = true
      w.countersOn = true
      w.traceExtras()
      tracer.active = false
    }
    val end = w.endState()
    val (spans, jobs, nanoMinusWall) = tracer.dump()
    val after = Sentinel.sample(cores)

    rec ++= Seq(
      "loop_s" -> loopS, "attempted" -> i, "failed" -> failed,
      "correct" -> (correct && failed == 0), "errors" -> errors.toSeq,
      "checks" -> w.checks.toMap, "ops" -> ops.toSeq,
      "traced_ops" -> tracedOps, "counters" -> w.counters.toMap, "end_state" -> end,
      "kernels_rows_per_s" -> (w match {
        case t: TextDedup => t.kernelRowsPerS.toMap
        case _ => Map.empty[String, Double]
      }),
      "peak_rss_mb" -> peakRssMb(),
      "sentinel" -> Map(
        "before" -> Map("single_s" -> before._1, "multi_s" -> before._2),
        "after" -> Map("single_s" -> after._1, "multi_s" -> after._2)),
      "nano_minus_wall_ns" -> nanoMinusWall,
      "spans" -> spans.map(s => Seq(s.id, s.parent, s.name, s.op, s.start, s.end)),
      "jobs" -> jobs.map(j => Seq(j.id, j.group, j.startMs, j.endMs, j.stages,
        j.tasks, j.failedTasks, j.runMs, j.cpuNs, j.gcMs, j.schedDelayMs,
        j.shuffleWrite, j.shuffleRead, j.spill, j.input, j.output)))
    spark.stop()
    out.getAbsoluteFile.getParentFile.mkdirs()
    val pw = new PrintWriter(out, "UTF-8")
    pw.println(Json.render(rec.toMap))
    pw.close()
  }

  /** The session every run uses: all cores, one shuffle partition per
    * core, the engine's functions and rules installed, all files under
    * `work`.
    */
  def session(work: File, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .config("spark.hadoop.fs.file.impl", classOf[graft.fs.FastLocalFileSystem].getName)
      .config("spark.sql.extensions", "graft.functions.GraftSqlExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) return -1.0
    val src = scala.io.Source.fromFile(f)
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
    finally src.close()
  }
}

/** Host-contention sentinel: a fixed allocation-free spin, once on one
  * thread and once on every core. Its time moves only with how much CPU
  * the host gives this process, so a contended run shows in its own record
  * instead of reading as a regression.
  */
object Sentinel {
  @volatile private var sink = 0L
  private def spin(iters: Int): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < iters) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 33
      i += 1
    }
    x
  }

  /** (single-thread seconds, all-core seconds, total seconds). */
  def sample(threads: Int): (Double, Double, Double) = {
    val t0 = System.nanoTime()
    sink = spin(100000000)
    val single = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val pool = (0 until threads).map { _ =>
      val t = new Thread(() => { sink = spin(100000000) })
      t.start(); t
    }
    pool.foreach(_.join())
    val multi = (System.nanoTime() - t1) / 1e9
    (single, multi, (System.nanoTime() - t0) / 1e9)
  }
}

/** Minimal JSON rendering for the result record. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
