package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev harness: time named [[graft.SparkEntry.queries]] entries in one
  * warm JVM — `TimeQuery q_ivm q_dedup_near [reps]`. Prints per-query
  * cold + per-rep seconds and (with `-jobs`) the Spark job count per run,
  * the first thing to look at when a fixture-heavy query's wall time is
  * driver scheduling rather than executor work.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val (flags, rest) = args.partition(_.startsWith("-"))
    val showJobs = flags.contains("-jobs")
    val reps = rest.reverse.headOption.filter(_.forall(_.isDigit)).map(_.toInt).getOrElse(2)
    val names = rest.filterNot(_.forall(_.isDigit))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.fs.FastLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    names.foreach { q =>
      val fn = graft.SparkEntry.queries.getOrElse(q,
        sys.error(s"unknown query $q"))
      (0 to reps).foreach { i =>
        val j0 = sc.statusTracker.getJobIdsForGroup(null).length
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        val jobs = sc.statusTracker.getJobIdsForGroup(null).length - j0
        val tag = if (i == 0) "cold" else s"rep$i"
        println(f"$q%-28s $tag%-5s $dt%8.3f s" +
          (if (showJobs) f"  jobs=$jobs%d" else ""))
      }
    }
    spark.stop()
  }
}
