package graft.tools

/** Dev harness: capture `.explain("formatted")` for named
  * [[graft.SparkEntry.queries]] entries — the plan evidence the
  * optimization rounds commit under `plans/rNN/`.
  *
  *   ExplainQuery [--out DIR] [--suffix after] [--conf k=v]... q_a q_b
  *
  * Each query's plan lands at `DIR/<name>_<suffix>.txt`. `--conf` pairs
  * are applied to the session before the query function is built, so a
  * tier that only engages at scale (e.g. the escalated-LSH generator
  * under a small `spark.graft.dedup.candidatePairBudget`) can be forced
  * for plan capture; the pairs used are recorded in the file header.
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.GraftSession.sfDir
    var out = "plans"
    var suffix = "after"
    val confs = scala.collection.mutable.ListBuffer[(String, String)]()
    val names = scala.collection.mutable.ListBuffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--out" => out = args(i + 1); i += 2
        case "--suffix" => suffix = args(i + 1); i += 2
        case "--conf" =>
          val Array(k, v) = args(i + 1).split("=", 2); confs += (k -> v); i += 2
        case q => names += q; i += 1
      }
    }
    val spark = graft.GraftSession()
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val dir = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(dir)
    names.foreach { q =>
      val fn = graft.SparkEntry.queries.getOrElse(q, sys.error(s"unknown query $q"))
      val df = fn(spark, sfDir)
      val header =
        s"# $q  (.explain(\"formatted\"), data=$sfDir, cpus=${graft.GraftSession.cpus})\n" +
          (if (confs.nonEmpty)
             confs.map { case (k, v) => s"# conf $k=$v" }.mkString("", "\n", "\n")
           else "") + "\n"
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(dir.resolve(s"${q}_$suffix.txt"),
        (header + plan).getBytes("UTF-8"))
      println(s"wrote ${dir.resolve(s"${q}_$suffix.txt")}")
    }
    spark.stop()
  }
}
