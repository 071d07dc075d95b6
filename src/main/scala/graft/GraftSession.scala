package graft

import org.apache.spark.sql.SparkSession

/** The engine's session and the one `SparkSession.builder` in the jar:
  * `local[cpus]` with `cpus` shuffle partitions, UTC, UI off, WARN, the
  * [[graft.fs.FastLocalFileSystem]] shim, and every graft function, rule
  * and the DML parser injected by [[graft.functions.GraftSqlExtensions]].
  * A session built elsewhere gets the functions and rules from
  * [[graft.functions.GraftFunctions.register]].
  */
object GraftSession {

  /** Local cores (`SPARK_GRAFT_CPUS`, default 4). */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Fixture directory the mains read (`SPARK_GRAFT_SF_DIR`). */
  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The process's session: built on first call, the same one after. */
  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.fs.FastLocalFileSystem].getName)
      .withExtensions(new graft.functions.GraftSqlExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
