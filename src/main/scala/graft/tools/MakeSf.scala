package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Build a LARGER, referentially-consistent dataset from a driver fixture
  * by deterministic copy-scaling — the sf1 evidence generator
  * (`MakeSf <srcDir> <dstDir> <copies>`): every fact/dim key is offset
  * per copy with one offset PER KEY DOMAIN, so joins keep exactly the
  * source's fan-out (copy c's lineitems join copy c's orders/parts/
  * suppliers and nobody else's); `region`/`nation` stay fixed like
  * TPC-H's unscaled dims. Key-derived names are regenerated from the NEW
  * key so name-keyed dedup keeps the source's near-dup structure instead
  * of gaining `copies` exact clones of every name; document text and
  * embeddings take the ScaleBench mutations (copy-hashed tokens /
  * per-copy sign flips) so near-dup DENSITY stays organic. Timestamps
  * are left alone: scale factor grows the corpus, not the time axis.
  */
object MakeSf {

  private val CustOff = 100000L
  private val OrdOff = 1000000L
  private val PartOff = 100000L
  private val SuppOff = 10000L
  private val EventOff = 10000000L
  private val UserOff = 100000L
  private val DocOff = 10000000L
  private val VecOff = 10000000L

  private def copies(df: DataFrame, n: Int): DataFrame =
    df.crossJoin(df.sparkSession.range(n.toLong).toDF("__c"))

  private def off(k: String, step: Long) =
    (col(k) + col("__c") * lit(step)).as(k)

  private def nameFor(prefix: String, key: org.apache.spark.sql.Column) =
    concat(lit(prefix + "#"), lpad(key.cast("string"), 9, "0"))

  def main(args: Array[String]): Unit = {
    val Array(src, dst, nStr) = args.take(3)
    val n = nStr.toInt
    val spark = graft.GraftSession()
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$dst/_OK"))) {
      println(s"$dst already built"); spark.stop(); return
    }
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.drop("__c").repartition(parts)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    // The per-domain offsets assume every source key fits BELOW its
    // offset; re-scaling an already-scaled fixture (max key >= offset)
    // would silently collide keys across copies — referential fan-out and
    // dedup structure corrupt with no error. One cheap agg per domain.
    def assertFits(df: DataFrame, table: String, keysToOffsets: (String, Long)*): DataFrame = {
      val maxes = df.agg(
        max(col(keysToOffsets.head._1)).cast("long").as("m0"),
        keysToOffsets.tail.zipWithIndex.map { case ((k, _), i) =>
          max(col(k)).cast("long").as(s"m${i + 1}") }: _*).head()
      keysToOffsets.zipWithIndex.foreach { case ((k, step), i) =>
        val mx = maxes.getLong(i)
        require(mx < step,
          s"MakeSf: $table.$k has max $mx >= copy offset $step — scaling " +
            "this source would collide keys across copies; scale from the " +
            "original driver fixture instead")
      }
      df
    }

    // unscaled dims — fixed domains, like TPC-H region/nation
    Seq("region", "nation").foreach { t =>
      read(t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    write(copies(assertFits(read("customer"), "customer", "c_custkey" -> CustOff), n)
      .withColumn("c_custkey", off("c_custkey", CustOff))
      .withColumn("c_name", nameFor("Customer", col("c_custkey"))),
      "customer", math.max(2, n / 2))
    write(copies(assertFits(read("supplier"), "supplier", "s_suppkey" -> SuppOff), n)
      .withColumn("s_suppkey", off("s_suppkey", SuppOff))
      .withColumn("s_name", nameFor("Supplier", col("s_suppkey"))),
      "supplier", 2)
    write(copies(assertFits(read("part"), "part", "p_partkey" -> PartOff), n)
      .withColumn("p_partkey", off("p_partkey", PartOff)),
      "part", math.max(2, n / 2))
    write(copies(assertFits(read("orders"), "orders",
        "o_orderkey" -> OrdOff, "o_custkey" -> CustOff), n)
      .withColumn("o_orderkey", off("o_orderkey", OrdOff))
      .withColumn("o_custkey", off("o_custkey", CustOff)),
      "orders", math.max(4, n))
    write(copies(assertFits(read("lineitem"), "lineitem",
        "l_orderkey" -> OrdOff, "l_partkey" -> PartOff, "l_suppkey" -> SuppOff), n)
      .withColumn("l_orderkey", off("l_orderkey", OrdOff))
      .withColumn("l_partkey", off("l_partkey", PartOff))
      .withColumn("l_suppkey", off("l_suppkey", SuppOff)),
      "lineitem", math.max(8, 2 * n))
    write(copies(assertFits(read("events"), "events",
        "event_id" -> EventOff, "user_id" -> UserOff), n)
      .withColumn("event_id", off("event_id", EventOff))
      .withColumn("user_id", off("user_id", UserOff)),
      "events", math.max(4, n))
    // documents/embeddings: the ScaleBench mutations (shared code); their
    // copy offsets live in ScaleData, asserted against the same rule here
    ScaleData.mutateDocs(assertFits(read("documents"), "documents",
        "doc_id" -> DocOff), n)
      .repartition(math.max(4, n))
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    ScaleData.mutateEmb(assertFits(read("embeddings"), "embeddings",
        "vec_id" -> VecOff), n)
      .repartition(math.max(4, n / 2))
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    fs.create(new org.apache.hadoop.fs.Path(s"$dst/_OK"), true).close()
    println(s"built $dst at ${n}x $src")
    spark.stop()
  }
}
