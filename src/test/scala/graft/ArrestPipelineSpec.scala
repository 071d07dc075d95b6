package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.etl.ArrestPipeline

/** End-to-end fixture test (SURVEY §5.5): dirty Socrata-shaped JSONL →
  * transform → upsert into a parquet warehouse → re-run with overlap →
  * first-writer-wins + idempotence (reference scripts/etl.py:49-53).
  */
class ArrestPipelineSpec extends SparkSuite {
  import spark.implicits._

  private val dirtyJsonl = Seq(
    // clean row
    """{"arrest_key":"K1","arrest_date":"2023-01-02T00:00:00.000","pd_desc":"robbery","law_cat_cd":"F","arrest_boro":"K","arrest_precinct":"73","perp_sex":"M","latitude":"40.6","longitude":"-73.9","lon_lat":{"type":"Point","coordinates":[-73.9,40.6]}}""",
    // epoch-millis date, float-leak precinct, lowercase law cat
    """{"arrest_key":"K2","arrest_date":"1672617600000","law_cat_cd":"f","arrest_boro":"Q","arrest_precinct":"83.0","perp_sex":"z"}""",
    // blank key → dropped
    """{"arrest_key":"  ","arrest_date":"2023-01-04"}""",
    // unparseable date → dropped (§1.5 fix)
    """{"arrest_key":"K3","arrest_date":"not-a-date"}""",
    // null-ish everything, unmapped borough passthrough
    """{"arrest_key":"K4","arrest_date":"2023-01-05","law_cat_cd":"NONE","arrest_boro":"X","perp_sex":null}""",
    // duplicate key within batch, different payload — first writer (by tiebreak) wins
    """{"arrest_key":"K1","arrest_date":"2023-01-02","pd_desc":"second copy","law_cat_cd":"M"}""")

  private def writeFixture(lines: Seq[String]): String = {
    val f = Files.createTempFile("arrests", ".jsonl")
    Files.write(f, lines.mkString("\n").getBytes)
    f.toString
  }

  test("transform applies the full reference cleaning chain") {
    val raw = spark.read.json(writeFixture(dirtyJsonl))
    val out = ArrestPipeline.transform(raw).orderBy("arrest_key", "pd_desc")
    val rows = out.collect()
    // K1 (×2 payloads, dedup happens at load), K2, K4 — blank key + bad date dropped
    assert(rows.map(_.getString(0)).toSeq == Seq("K1", "K1", "K2", "K4"))
    val k1 = rows(0)
    assert(k1.getAs[java.sql.Date]("arrest_date").toString == "2023-01-02")
    assert(k1.getAs[String]("pd_desc") == "ROBBERY") // uppercased
    assert(k1.getAs[String]("arrest_boro") == "Brooklyn")
    assert(k1.getAs[Int]("arrest_precinct") == 73)
    val k2 = rows(2)
    assert(k2.getAs[java.sql.Date]("arrest_date").toString == "2023-01-02") // epoch ms
    assert(k2.getAs[String]("law_cat_cd") == "F") // lowercase f → F
    assert(k2.getAs[Int]("arrest_precinct") == 83) // float leak fixed
    assert(k2.getAs[String]("perp_sex") == "U") // z → U
    assert(k2.getAs[Double]("latitude") == 0.0) // sentinel
    val k4 = rows(3)
    assert(k4.getAs[String]("law_cat_cd") == "U") // NONE → U
    assert(k4.getAs[String]("arrest_boro") == "X") // passthrough
    assert(k4.getAs[String]("pd_desc") == null) // missing string → NULL (§1.4)
  }

  test("load is first-writer-wins and idempotent") {
    val wh = Files.createTempDirectory("warehouse").toString + "/arrests"
    val raw = spark.read.json(writeFixture(dirtyJsonl))
    val cleaned = ArrestPipeline.transform(raw)

    val n1 = ArrestPipeline.load(cleaned, wh)
    assert(n1 == 3) // K1 (deduped), K2, K4
    val n2 = ArrestPipeline.load(cleaned, wh) // idempotent re-run
    assert(n2 == 0)

    // overlapping second batch: existing key loses, new key inserts
    val batch2 = Seq(
      """{"arrest_key":"K1","arrest_date":"2023-02-01","pd_desc":"conflicting update"}""",
      """{"arrest_key":"K5","arrest_date":"2023-02-02"}""")
    val n3 = ArrestPipeline.load(ArrestPipeline.transform(spark.read.json(writeFixture(batch2))), wh)
    assert(n3 == 1)
    val stored = spark.read.parquet(wh)
    assert(stored.count() == 4)
    val k1 = stored.filter(col("arrest_key") === "K1").collect().head
    assert(k1.getAs[java.sql.Date]("arrest_date").toString == "2023-01-02") // first writer kept
  }

  test("incrementalSource filters on the warehouse high-water-mark") {
    val wh = Files.createTempDirectory("warehouse2").toString + "/arrests"
    val raw = spark.read.json(writeFixture(dirtyJsonl))
    ArrestPipeline.load(ArrestPipeline.transform(raw), wh)
    val source = ArrestPipeline.transform(raw) // same data: all ≥ hwm? only max-date rows
    val inc = ArrestPipeline.incrementalSource(source, spark.read.parquet(wh))
    // hwm = 2023-01-05 (K4); >= keeps K4 only, PK-dedup makes re-load a no-op
    assert(inc.select("arrest_key").collect().map(_.getString(0)).toSet == Set("K4"))
    assert(ArrestPipeline.load(inc, wh) == 0)
  }

  /** Whether `df`'s optimized plan reads the parquet directory `dir`. */
  private def scans(df: org.apache.spark.sql.DataFrame, dir: String): Boolean = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val want = new org.apache.hadoop.fs.Path(dir).toUri.getPath
    df.queryExecution.optimizedPlan.collect { case l: LogicalRelation => l.relation }.exists {
      case r: HadoopFsRelation => r.location.rootPaths.exists(_.toUri.getPath == want)
      case _ => false
    }
  }

  test("incrementalSource over a bare parquet warehouse: built with no job, counted with no warehouse scan") {
    val wh = Files.createTempDirectory("warehouse3").toString + "/arrests"
    val raw = spark.read.json(writeFixture(dirtyJsonl))
    ArrestPipeline.load(ArrestPipeline.transform(raw), wh)
    val source = ArrestPipeline.transform(raw).cache()
    source.count()
    val warehouse = spark.read.parquet(wh)
    var inc: org.apache.spark.sql.DataFrame = null
    assert(jobsLaunchedBy { inc = ArrestPipeline.incrementalSource(source, warehouse) } == 0)
    assert(!scans(inc, wh), inc.queryExecution.optimizedPlan.treeString)
    assert(inc.count() == 1) // K4, the max-date row
    // the aggregate path over the same warehouse reads it and agrees
    val viaAgg = ArrestPipeline.incrementalSource(source, warehouse.filter(lit(true)))
    assert(scans(viaAgg, wh))
    assert(viaAgg.collect().toSet == inc.collect().toSet)
    source.unpersist()
  }

  test("incrementalSource: a warehouse of 0-row files only takes the 1900-01-01 default") {
    val wh = Files.createTempDirectory("warehouse4").toString + "/arrests"
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      ArrestPipeline.ArrestSchema).write.parquet(wh)
    val warehouse = spark.read.parquet(wh)
    assert(warehouse.inputFiles.nonEmpty)
    val source = Seq(("A", java.sql.Date.valueOf("1899-12-31")),
      ("B", java.sql.Date.valueOf("1900-01-01")), ("C", java.sql.Date.valueOf("2023-01-01")))
      .toDF("arrest_key", "arrest_date")
    val inc = ArrestPipeline.incrementalSource(source, warehouse)
    assert(!scans(inc, wh))
    assert(inc.collect().map(_.getString(0)).toSet == Set("B", "C"))
  }
}
