package graft

import org.apache.spark.sql.functions._

import graft.ops.LayoutOps

class LayoutOpsSpec extends SparkSuite {
  import spark.implicits._

  test("interleaveBits: monotone locality on known patterns") {
    val k = graft.functions.VecKernels
    assert(k.interleaveBits(0, 0) == 0L)
    assert(k.interleaveBits(1, 0) == 1L) // x occupies even bits
    assert(k.interleaveBits(0, 1) == 2L) // y occupies odd bits
    assert(k.interleaveBits(3, 3) == 15L)
    assert(k.interleaveBits(0xFFFFFFFF, 0xFFFFFFFF) == -1L)
    // quadrant ordering: all z-values of the (0..1, 0..1) quadrant are
    // below every z-value of the (2..3, 2..3) quadrant
    val q0 = for (x <- 0 to 1; y <- 0 to 1) yield k.interleaveBits(x, y)
    val q3 = for (x <- 2 to 3; y <- 2 to 3) yield k.interleaveBits(x, y)
    assert(q0.max < q3.min)
  }

  test("zorderWrite clusters 2-D neighborhoods: per-file boxes shrink vs linear sort") {
    // uniform 2-D torus: coprime moduli make (x, y) jointly uniform (CRT)
    // rather than y being a function of x
    val n = 20000
    val df = (0 until n).map { i =>
      (i.toLong, i % 1000, (i * 104729) % 997)
    }.toDF("id", "x", "y")

    // A file's pruning power for a box predicate is bounded by its WORST
    // dimension extent: a linear sort yields slivers (tiny dx, full-range
    // dy — useless for y predicates); z-order must bound BOTH dimensions.
    def worstExtent(path: String): Double =
      spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(greatest(max($"x") - min($"x"), max($"y") - min($"y"))
          .cast("double").as("w"))
        .agg(avg($"w")).as[Double].collect().head

    val base = new java.io.File("target/fixtures/zorder_test").getAbsolutePath
    // linear layout: range-partition + sort by x only
    df.repartitionByRange(64, $"x").sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$base/linear")
    // z-order layout over both dimensions
    LayoutOps.zorderWrite(df,
      LayoutOps.rank32($"x", 0, 1000), LayoutOps.rank32($"y", 0, 1000),
      64, s"$base/zorder")

    // rows survive the rewrite intact
    val back = spark.read.parquet(s"$base/zorder")
    assert(back.count() == n)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)

    val (linW, zW) = (worstExtent(s"$base/linear"), worstExtent(s"$base/zorder"))
    // 64 z-tiles over a 1000x1000 grid → ~125-250 per side; linear files
    // span the full y range (~1000)
    assert(zW * 2 < linW,
      s"z-order must bound both dimensions: z=$zW linear=$linW")
  }

  test("zvalue rejects non-int rank columns at analysis time") {
    val df = Seq((1L, 2L)).toDF("a", "b")
    val ex = intercept[Exception] {
      df.select(LayoutOps.zvalue($"a", $"b")).collect()
    }
    assert(ex.getMessage.contains("graft_zvalue2") ||
      ex.getMessage.toLowerCase.contains("data type mismatch"), ex.getMessage)
  }
}
