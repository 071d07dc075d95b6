package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Scan-parallelism repair for CPU-heavy per-row kernels.
  *
  * A compact corpus usually arrives as ONE parquet file, which the scan
  * planner turns into ONE task (128 MB split default) — and then every
  * pipeline over it evaluates its per-row kernel (shingling, minhash,
  * simhash, deletion neighborhoods) single-threaded while the rest of
  * the executor idles. Measured at sf0.1: 0.6–1.5 s single-task jobs
  * dominating the Jaccard family's wall (JobProfile), one per pipeline
  * that re-derives the kernel column. The guide's input-skew remedy
  * (§2.5: "one huge unsplittable file … repartition immediately after
  * the read") applied surgically: when the physical scan yields fewer
  * partitions than the session's default parallelism, hash-repartition
  * the RAW rows on a deterministic key before the kernel — the shuffle
  * moves the input bytes once, and retried tasks reproduce the same
  * assignment (deterministic key, not round-robin — §2.5's rand caveat).
  * At scale the input is already many splits and this returns the input
  * unchanged, so no plan at or above the split count pays anything.
  *
  * The decision reads only the optimized logical plan, and runs nothing:
  * the split count is read only for a non-streaming chain of
  * Project/Filter over one file or local relation, whose `.rdd` partition
  * count plans the scan without a job. Any other input (a join, an
  * aggregate, a cached relation, a stream) is returned unchanged: under
  * AQE `.rdd` on a plan with an exchange runs the upstream shuffles, and
  * on a stream it throws.
  */
private[graft] object ScanSpread {
  def spread(df: DataFrame, key: Column): DataFrame =
    if (df.isStreaming || !bareScan(df.queryExecution.optimizedPlan)) df
    else {
      val p = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions >= p) df else df.repartition(p, key)
    }

  private def bareScan(plan: LogicalPlan): Boolean = plan match {
    case Project(_, child) => bareScan(child)
    case Filter(_, child) => bareScan(child)
    case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
    case _: LocalRelation => true
    case _ => false
  }
}
