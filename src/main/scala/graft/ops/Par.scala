package graft.ops

import org.apache.spark.sql.DataFrame

/** Scan-parallelism guard for CPU-bound narrow pipelines (tokenize / md5 /
  * shingle streams): Spark sizes scan splits by BYTES (`maxPartitionBytes`
  * packing with the open-cost floor), so a physically small input yields far
  * fewer tasks than cores and per-row CPU work serializes on a handful of
  * threads — the optimization guide's "fix input parallelism right after the
  * read" case (§2.5/§6). When the plan's scan parallelism is below the
  * cluster default parallelism, round-robin repartition up to it: the
  * shuffle is bounded by the (by definition small) input. At scale the scan
  * already carries >= defaultParallelism splits and this is the identity —
  * no corpus shuffle is ever introduced, so the 100 TB plan shape is
  * unchanged.
  */
object Par {
  // CALL-SITE CONTRACT: pass scan-level frames only (projections over a
  // source read, nothing with an exchange upstream). Reading the partition
  // count goes through df.rdd, which finalizes the adaptive plan — over a
  // frame with upstream shuffles that would EXECUTE them just to count
  // partitions and then re-run them in the real query.
  def fanOut(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }
}
