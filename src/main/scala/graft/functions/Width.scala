package graft.functions

import org.apache.spark.sql.SparkSession

/** Explicit shuffle width for frames that are BYTE-small but
  * COMPUTE-dense (wedge joins, per-pair array_intersect rescoring,
  * output-amplifying explodes). AQE coalesces shuffle partitions by
  * bytes, so such a frame gets squeezed into 1–2 tasks and runs
  * serially on an otherwise idle cluster (measured at sf0.1:
  * q_triangles 6.6 → 2.7 s, q_prefix_jaccard 3.6 → 2.0 s, q_gap_fill
  * 1.7 → 0.5 s once pinned). A user-specified numPartitions is exempt
  * from coalescing; 3× cluster parallelism keeps every core fed with
  * schedulable granularity and scales with the cluster, never a local
  * constant.
  */
object Width {
  def computeDense(s: SparkSession): Int = 3 * s.sparkContext.defaultParallelism
}
