package graft

import org.apache.spark.sql.SparkSession

/** The persisted ANN indexes the declared px62–px68 queries serve from,
  * built once per JVM: the olap_curation workload builds them in its set-up
  * (so their cost is timed there) and counts their cell files. */
object PerfbenchAccess {
  /** The shared two-level index (IVF + int8 codes + PQ), built on first use. */
  def sharedIndexDir(s: SparkSession, data: String): String =
    pipeline.PipelineQueries.twoLevelIndexDir(s, data)

  /** px68's copy-on-write clone of the shared index with px59's pruned
    * ids removed, built on first use. */
  def removalIndexDir(s: SparkSession, data: String): String =
    pipeline.PipelineQueries.removalIndexDir(s, data)
}
