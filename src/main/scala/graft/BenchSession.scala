package graft

import org.apache.spark.sql.SparkSession

/** ONE definition of the bench-shaped local session, shared by
  * [[Bench]], [[Verify]], [[PipelineSmoke]], the perfbench program
  * and the plan/timing tooling (PlanDump / TimeProbe), so the session
  * that is benchmarked is the one whose answers are checked and whose
  * plans are dumped.
  */
object BenchSession {
  /** Build the pinned session at `cpus` local slots (shuffle
    * partitions = slots, the bench convention). */
  def create(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // ObjectHashAggregate (min_by/collect over struct buffers) falls
      // back to SORT-based aggregation after 128 distinct keys per
      // partition by default — pathological for high-cardinality
      // entity-resolution aggregates (sorts every candidate). 64k keys
      // x ~1KB buffers caps the map at ~64MB/partition: hash stays hash.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      // AQE's partition coalescing is byte-driven (parallelismFirst is
      // still floored by minPartitionSize = 1MB), so a CPU-dense
      // small-byte shuffle — candidate-pair scoring, md5 explodes —
      // coalesces to a handful of tasks and serializes on a 32-core
      // executor (q34 ran its whole tail on 4 of 32 slots). A 64k
      // floor keeps small hot shuffles at full parallelism and is
      // invisible at scale, where partitions are GB-sized.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // Every streaming query runs on a cloned session. With artifact
      // isolation on (the default) each clone gets its own artifact
      // UUID, so executors build a fresh session classloader per query,
      // and the codegen cache, keyed by (classloader, source), misses:
      // every Incremental.runOnce tick would recompile all of its
      // generated classes. The engine adds no session artifacts (no addArtifact,
      // no Spark Connect), so isolation buys it nothing. The setting
      // only takes effect when a session is created, so it lives here
      // and not in a runtime conf.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
