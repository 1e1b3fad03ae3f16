package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession of graft's mains — Bench, BenchOne,
  * ServeBench, Verify, PlanDump and the profiling tools — so the plans
  * Verify checks are the plans Bench times: graft's extensions, one
  * shuffle partition per core, UTC, a 64 MB broadcast threshold, a
  * suite-sized codegen cache (see [[BenchMeters]]) and no UI. */
object GraftSession {
  /** The session's builder, for a main that layers settings on top. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")

  def local(cpus: Int): SparkSession = builder(cpus).getOrCreate()
}
