package graft.tools

import org.apache.spark.sql.SparkSession

/** Multi-process commit stress driver: one INDEPENDENT coordinator JVM
  * hammering CAS commits at a shared warehouse.
  *
  * The reference's production shape is several coordinator processes
  * sharing one catalog (its v2 commit gate simulates the multi-region
  * form in-memory — reference/modules/sync-core/.../InMemoryCommitGateAdapter.java:29).
  * Here the catalog's commit point is an atomic create-if-absent of the
  * next version file (GraftCatalog's commit funnel), which needs NO in-process
  * coordination — so two separate JVMs must be able to interleave
  * commits with zero lost updates. GeoReplicationSpec spawns this main
  * as a child process against the spec's own warehouse and asserts the
  * merged history is gapless and linear.
  *
  * Usage: CommitStorm <warehouse> <ns> <table> <committerId> <nCommits>
  * Prints `STORM-DONE <committerId> <nCommits>` on success.
  */
object CommitStorm {
  def main(args: Array[String]): Unit = {
    val Array(warehouse, ns, table, committerId, n) = args.take(5)
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName(s"commit-storm-$committerId")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import spark.implicits._
      val cat = new graft.catalog.GraftCatalog(spark, warehouse)
      (0 until n.toInt).foreach { i =>
        // high retry budget: every commit here races a foreign JVM, not
        // just sibling threads
        cat.commitAppend(ns, table,
          Seq((committerId, i)).toDF("committer", "i"),
          sourceRegion = committerId, maxRetries = 50)
      }
      println(s"STORM-DONE $committerId $n")
    } finally spark.stop()
  }
}
