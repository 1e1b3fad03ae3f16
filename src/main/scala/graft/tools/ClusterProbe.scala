package graft.tools

import org.apache.spark.sql.functions._

/** Scratch profiler for the semdedup/cluster path (optimization round):
  * times the ball-cover pair stage and the clustering stage separately. */
object ClusterProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    def time[T](tag: String)(body: => T): T = {
      val t0 = System.nanoTime(); val r = body
      println(f"[probe] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    (1 to 3).foreach { i =>
      if (i > 1) { System.gc(); Thread.sleep(300) }
      val emb = graft.Tables.embeddings(spark, sfDir)
      val pairs = time(s"ballcover pairs r$i") {
        graft.pipeline.Similarity.nearDupPairsBallCover(emb, 0.4, nlist = 16)
          .select(col("id_a"), col("id_b")).localCheckpoint()
      }
      println(s"[probe] pairs=${pairs.count()}")
      time(s"clusterNearDups r$i") {
        graft.pipeline.Dedup.clusterNearDups(pairs, emb.select(col("vec_id")),
          idCol = "vec_id", maxIterations = 64)
          .filter(col("id") === col("cluster")).count()
      }
      // inline replica of the loop with per-round timing
      if (i == 3) {
        val ids = emb.select(col("vec_id"))
        val p = pairs
        val touched = time("touched") {
          p.select(col("id_a").as("id"))
            .union(p.select(col("id_b").as("id"))).distinct()
            .join(ids.select(col("vec_id").as("id")), Seq("id"), "left_semi")
            .localCheckpoint()
        }
        val edges = time("edges") {
          p.select(col("id_a").as("src"), col("id_b").as("dst"))
            .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
            .union(touched.select(col("id").as("src"), col("id").as("dst")))
            .localCheckpoint()
        }
        var labels = touched.select(col("id"), col("id").as("cluster"))
        var changed = 1L
        var iter = 0
        while (changed > 0 && iter < 64) {
          val t0 = System.nanoTime()
          val viaNeighbors = edges
            .join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy(col("src").as("id"))
            .agg(min(col("cluster")).as("cluster"),
              max(when(col("dst") === col("src"), col("cluster"))).as("old"))
          val next = viaNeighbors.as("a")
            .join(viaNeighbors.select(col("id").as("cid"), col("cluster").as("ccluster")).as("b"),
                  col("a.cluster") === col("b.cid"))
            .select(col("a.id").as("id"),
              least(col("a.cluster"), col("ccluster")).as("cluster"), col("a.old").as("old"))
            .localCheckpoint()
          val t1 = System.nanoTime()
          changed = next.filter(col("cluster") =!= col("old")).count()
          labels = next.select(col("id"), col("cluster"))
          iter += 1
          println(f"[probe] round $iter ckpt ${(t1 - t0) / 1e9}%.2f count ${(System.nanoTime() - t1) / 1e9}%.2f changed=$changed")
        }
        val fin = time("singleton rejoin") {
          labels.union(
            ids.select(col("vec_id").as("id"))
              .join(labels.select(col("id")), Seq("id"), "left_anti")
              .select(col("id"), col("id").as("cluster")))
            .filter(col("id") === col("cluster")).count()
        }
        println(s"[probe] keepers=$fin")
      }
    }
    spark.stop()
  }
}
