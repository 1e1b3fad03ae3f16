package graft.tools

import graft.SparkEntry
import org.apache.spark.scheduler._

/** Optimization-round diagnostic runner (guide §1/§7): run one declared
  * query and print per-stage wall/executor-cpu/shuffle metrics from a
  * SparkListener — the Spark-UI stage table for a headless host. Not part
  * of the bench contract; measurement tooling only.
  *
  * usage: DiagOne <queryName> [repeat]
  */
object DiagOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: DiagOne <queryName> [repeat]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = graft.GraftSession.builder(cpus.toInt)
    // A/B config experiments: SPARK_GRAFT_EXTRA_CONF="k=v;k=v"
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    case class St(id: Int, name: String, tasks: Int, wallMs: Long,
                  runMs: Long, cpuMs: Long, srBytes: Long, swBytes: Long,
                  inBytes: Long, rows: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    var jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(): Unit }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages.add(St(si.stageId,
          si.name.split("\n").head.take(90),
          si.numTasks,
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          m.executorRunTime, m.executorCpuTime / 1000000,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)): Unit
      }
    })

    val repeat = if (args.length > 1) args(1).toInt else 1
    val names = args(0).split(",")
    // warm once at the smallest SF (codegen/JIT), like Bench
    names.foreach { q =>
      try SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").count(): Unit
      catch { case _: Throwable => }
    }
    (1 to repeat).foreach { i =>
      if (i > 1) { System.gc(); Thread.sleep(300) }
      names.foreach { q =>
        stages.clear(); jobs.set(0)
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(q)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"=== $q run=$i rows=$n wall=$wall%.3f jobs=${jobs.get} stages=${stages.size}")
        import scala.jdk.CollectionConverters._
        val sts = stages.asScala.toSeq.sortBy(_.id)
        val totRun = sts.map(_.runMs).sum
        val totCpu = sts.map(_.cpuMs).sum
        println(f"    total executorRun=${totRun}ms cpu=${totCpu}ms")
        sts.foreach { s =>
          println(f"    stage ${s.id}%4d tasks=${s.tasks}%3d wall=${s.wallMs}%5dms run=${s.runMs}%6dms cpu=${s.cpuMs}%6dms sr=${s.srBytes/1024}%7dK sw=${s.swBytes/1024}%7dK in=${s.inBytes/1024}%7dK rows=${s.rows}%8d ${s.name}")
        }
      }
    }
    spark.stop()
  }
}
