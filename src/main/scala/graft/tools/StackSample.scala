package graft.tools

import graft.SparkEntry

/** Optimization-round measurement tool: run one declared query in a loop
  * while a daemon thread samples every live thread's stack at ~5 ms and
  * histograms the frames of executor task threads — a poor-man's
  * wall-clock profiler for a sandbox where jstack/jcmd attach is blocked.
  * Separates ON-CPU frames from blocked ones by thread state. Not part
  * of the bench contract; measurement tooling only.
  *
  * usage: StackSample <queryName> [repeat]
  */
object StackSample {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StackSample <queryName> [repeat]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    val hist = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val all = Thread.getAllStackTraces
          all.forEach { (t, st) =>
            if (t.getName.startsWith("Executor task launch") && st.nonEmpty) {
              // key = state + the deepest "interesting" frame + one caller
              val top = st.take(14).map(f => s"${f.getClassName}.${f.getMethodName}")
              val key = s"${t.getState}  ${top.mkString(" <- ")}"
              hist.computeIfAbsent(key, _ => new java.util.concurrent.atomic.LongAdder).increment()
            }
          }
        }
        Thread.sleep(5)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    val repeat = if (args.length > 1) args(1).toInt else 3
    val name = args(0)
    // warm once (codegen/JIT), like Bench
    try SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count(): Unit
    catch { case _: Throwable => }
    sampling = true
    (1 to repeat).foreach { _ =>
      SparkEntry.queries(name)(spark, sfDir).count(): Unit
    }
    sampling = false
    Thread.sleep(50)
    import scala.jdk.CollectionConverters._
    val rows = hist.asScala.toSeq.map { case (k, v) => (v.sum(), k) }.sortBy(-_._1)
    val total = rows.map(_._1).sum
    println(s"=== $name: $total samples of executor threads ===")
    rows.take(40).foreach { case (n, k) =>
      println(f"$n%6d (${n * 100.0 / math.max(1, total)}%5.1f%%)  $k")
    }
    spark.stop()
  }
}
