package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .withExtensions(new graft.functions.GraftExtensions)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** Base suite sharing one SparkSession across all specs (JVM-wide). */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Run `body` and return its result with the description of every
    * Spark job started while it ran, from any thread (a driver pool's
    * threads do not carry the caller's job group), except the jobs of a
    * streaming query still running. The listener bus is FIFO: once a
    * fence job shows up, every event of `body` has been delivered. */
  def withJobs[T](body: => T): (T, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val fence = s"graft-jobs-fence-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) =
          Option(j.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
        jobs.add(prop("spark.jobGroup.id") -> prop("spark.job.description"))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(fence, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!jobs.asScala.exists(_._1 == fence) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(jobs.asScala.exists(_._1 == fence), "listener bus never drained")
      val streams = spark.streams.active.map(_.runId.toString).toSet + fence
      out -> jobs.asScala.toSeq.filterNot(j => streams(j._1)).map(_._2)
    } finally sc.removeSparkListener(listener)
  }
}
