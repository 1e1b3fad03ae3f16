package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run's shared state: the session, the recorder, the
  * seeded parameters, and what the workload measured beside its ops. */
final class Run(val spark: SparkSession, val tracer: Tracer, val profile: Profile,
                val seed: Long, val seconds: Double, val work: Path, val inputs: Path,
                val cpus: Int) {
  private val sampleMap = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  private val counterMap = new ConcurrentHashMap[String, java.lang.Double]()
  private val checkList = new ConcurrentLinkedQueue[(String, Boolean, String)]()

  /** One latency-like observation (e.g. a replica lag in ms). */
  def sample(name: String, v: Double): Unit =
    sampleMap.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v): Unit
  /** Count work of the timed phase and of the drain after it; set-up
    * repetitions do not count. */
  def add(name: String, v: Double = 1.0): Unit =
    if (tracer.phase == "timed" || tracer.phase == "finish")
      counterMap.merge(name, v, (a, b) => a + b): Unit
  def set(name: String, v: Double): Unit = counterMap.put(name, v): Unit
  def counter(name: String): Double = Option(counterMap.get(name)).map(_.doubleValue).getOrElse(0.0)
  /** An output check; a false one fails the run. */
  def check(name: String, ok: Boolean, detail: => String): Unit =
    checkList.add((name, ok, if (ok) "" else detail)): Unit

  def samples: Map[String, Seq[Double]] = sampleMap.asScala.map { case (k, v) => k -> v.asScala.toSeq }.toMap
  def counters: Map[String, Double] = counterMap.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  def checks: Seq[(String, Boolean, String)] = checkList.asScala.toSeq

  /** A fresh directory under the run's work area. */
  def freshDir(name: String): Path = {
    val d = work.resolve(name)
    Run.deleteTree(d)
    Files.createDirectories(d)
  }
}

object Run {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
  /** Bytes of every regular file under `p` (and how many there are). */
  def diskUsage(p: Path, filter: Path => Boolean = _ => true): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala.filter(f => Files.isRegularFile(f) && filter(f)).toSeq
        (files.map(Files.size).sum, files.size.toLong)
      } finally s.close()
    }
}

/** A workload: generated inputs, a repeatable set-up, a timed phase of
  * closed-loop client threads, then the output checks. */
trait Workload {
  /** Generate (or reuse) the seeded inputs; not timed. */
  def inputs(): Unit
  /** Build the starting state from scratch; the last repetition's state
    * is the one the timed phase runs on. */
  def setup(rep: Int): Unit
  /** Run the client threads until `deadlineNs`. */
  def run(deadlineNs: Long): Unit
  /** Drain, check the outputs, record sizes. */
  def finish(): Unit
  /** Client threads of the timed phase. */
  def clients: Int
  /** What one "op" is for the per-op metrics, and how many completed. */
  def opUnit: String
  def opsDone: Double
}

object Workload {
  /** Run `clients` as named threads and wait for all of them. */
  def clients(named: (String, () => Unit)*): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val ts = named.map { case (n, body) =>
      val t = new Thread(() => try body() catch { case e: Throwable => errors.add(e): Unit }, n)
      t.start(); t
    }
    ts.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  def ms(ns: Long): Double = ns / 1e6
}
