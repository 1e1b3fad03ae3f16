package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run:
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --inputs <dir> --profile <json> --cpus <n>
  * }}}
  * Starts a local[cpus] session, generates the seeded inputs, sets the
  * workload up `SetupReps` times, runs its timed phase, checks the
  * outputs, and writes what it recorded to `<work>/result.json` (plus
  * spans.jsonl, jobs.jsonl and plans.jsonl when tracing). The metric
  * arithmetic lives in run.py/stats.py. */
object Main {
  /** Set-ups per run; `setup_s` reports their median. Two, not three:
    * a third costs a geo_replication run 8–10 s that its timed phase
    * needs more, within the budget of 48 runs in 3,420 s (README.md). */
  val SetupReps = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val tracing = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val inputs = Files.createDirectories(Paths.get(opt("inputs")).toAbsolutePath)
    val cpus = opt("cpus").toInt
    val profile = Profile.load(Paths.get(opt("profile")))
    Files.createDirectories(work)

    val tracer = new Tracer(tracing)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val sessionS = (System.nanoTime() - t0) / 1e9
    tracer.install(spark)

    val run = new Run(spark, tracer, profile, seed, seconds, work, inputs, cpus)
    val w: Workload = workload match {
      case "geo_replication" => new GeoReplication(run)
      case "table_dml" => new TableDml(run, baseRows = 600000)
      case "curation_batch" => new CurationBatch(run, docs = 6000, warmDocs = 500)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    tracer.phase = "inputs"
    w.inputs()
    val setups = (1 to SetupReps).map { rep =>
      tracer.phase = "setup"
      val s = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - s) / 1e9
    }

    System.gc()
    val before = Meters.now()
    tracer.phase = "timed"
    val ts = System.nanoTime()
    w.run(ts + (seconds * 1e9).toLong)
    val te = System.nanoTime()
    val after = Meters.now()
    tracer.phase = "finish"
    val heapMb = Meters.retainedHeapMb()
    val ops = w.opsDone
    w.finish()
    tracer.drainListeners()

    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> tracing, "cpus" -> cpus,
      "session_s" -> sessionS, "setup_s" -> setups, "timed_s" -> (te - ts) / 1e9,
      "timed_start_ns" -> ts, "timed_end_ns" -> te,
      "op_unit" -> w.opUnit, "ops_done" -> ops,
      "cpu_ms" -> (after.cpuMs - before.cpuMs), "gc_ms" -> (after.gcMs - before.gcMs),
      "jit_ms" -> (after.jitMs - before.jitMs), "heap_mb" -> heapMb,
      "probe_ns" -> tracer.probeNs.get, "clients" -> w.clients,
      "ops" -> tracer.opList, "samples" -> run.samples, "counters" -> run.counters,
      "checks" -> run.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) })
    mapper.writeValue(work.resolve("result.json").toFile, result)
    if (tracing) {
      import scala.jdk.CollectionConverters._
      def lines(name: String, xs: Iterable[AnyRef]): Unit = {
        val out = Files.newBufferedWriter(work.resolve(name))
        try xs.foreach { x => out.write(mapper.writeValueAsString(x)); out.write('\n') }
        finally out.close()
      }
      lines("spans.jsonl", tracer.spans.asScala)
      lines("jobs.jsonl", tracer.jobs.asScala)
      lines("plans.jsonl", tracer.plans.asScala)
    }
    spark.stop()
  }
}

/** Process-wide meters: CPU of all threads (executors run in this JVM),
  * stop-the-world GC and JIT compilation time. */
final case class Meters(cpuMs: Double, gcMs: Long, jitMs: Long)

object Meters {
  def now(): Meters =
    Meters(graft.BenchMeters.cpuSec * 1000.0, graft.BenchMeters.gcMs, graft.BenchMeters.jitMs)

  /** Heap still in use after full collections. Spark's ContextCleaner
    * frees shuffle, broadcast and checkpoint state only after a GC has
    * found it unreachable, so collect until the figure settles. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0) }
    var (prev, cur, rounds) = (Double.MaxValue, used(), 1)
    while (prev - cur > 0.5 && rounds < 8) { prev = cur; cur = used(); rounds += 1 }
    cur
  }
}
