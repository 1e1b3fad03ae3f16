package graft.perfbench

import java.nio.file.Path
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.GraftCatalog
import graft.pipeline.{Curation, Dedup, Similarity, TextAnalysis}

/** curation_batch: repeated passes of a six-stage curation pipeline over
  * one seeded corpus, each stage's output persisted before the next
  * reads it, the curated set committed to a catalog table. One client
  * thread; a pass is the unit of work. */
final class CurationBatch(run: Run, docs: Int, warmDocs: Int) extends Workload {
  import run.{spark, tracer}

  val MinPasses = 2
  /** Consumers reading the committed set after each pass. */
  val Readers = 5
  val minhashThreshold = 0.8
  val semThreshold = 0.95
  val semCells = 64
  val budgetShare = 0.6
  val mixture: Seq[(String, Double)] = Seq("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)

  private val gen = new CorpusGen(run.profile, run.seed, docs)
  private var corpusPath: String = _
  private var corpusBytes = 0L
  private var root: Path = _
  private var cat: GraftCatalog = _
  private var passes = 0
  private val digests = scala.collection.mutable.ArrayBuffer.empty[String]
  /** Traced passes: the minhash stage's input and verified pairs, counted
    * after the pass so the recount stays out of its timing. */
  private var lshCounts: Option[(DataFrame, DataFrame)] = None

  def clients = 1
  def opUnit = "1k docs"
  def opsDone: Double =
    tracer.opList.count(o => o.phase == "timed" && o.kind == "pass" && o.ok) * docs / 1000.0

  def inputs(): Unit = {
    corpusPath = Inputs.materialize(run.inputs, s"corpus-$docs", gen.frame(spark, run.cpus))
    // logical bytes of the corpus: text, the fixed-width columns, the vector
    corpusBytes = spark.read.parquet(corpusPath)
      .selectExpr("sum(length(text) + length(lang) + length(source) + 8 + 4 + 4 * size(embedding))")
      .head().getLong(0)
  }

  def setup(rep: Int): Unit = {
    if (root != null) Run.deleteTree(root)
    root = run.freshDir(s"cur-$rep")
    cat = new GraftCatalog(spark, root.resolve("warehouse").toString)
    passes = 0
    digests.clear()
    // warm-up: the whole pipeline over the corpus head
    pass(spark.read.parquet(corpusPath).filter(col("doc_id") < warmDocs), "warm", timed = false)
  }

  /** Persist a stage the way a production pipeline does, then read it back. */
  private def persist(df: DataFrame, dir: Path, stage: String): DataFrame = {
    val out = dir.resolve(stage).toString
    df.write.parquet(out)
    spark.read.parquet(out)
  }

  private def pass(corpus: DataFrame, tag: String, timed: Boolean): Unit = {
    val dir = run.freshDir(s"cur-pass-$tag")
    val table = s"curated_$tag"
    val body = () => {
      val docsIn = corpus.withColumn("quality", TextAnalysis.qualityScore(col("text")))
      val gated = tracer.span("pipeline", "quality") {
        val keep = Curation.gopherRules(docsIn, "doc_id", "text", minWords = 30)
          .filter(col("keep")).select("doc_id")
        persist(docsIn.join(keep, "doc_id"), dir, "quality")
      }
      val exact = tracer.span("pipeline", "exact_dedup") {
        persist(Dedup.exactDedup(gated, "text", "doc_id"), dir, "exact")
      }
      val nearKept = tracer.span("pipeline", "minhash") {
        val pairs = Dedup.minhashNearDups(exact, "doc_id", "text", threshold = minhashThreshold)
          .localCheckpoint()
        if (tracer.tracing) lshCounts = Some((exact, pairs))
        // one keeper per near-dup cluster (singletons keep themselves)
        val keepers = Dedup.bestQualityKeepers(pairs, exact.select("doc_id", "quality"))
          .select("doc_id")
        persist(exact.join(keepers, "doc_id"), dir, "minhash")
      }
      val semKept = tracer.span("pipeline", "semdedup") {
        val pairs = Similarity.semDeDupPairsWithinCells(nearKept, semThreshold, nlist = semCells,
          seed = run.seed, idCol = "doc_id", vecCol = "embedding")
        val clusters = Dedup.clusterNearDups(pairs, nearKept.select("doc_id"))
          .filter(col("id") === col("cluster")).select(col("id").as("doc_id"))
        persist(nearKept.join(clusters, "doc_id"), dir, "semdedup")
      }
      val sampled = tracer.span("pipeline", "sample") {
        val tokens = semKept.agg(sum("n_words")).head().getLong(0)
        persist(Curation.mixtureSample(semKept, "lang", "doc_id", "n_words", mixture,
          math.max(1L, (tokens * budgetShare).toLong)).drop("cum_tokens", "stratum_budget"),
          dir, "sample")
      }
      tracer.span("catalog", "createTable") { cat.createTable("cur", table) }
      measured(timed, "commit_ms") {
        tracer.span("catalog", "commitAppend") { cat.commitAppend("cur", table, sampled) }
      }
      tracer.probe(tracer.span("catalog", "latest") { cat.latest("cur", table) })
    }
    if (!timed) body()
    else {
      tracer.op("pass")(body()).getOrElse(throw new IllegalStateException("pass failed"))
      tracer.probe(lshCounts.foreach { case (in, verified) =>
        // the same banding minhashNearDups runs with its defaults
        val candidates = Dedup.lshCandidatePairs(Dedup.lshBands(
          Dedup.minhashSignatures(in, "doc_id", "text", 16, 3), "doc_id", "sig", 4, 4), "doc_id")
        run.add("pipeline.lsh_candidate_pairs", candidates.count().toDouble)
        run.add("pipeline.lsh_verified_pairs", verified.count().toDouble)
      })
      lshCounts = None
      // the consumers' reads of the committed set's ids (the first one's
      // go into the digest), and any text that still occurs twice
      val ids = (1 to Readers).map { _ =>
        measured(timed, "read_ms") {
          tracer.span("catalog", "read") {
            cat.read("cur", table).select("doc_id").collect().map(_.getLong(0)).sorted
          }
        }
      }.head
      val dupTexts = cat.read("cur", table).groupBy("text").count().filter(col("count") > 1).count()
      run.check(s"curation.no_exact_duplicates.$tag", dupTexts == 0, s"$dupTexts texts occur twice")
      digests += MessageDigest.getInstance("SHA-256").digest(ids.mkString(",").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      run.set("pipeline.docs_kept_ratio", ids.length.toDouble / docs)
      val (stageBytes, _) = Run.diskUsage(dir)
      val (tableBytes, _) = Run.diskUsage(root.resolve("warehouse").resolve("cur").resolve(table))
      run.sample("pass_persisted_bytes", (stageBytes + tableBytes).toDouble)
    }
    Run.deleteTree(dir)
  }

  /** Time `body` into the samples named `name` (timed passes only). */
  private def measured[T](timed: Boolean, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    if (timed) run.sample(name, Workload.ms(System.nanoTime() - t0))
    out
  }

  def run(deadlineNs: Long): Unit = {
    // whole passes only: at least two (the set-ups' passes over the
    // corpus head have warmed every stage), then another only while it
    // is expected to end in time
    var last = 0L
    while (passes < MinPasses || System.nanoTime() + last < deadlineNs) {
      passes += 1
      val t0 = System.nanoTime()
      pass(spark.read.parquet(corpusPath), s"p$passes", timed = true)
      last = System.nanoTime() - t0
    }
  }

  def finish(): Unit = {
    run.check("curation.digest_stable", digests.distinct.size == 1,
      s"curated id sets differ across passes: ${digests.distinct.size} distinct digests")
    run.set("user_bytes", corpusBytes.toDouble)
    run.set("corpus_docs", docs.toDouble)
    val (meta, _) = Run.diskUsage(root, _.toString.contains("/_meta/"))
    run.set("catalog.meta_bytes", meta.toDouble)
    run.set("catalog.live_files",
      (1 to passes).flatMap(p => cat.latest("cur", s"curated_p$p").map(_.fileCount)).sum.toDouble)
    run.set("catalog.versions", 1.0)
    run.set("pipeline.passes", passes.toDouble)
  }
}
