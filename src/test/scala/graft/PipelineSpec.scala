package graft

import graft.pipeline.{Dedup, Similarity, TextAnalysis => TA}
import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

/** Dedup / similarity / text-analysis semantics on planted fixtures. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog near the river bank now"),   // near dup of 0
    (3L, "completely different content about spark query engines and columnar io"),
    (4L, "dog lazy the over jumps fox brown quick the bank river the near today")  // word-order shuffle of 0
  ).toDF("doc_id", "text")

  test("exactDedup keeps the lowest id per text") {
    val kept = Dedup.exactDedup(docs, "text", "doc_id").select("doc_id").as[Long].collect().sorted
    assert(kept === Array(0L, 2L, 3L, 4L))
  }

  test("exactGroups counts copies") {
    val copies = Dedup.exactGroups(docs, "text", "doc_id")
      .select("keeper", "copies").as[(Long, Long)].collect().toMap
    assert(copies(0L) === 2L)
  }

  test("topKPerGroup preserves string ids (no cast-to-null collapse)") {
    import graft.functions.TopKAggregator
    import org.apache.spark.sql.types.StringType
    val scored = Seq(
      ("q1", "doc-aaa", 0.9), ("q1", "doc-bbb", 0.7), ("q1", "doc-ccc", 0.8),
      ("q2", "urn:uuid:42", 0.5), ("q2", "doc-aaa", 0.6)
    ).toDF("query_id", "neighbor_id", "score")
    val top = TopKAggregator.topKPerGroup(scored, 2, StringType)
      .select("query_id", "neighbor_id", "rank").as[(String, String, Int)].collect().toSet
    assert(top === Set(
      ("q1", "doc-aaa", 1), ("q1", "doc-ccc", 2),
      ("q2", "doc-aaa", 1), ("q2", "urn:uuid:42", 2)))
  }

  test("topKPerGroup ranks NaN deterministically (total order, arrival-independent)") {
    import graft.functions.TopKAggregator
    import org.apache.spark.sql.types.LongType
    val rows = Seq(
      ("q", 1L, 0.9), ("q", 2L, Double.NaN), ("q", 3L, 0.8), ("q", 4L, Double.NaN))
    def run(input: Seq[(String, Long, Double)]) =
      TopKAggregator.topKPerGroup(input.toDF("query_id", "neighbor_id", "score")
          .repartition(4), 3, LongType)
        .select("neighbor_id", "rank").as[(Long, Int)].collect().sortBy(_._2).toSeq
    val fwd = run(rows)
    val rev = run(rows.reverse)
    assert(fwd === rev, "ranking must not depend on arrival/merge order")
    // NaN compares largest under the total order (Spark's own sort semantics)
    assert(fwd === Seq((2L, 1), (4L, 2), (1L, 3)))
  }

  test("denseRankBy equals a global dense_rank, for any input partitioning and tie shape") {
    import graft.operators.DistributedRank
    import org.apache.spark.sql.expressions.Window
    val vals = Seq("m", "a", "z", "a", "k", "m", "m", "b", "", "z")
    for (parts <- Seq(1, 3, 16)) {
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v").repartition(parts)
      val got = DistributedRank.denseRankBy(df, Seq(col("v")), "r", partitions = 4)
        .select("id", "r").as[(Long, Long)].collect().toMap
      val exp = vals.zipWithIndex.map { case (v, i) =>
        i.toLong -> (vals.distinct.sorted.indexOf(v) + 1).toLong }.toMap
      assert(got === exp, s"parts=$parts")
    }
    // NOTE on the plan shape: denseRankBy materializes its ranked table
    // (localCheckpoint — required so the offsets aggregate and the rank
    // join see ONE range-partition assignment), which hides the window
    // subtree from the returned DataFrame's plan string. The per-
    // partition structure (Window.partitionBy(__pid), never a global
    // window) is asserted by construction in DistributedRank and by the
    // partitioning-invariance equality above — a global window would
    // also make the 3-partition and 16-partition runs trivially agree,
    // but could not survive the dedup_suffix_ranks oracle at corpus
    // scale (28k ranks, where the round-tripped offsets must be exact).
  }

  test("suffixRanks: prefix-doubling ranks equal brute-force k-prefix ranks (banana et al.)") {
    val docs = Seq((1L, "banana"), (2L, "bandana"), (3L, "a")).toDF("doc_id", "text")
    val got = Dedup.suffixRanks(docs, "doc_id", "text", k = 4)
      .select("doc_id", "pos", "rank").as[(Long, Int, Long)].collect()
      .map { case (d, p, r) => (d, p) -> r }.toMap
    // brute force: rank every suffix by its first-4-chars prefix
    val all = Seq((1L, "banana"), (2L, "bandana"), (3L, "a")).flatMap { case (d, t) =>
      (1 to t.length).map(p => (d, p, t.substring(p - 1).take(4)))
    }
    val order = all.map(_._3).distinct.sorted
    val exp = all.map { case (d, p, pre) => (d, p) -> (order.indexOf(pre) + 1).toLong }.toMap
    assert(got === exp)
  }

  test("editDistance1Pairs equals the brute-force levenshtein join (blocking is complete)") {
    // substitution, deletion, insertion, equal-after-1, and far-apart cases
    val names = Seq(
      (1L, "alpha"), (2L, "alphb"),       // substitution at tail
      (3L, "alph"),                       // deletion of 'a'
      (4L, "alphaa"),                     // insertion
      (5L, "beta"), (6L, "betta"),        // insertion mid-string
      (7L, "gamma"), (8L, ""), (9L, "g")  // empty + single-char edges
    ).toDF("id", "name")
    val got = Dedup.editDistance1Pairs(names, "id", "name")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val a = names.select(col("id").as("ia"), col("name").as("na"))
    val b = names.select(col("id").as("ib"), col("name").as("nb"))
    val brute = a.crossJoin(b).filter(col("ia") < col("ib"))
      .filter(levenshtein(col("na"), col("nb")) <= 1)
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    assert(got === brute)
    assert(got.contains((1L, 2L)) && got.contains((1L, 3L)) &&
           got.contains((1L, 4L)) && got.contains((5L, 6L)) && got.contains((8L, 9L)))
    assert(!got.exists(p => p._1 == 7L || p._2 == 7L)) // gamma is isolated
  }

  test("kCenterSelect normalizes int ids / double vectors and rejects " +
       "non-integral ids loudly (regression: hardcoded long/float casts)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", IntegerType),
      StructField("embedding", ArrayType(DoubleType))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(0, Seq(1.0, 0.0)), Row(1, Seq(0.0, 1.0)), Row(2, Seq(0.7, 0.7)))),
      schema)
    val picks = Similarity.kCenterSelect(df, k = 2)
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(picks.map(_._2).toSeq === Seq(0L, 1L), "seed id 0, farthest is orthogonal id 1")

    val bad = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("a", Seq(1.0)))),
      StructType(Seq(StructField("vec_id", StringType),
        StructField("embedding", ArrayType(DoubleType)))))
    val e = intercept[IllegalArgumentException] { Similarity.kCenterSelect(bad, k = 1) }
    assert(e.getMessage.contains("integral id"))
  }

  test("kCenterSelect: radii non-increasing, coverage certified, farthest-first on a planted line") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // colinear unit-ish vectors at angles 0°,10°,...,90°: farthest-first
    // from id 0 must pick the 90° point first, then the middle
    val vecs = (0 to 9).map { i =>
      val a = math.toRadians(i * 10.0)
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vecs.map(v => Row(v._1, v._2.toSeq))), schema)
    val picks = Similarity.kCenterSelect(df, k = 3)
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(picks.map(_._2).take(2) === Array(0L, 9L), "seed then the 90-degree point")
    // radii are non-increasing: each pick covers the worst remaining gap
    assert(picks(1)._3 >= picks(2)._3)
    // coverage law: every point is within the LAST pick's pre-pick
    // radius of some selected center
    val centers = picks.map(_._2).toSet
    val worst = vecs.map { case (_, v) =>
      centers.map { c =>
        val cv = vecs(c.toInt)._2
        val dot = v.zip(cv).map { case (a, b) => a.toDouble * b }.sum
        val n = math.sqrt(v.map(x => x.toDouble * x).sum) *
          math.sqrt(cv.map(x => x.toDouble * x).sum)
        1.0 - dot / n
      }.min
    }.max
    assert(worst <= picks(2)._3 + 1e-6,
      s"coverage radius violated: worst=$worst cert=${picks(2)._3}")
  }

  test("recallAtK: exact fraction per query; IVF recall contract holds on the corpus") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L),
                    (2L, 20L), (2L, 21L)).toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L), (1L, 98L),
                     (2L, 20L), (2L, 21L)).toDF("query_id", "neighbor_id")
    val r = Similarity.recallAtK(approx, exact)
      .as[(Long, Double)].collect().toMap
    assert(r === Map(1L -> 0.5, 2L -> 1.0)) // extras in approx never help
    val violations = SparkEntry.queries("ann_recall_contract")(spark, sf())
    assert(violations.count() === 0L, "pruned IVF fell below the recall floor")
  }

  test("exactSubstringPairs finds anchor-gram overlaps; maxDf drops boilerplate grams") {
    // docs 0/1 identical (9 distinct 6-grams each), doc 2 differs only in
    // the last token (shares the 8 grams not touching it), doc 4 is a
    // word-order shuffle of 0 — same unigrams, NO shared 6-gram
    val pairs = Dedup.exactSubstringPairs(docs, "doc_id", "text", n = 6)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs === Map((0L, 1L) -> 9L, (0L, 2L) -> 8L, (1L, 2L) -> 8L))
    // maxDf=2: the 8 grams common to docs 0/1/2 (df=3) are cut as
    // boilerplate; only doc 0/1's last gram (df=2) survives
    val rare = Dedup.exactSubstringPairs(docs, "doc_id", "text", n = 6, maxDf = 2)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(rare === Map((0L, 1L) -> 1L))
  }

  test("MinHash-LSH finds the planted near-duplicates and skips unrelated docs") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        numHashes = 16, shingleK = 2, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), "exact dup must collide in every band")
    assert(pairs.contains((0L, 2L)), "one-word-changed dup should pass 0.5 jaccard")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc must not pair")
  }

  test("MinHashSignature expression is bit-identical to the explode+min-aggregate form") {
    val docs500 = Tables.documents(spark, sf()).limit(120)
    val fused = Dedup.minhashSignatures(docs500, "doc_id", "text", 16, 2)
      .as[(Long, Seq[Long])].collect().toMap
    val ref = DedupReference.minhashSignaturesRef(docs500, "doc_id", "text", 16, 2)
      .as[(Long, Seq[Long])].collect().toMap
    assert(fused.keySet === ref.keySet)
    ref.foreach { case (id, sig) => assert(fused(id) === sig, s"doc $id") }
  }

  test("ShingleMinHash kernel equals the composable shingle forms (edge texts, every sf0.01 doc)") {
    import graft.functions.{MinHashFunctions, ShingleMinHash}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    val edge = Seq(null, "", " ", "a  b c", " a b c d ", "x  ",
      "one", "one two", "one two three",                       // < k and == k words
      "naïve café über straße", "中文 文本 去重 测试 数据", "😀 x 🎉", "tab\tsep line\nbreak  end")
    val edgeDocs = edge.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val corpus = Tables.documents(spark, sf("sf0.01")).select("doc_id", "text")
    for ((name, docs) <- Seq("edge" -> edgeDocs, "sf0.01" -> corpus); k <- Seq(2, 3); n <- Seq(16, 32)) {
      val ctx = s"$name k=$k n=$n"
      val got = docs.select(col("doc_id"), col("text"),
          MinHashFunctions.shingleSignatureAndSet(col("text"), k, n).as("mh"),
          MinHashFunctions.shingleSet(col("text"), k).as("set"),
          DedupReference.shingleSetRef(col("text"), k).as("set_ref"),
          // the SQL function over the string shingles shares the kernel's min-hash loop
          MinHashFunctions.minhashSignature(DedupReference.shingles(col("text"), k), n).as("sql_sig"))
        .select(col("doc_id"), col("text"), col("mh.sig"), col("mh.shingle_set"),
          col("set"), col("set_ref"), col("sql_sig"))
        .as[(Long, String, Seq[Long], Seq[Long], Seq[Long], Seq[Long], Seq[Long])].collect()
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", n, k)
        .as[(Long, Seq[Long])].collect().toMap
      val sigRef = DedupReference.minhashSignaturesRef(docs, "doc_id", "text", n, k)
        .as[(Long, Seq[Long])].collect().toMap
      assert(sigRef.size == got.length && sigs.size == got.length, ctx)
      got.foreach { case (id, text, mhSig, mhSet, set, setRef, sqlSig) =>
        val doc = s"$ctx doc $id '$text'"
        assert(mhSig === sigRef(id), doc)
        assert(sigs(id) === sigRef(id), doc)
        assert(sqlSig === sigRef(id), doc)
        assert(mhSet === setRef, doc)
        assert(set === setRef, doc)
        if (name == "edge") {
          // the interpreted path agrees with the generated code
          val row = ShingleMinHash(Literal.create(text, StringType), k, n, withSet = true)
            .eval().asInstanceOf[InternalRow]
          assert(row.getArray(0).toLongArray().toSeq === sigRef(id), doc)
          assert(row.getArray(1).toLongArray().toSeq === setRef, doc)
        }
      }
      if (name == "edge") {
        val sets = got.map(r => r._2 -> r._4).toMap
        assert(sets(null) === sets(""), "a null text is one empty shingle")
        assert(sets(null).size == 1, ctx)
      }
    }
  }

  test("SimHash: identical docs distance 0; near dup close; unrelated far") {
    val sh = Dedup.simhashTable(docs, "doc_id", "text")
      .select("doc_id", "sh").as[(Long, Long)].collect().toMap
    assert(sh(0L) === sh(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(2L)) <= 16, s"near dup hamming was ${ham(sh(0L), sh(2L))}")
    assert(ham(sh(0L), sh(3L)) > 16, s"unrelated hamming was ${ham(sh(0L), sh(3L))}")
  }

  test("pigeonhole SimHash banding equals the all-pairs hamming search (guaranteed recall)") {
    val corpus = Tables.documents(spark, sf()).limit(150)
    val banded = Dedup.simhashNearDupsExact(corpus, "doc_id", "text", maxDistance = 7, bands = 8)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val sh = Dedup.simhashTable(corpus, "doc_id", "text")
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= 7)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(banded === brute, "banding must lose no pair within distance < bands")
  }

  test("bag-of-words fingerprint catches word-order duplicates, md5 does not") {
    val fps = docs.select(col("doc_id"), TA.fingerprint(col("text")).as("fp"),
        TA.bowFingerprint(col("text")).as("bow"))
      .as[(Long, String, String)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(fps(0L)._1 !== fps(4L)._1)
    assert(fps(0L)._2 === fps(4L)._2)
  }

  test("ngram jaccard: 1.0 for identical, high for near dup, low for unrelated") {
    val pairs = Seq((0, 1), (0, 2), (0, 3)).toDF("ia", "ib")
    val d = docs.select(col("doc_id"), col("text"))
    val out = pairs
      .join(d.select(col("doc_id").as("ia"), col("text").as("ta")), "ia")
      .join(d.select(col("doc_id").as("ib"), col("text").as("tb")), "ib")
      .select(col("ia"), col("ib"), Dedup.ngramJaccard(col("ta"), col("tb"), 3).as("j"))
      .as[(Int, Int, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(out((0, 1)) === 1.0)
    assert(out((0, 2)) > 0.7)
    assert(out((0, 3)) < 0.3)
  }

  test("codegen cosine matches the higher-order-function reference exactly") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 2.0f)),
      (1L, Array(0.0f, 3.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f, 4.0f)),
      (3L, Array(0.1f, 0.2f, 0.3f))
    ).toDF("vec_id", "embedding")
    val a = vecs.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = vecs.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val both = a.crossJoin(b).filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        VectorFunctions.cosineSim(col("va"), col("vb")).as("fast"),
        Similarity.cosineHof(col("va"), col("vb")).as("ref"))
      .as[(Long, Long, Double, Double)].collect()
    both.foreach { case (ia, ib, fast, ref) =>
      assert(fast === ref, s"pair ($ia,$ib)")
    }
    val ortho = both.find(t => t._1 == 0L && t._2 == 1L).get
    assert(ortho._3 === 0.0)
    val parallel = both.find(t => t._1 == 0L && t._2 == 2L).get
    assert(math.abs(parallel._3 - 1.0) < 1e-12)
  }

  test("brute-force top-k ranks by cosine with id tie-break") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.01f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 0.02f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toMap
    assert(top === Map(1L -> 1, 3L -> 2))
  }

  test("LSH ANN results are a subset of brute force (same bucket only)") {
    val vecs = Tables.embeddings(spark, sf()).limit(200)
    val q = vecs.filter(col("vec_id") < 3)
    val brute = Similarity.bruteForceTopK(vecs, q, 50)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(vecs, q, 5, planes = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(lsh.nonEmpty)
    assert(lsh.subsetOf(brute) || lsh.forall(p => brute.exists(_._1 == p._1)))
  }

  test("lshBucket derives dims from the vector: 32-dim vectors land in non-degenerate buckets") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 64L).map(i => (i, Array.fill(32)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val buckets = vecs.select(Similarity.lshBucket(col("embedding"), 8).as("b"))
      .as[Long].collect()
    assert(buckets.distinct.length > 1,
      "a hardcoded dims > vector length would null every plane and collapse all buckets")
    // deterministic: same input -> same bucket
    val again = vecs.select(Similarity.lshBucket(col("embedding"), 8).as("b")).as[Long].collect()
    assert(buckets.toSeq === again.toSeq)
  }

  test("codegen'd lsh_bucket is bit-identical to the HOF reference across widths and planes") {
    val rnd = new scala.util.Random(13)
    for (dims <- Seq(8, 32, 64); planes <- Seq(4, 8, 16)) {
      val vecs = (0L until 50L).map(i => (i, Array.fill(dims)(rnd.nextFloat() * 2 - 1)))
        .toDF("vec_id", "embedding")
      val pair = vecs.select(
          Similarity.lshBucket(col("embedding"), planes).as("fast"),
          Similarity.lshBucketHof(col("embedding"), planes).as("ref"))
        .as[(Long, Long)].collect()
      assert(pair.forall(p => p._1 == p._2),
        s"dims=$dims planes=$planes diverged: ${pair.find(p => p._1 != p._2)}")
    }
    // MIXED widths in one column, wide rows first: the coefficient cache
    // must rebuild on every width change, not reuse a wider row-major
    // layout for a narrower vector (regression: `length <` check)
    val mixed = (0L until 40L).map { i =>
      val dims = if (i % 2 == 0) 64 else 16
      (i, Array.fill(dims)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val mixedPair = mixed.select(
        Similarity.lshBucket(col("embedding"), 8).as("fast"),
        Similarity.lshBucketHof(col("embedding"), 8).as("ref"))
      .as[(Long, Long)].collect()
    assert(mixedPair.forall(p => p._1 == p._2),
      s"mixed-width column diverged: ${mixedPair.find(p => p._1 != p._2)}")
  }

  test("near-dup clustering: transitive pairs collapse to min-id components") {
    val ids = (0L to 7L).toDF("doc_id")
    // components: {0,1,2,3} via chain, {5,6}, singletons {4}, {7}
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val clusters = Dedup.clusterNearDups(pairs, ids)
      .as[(Long, Long)].collect().toMap
    assert(clusters === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
    // keep-one-per-cluster: representatives only
    val kept = clusters.filter { case (id, c) => id == c }.keySet
    assert(kept === Set(0L, 4L, 5L, 7L))
  }

  test("clustering converges on a chain component far longer than the round budget (pointer jumping)") {
    // a 60-node chain has diameter 59; one-hop propagation would need 59
    // rounds and silently split at maxIterations=10 — pointer jumping
    // squares the reach per round, so 10 rounds cover 2^10 hops.
    val ids = (0L to 59L).toDF("doc_id")
    val pairs = (0L to 58L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val clusters = Dedup.clusterNearDups(pairs, ids).as[(Long, Long)].collect().toMap
    assert(clusters.values.toSet === Set(0L), "whole chain must collapse to min id 0")
  }

  test("IVF ANN: high recall vs brute force at nprobe=half the cells") {
    val vecs = Tables.embeddings(spark, sf()).limit(300)
    val q = vecs.filter(col("vec_id") < 3)
    val brute = Similarity.bruteForceTopK(vecs, q, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(vecs, q, 5, nlist = 8, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf.size === 15, "5 ranked neighbors per query")
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.4, s"IVF recall too low: $recall")
  }

  test("spanDedupRewrite removes later copies of a span, within and across docs") {
    val fixture = Seq(
      (0L, "a b c d e f"),      // first owner of both spans
      (1L, "a b c x y z"),      // first span dup of doc 0's -> only "x y z" survives
      (2L, "a b c d e f"),      // full duplicate -> empty rewrite
      (3L, "d e f"),            // single span already owned by doc 0
      (4L, "p q"),              // short unique span survives whole
      (5L, "m n o m n o")       // within-doc duplicate span
    ).toDF("doc_id", "text")
    val r = Dedup.spanDedupRewrite(fixture, "doc_id", "text", window = 3)
      .select("doc_id", "clean_text", "n_spans", "n_kept")
      .as[(Long, String, Int, Long)].collect().map(t => t._1 -> t).toMap
    assert(r(0L) === ((0L, "a b c d e f", 2, 2L)))
    assert(r(1L) === ((1L, "x y z", 2, 1L)))
    assert(r(2L) === ((2L, "", 2, 0L)))
    assert(r(3L) === ((3L, "", 1, 0L)))
    assert(r(4L) === ((4L, "p q", 1, 1L)))
    assert(r(5L) === ((5L, "m n o", 2, 1L)))
  }

  test("knnClassify: majority label wins; vote ties break to the smaller label") {
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f), 0), (11L, Array(0.98f, 0.05f), 0), (12L, Array(0.95f, 0.1f), 0),
      (13L, Array(0.0f, 1.0f), 1), (14L, Array(0.05f, 0.98f), 1),
      (20L, Array(1.0f, 0.0f), 5), (21L, Array(0.0f, 1.0f), 3)
    ).toDF("vec_id", "embedding", "label")
    val majority = Similarity.knnClassify(
        corpus.filter(col("vec_id") < 20), Seq((1L, Array(0.9f, 0.2f))).toDF("vec_id", "embedding"), 3)
      .as[(Long, Int, Long)].collect()
    assert(majority === Array((1L, 0, 3L)), "all 3 nearest carry label 0")
    // equidistant two-class vote: 1-1 tie resolves to the smaller label
    val tie = Similarity.knnClassify(
        corpus.filter(col("vec_id") >= 20), Seq((2L, Array(0.7071f, 0.7071f))).toDF("vec_id", "embedding"), 2)
      .as[(Long, Int, Long)].collect()
    assert(tie === Array((2L, 3, 1L)))
  }

  test("kmeansAssign groups planted clusters around their centers, deterministically") {
    val emb = Seq(
      (0L, Array(10.0f, 0.2f)), (2L, Array(10.2f, 0.0f)), (3L, Array(9.8f, 0.1f)),
      (1L, Array(0.1f, 10.0f)), (4L, Array(0.0f, 9.9f)), (5L, Array(0.2f, 10.1f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.kmeansAssign(emb, k = 2, iters = 2)
      .select("vec_id", "cluster", "dist").as[(Long, Int, Double)].collect()
      .map(t => t._1 -> t).toMap
    val a = Seq(0L, 2L, 3L).map(r(_)._2)
    val b = Seq(1L, 4L, 5L).map(r(_)._2)
    assert(a.distinct.size === 1 && b.distinct.size === 1 && a.head != b.head,
      s"planted clusters must separate: $r")
    assert(r.values.forall(_._3 < 1.0), s"every point sits near its own centroid: $r")
    val r2 = Similarity.kmeansAssign(emb, k = 2, iters = 2)
      .select("vec_id", "cluster", "dist").as[(Long, Int, Double)].collect()
      .map(t => t._1 -> t).toMap
    assert(r === r2, "fixed-iteration k-means must be deterministic")
  }

  test("ball-cover near-dup pairs equal the exact all-pairs output") {
    // completeness is a triangle-inequality theorem, but assert it anyway:
    // same ids AND same rounded scores as the quadratic reference form
    val emb = Tables.embeddings(spark, sf())
    val exact = Similarity.nearDupPairs(emb, 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val cover = Similarity.nearDupPairsBallCover(emb, 0.4, nlist = 16)
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty, "fixture must contain qualifying pairs")
    assert(cover === exact)
  }

  test("SemDeDup within-cell pairs: subset of exact at any nlist, EQUAL at " +
       "nlist=1, and tight planted duplicates always co-assign") {
    val emb = Tables.embeddings(spark, sf())
    val exact = Similarity.nearDupPairs(emb, 0.4)
      .as[(Long, Long, Double)].collect().toSet
    // nlist=1: one cell = all pairs — the within-cell form must coincide
    val single = Similarity.semDeDupPairsWithinCells(emb, 0.4, nlist = 1)
      .as[(Long, Long, Double)].collect().toSet
    assert(single === exact)
    // general nlist: every emitted pair is a true pair (no false
    // positives — cosine is computed on raw vectors either way); the
    // paper's recall loss is only ever cross-cell OMISSION
    val cells = Similarity.semDeDupPairsWithinCells(emb, 0.4, nlist = 8)
      .as[(Long, Long, Double)].collect().toSet
    assert(cells.subsetOf(exact))
    // near-identical vectors co-assign: a planted jittered duplicate
    // pair must survive any cell boundary (this is the regime SemDeDup
    // runs at — duplicates are tight, thresholds high)
    val rnd = new scala.util.Random(11)
    def unit(dims: Int): Array[Float] = {
      val v = Array.fill(dims)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val base = (0 until 40).map(_ => unit(32))
    val planted = base.zipWithIndex.flatMap { case (v, i) =>
      val twin = v.map(x => (x * 1.0001f))
      Seq((i * 2L) -> v, (i * 2L + 1L) -> twin)
    }.toDF("vec_id", "embedding")
    val pairs = Similarity.semDeDupPairsWithinCells(planted, 0.99, nlist = 6)
      .as[(Long, Long, Double)].collect()
    val twins = pairs.filter(p => p._1 / 2 == p._2 / 2)
    assert(twins.length === 40, "every planted twin pair must be found in-cell")
  }

  test("semantic dedup: planted embedding clusters collapse to min-id keepers") {
    // an explicit 3-vector ARC so 0↔2 is connected ONLY through 1:
    // adjacent points sit 18° apart (cos 0.951 > 0.9) while the endpoints
    // sit 36° apart (cos 0.809 < 0.9) — a broken component stage that
    // only merges direct pairs would split {0,1,2} and fail here
    val rnd = new scala.util.Random(7)
    def unit(dims: Int): Array[Float] = {
      val v = Array.fill(dims)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    def jitter(v: Array[Float], eps: Float): Array[Float] =
      v.zip(unit(v.length)).map { case (x, e) => x + eps * e }
    val a = unit(32)
    val u0 = unit(32) // Gram-Schmidt: u ⟂ a, unit
    val proj = a.zip(u0).map { case (x, y) => x.toDouble * y }.sum
    val uRaw = u0.zip(a).map { case (y, x) => y - (proj * x).toFloat }
    val un = math.sqrt(uRaw.map(x => x.toDouble * x).sum).toFloat
    val u = uRaw.map(_ / un)
    def onArc(deg: Double): Array[Float] = {
      val c = math.cos(math.toRadians(deg)); val s = math.sin(math.toRadians(deg))
      a.zip(u).map { case (x, y) => (c * x + s * y).toFloat }
    }
    val b = unit(32)
    val emb = Seq(
      0L -> onArc(0), 1L -> onArc(18), 2L -> onArc(36),
      3L -> b, 4L -> jitter(b, 0.15f),
      5L -> unit(32)
    ).toDF("vec_id", "embedding")
    val keepers = Dedup.clusterNearDups(
        Similarity.nearDupPairsBallCover(emb, 0.9, nlist = 4, idCol = "vec_id")
          .select(col("id_a"), col("id_b")),
        emb.select(col("vec_id")), idCol = "vec_id")
      .filter(col("id") === col("cluster"))
      .select(col("id")).as[Long].collect().toSet
    // the arc collapses to min-id 0 only if 0-1 and 1-2 edges both exist
    // AND the closure runs; 3's jittered copy sits at cos ≈ 0.989 > 0.9;
    // independent random directions are near-orthogonal (cos ≈ 0 ± 0.2)
    assert(keepers === Set(0L, 3L, 5L))
  }

  test("IVF probing every cell (nprobe = nlist) is exactly brute force") {
    val emb = Tables.embeddings(spark, sf())
    val q = emb.filter(col("vec_id") < 3)
    val brute = Similarity.bruteForceTopK(emb, q, 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    val full = Similarity.ivfTopK(emb, q, 5, nlist = 8, nprobe = 8)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(full === brute)
  }

  test("PQ exact re-rank equals brute force — the ADC pool contains the true top-k") {
    val emb = Tables.embeddings(spark, sf())
    val q = emb.filter(col("vec_id") < 3)
    val brute = Similarity.bruteForceTopK(emb, q, 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    val refined = Similarity.pqTopKRefined(emb, q, 5, poolFactor = 16, m = 16, ksub = 128)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(refined === brute)
  }

  test("PQ ANN: asymmetric-distance top-k recalls brute-force neighbors; self-consistent ranks") {
    val vecs = Tables.embeddings(spark, sf()).limit(300)
    val q = vecs.filter(col("vec_id") < 3)
    val brute = Similarity.bruteForceTopK(vecs, q, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(vecs, q, 10, m = 8, ksub = 16)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
    assert(pq.length === 30, "10 ranked neighbors per query")
    assert(pq.groupBy(_._1).values.forall(_.map(_._3).sorted.toSeq == (1 to 10)),
      "dense ranks per query")
    val recall = pq.map(p => (p._1, p._2)).toSet.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.2, s"PQ recall collapsed: $recall")
  }

  test("IVF-PQ: cell-pruned ADC scoring still recalls brute-force neighbors") {
    val vecs = Tables.embeddings(spark, sf()).limit(300)
    val q = vecs.filter(col("vec_id") < 3)
    val brute = Similarity.bruteForceTopK(vecs, q, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfpq = Similarity.ivfPqTopK(vecs, q, 10, nlist = 8, nprobe = 4, m = 8, ksub = 16)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
    assert(ivfpq.groupBy(_._1).size === 3, "every query answered")
    assert(ivfpq.groupBy(_._1).values.forall(v => v.map(_._3).sorted.toSeq == (1 to v.size)),
      "dense ranks per query")
    val recall = ivfpq.map(p => (p._1, p._2)).toSet.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.15, s"IVF-PQ recall collapsed: $recall")
  }

  test("expression edge guards: dim mismatch -> null, empty shingles -> null, null scores tolerated") {
    import graft.functions.{MinHashFunctions, TopKAggregator, VectorFunctions}
    // cosine/dot return NULL on dimension mismatch (the HOF reference's
    // zip_with null-padding), never a truncated similarity
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f), Seq(1.0f, 0.0f, 3.0f))
    ).toDF("id", "a", "b")
    val sims = vecs.select(col("id"),
        VectorFunctions.cosineSim(col("a"), col("b")).as("cos"),
        VectorFunctions.dotProduct(col("a"), col("b")).as("dot"))
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(sims(1L)._1.contains(1.0) && sims(1L)._2.contains(1.0))
    assert(sims(2L) === ((None, None)), "mismatched dims must be null")

    // empty shingle set -> null signature (aggregate form emits no row;
    // an all-MaxValue signature would LSH-collide every empty doc)
    val sig = Seq(Tuple1(Seq.empty[String]), Tuple1(Seq("a b c")))
      .toDF("sh")
      .select(MinHashFunctions.minhashSignature(col("sh"), 8).as("sig"))
      .collect().map(r => Option(r.get(0)))
    assert(sig(0).isEmpty && sig(1).nonEmpty)

    // a null score row must be DROPPED by top-k, not abort the aggregator
    val scored = Seq((1L, 10L, Some(0.9)), (1L, 11L, None), (1L, 12L, Some(0.5)))
      .toDF("query_id", "neighbor_id", "score")
    val top = TopKAggregator.topKPerGroup(scored, 2, org.apache.spark.sql.types.LongType)
      .select("neighbor_id").as[Long].collect().toSet
    assert(top === Set(10L, 12L))
  }

  test("PQ paths accept string ids end to end") {
    val corpus = (1 to 40).map(i =>
      (s"doc-$i", Seq.tabulate(8)(d => math.sin(i * (d + 1)).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = corpus.limit(2)
    val out = Similarity.pqTopK(corpus, queries, k = 3, m = 4, ksub = 8)
      .select("query_id", "neighbor_id").collect()
    assert(out.length === 6)
    assert(out.forall(_.getString(0).startsWith("doc-")))
  }

  test("zero vectors normalize to zero (not NaN) and never outrank real neighbors") {
    val corpus = (1 to 30).map(i =>
        (i.toLong, Seq.tabulate(8)(d => math.cos(i * (d + 1)).toFloat)))
      .toDF("vec_id", "embedding")
      .union(Seq((99L, Seq.fill(8)(0.0f))).toDF("vec_id", "embedding"))
    val queries = corpus.filter(col("vec_id") === 1L)
    val top = Similarity.pqTopK(corpus, queries, k = 5, m = 4, ksub = 8)
      .select("neighbor_id").as[Long].collect()
    assert(!top.contains(99L), "an all-zero vector must not surface as a neighbor")
  }

  test("LocalKMeans reseeds empty clusters to DISTINCT points") {
    import graft.pipeline.LocalKMeans
    // 3 distinct points, k=8: five clusters are empty every iteration
    val pts = Array(Array(0.0, 0.0), Array(1.0, 0.0), Array(0.0, 1.0))
    val centers = LocalKMeans.fit(Array.tabulate(12)(i => pts(i % 3)), k = 8,
      maxIter = 5, seed = 1L)
    // no two centroids may coincide with each other AND a third: the
    // distinct points must all be represented
    assert(centers.map(_.toSeq).distinct.size >= 3,
      "duplicate reseeds collapsed the centroid set")
  }

  test("regex token count splits punctuation like a coarse BPE pre-tokenizer") {
    val df = Seq((1L, "hello, world! it's 42")).toDF("id", "text")
      .select(TA.regexTokenCount(col("text")).as("n"))
    // hello | , | world | ! | it | 's | 42
    assert(df.as[Int].collect().head === 7)
  }

  test("quality score favors stopword-bearing prose over noise") {
    val df = Seq(
      (1L, "the cat sat on the mat and looked at the dog in the sun all day long"),
      (2L, "zzz qqq xxx")
    ).toDF("id", "text")
      .select(col("id"), TA.qualityScore(col("text")).as("q"))
      .as[(Long, Double)].collect().toMap
    assert(df(1L) > df(2L))
  }

  test("language-ID argmax picks the marker-dominant language") {
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "el gato la casa los perros"),
      (3L, "qqq zzz www")
    ).toDF("id", "text")
      .select(col("id"), TA.predictLang(col("text")).as("p"))
      .as[(Long, String)].collect().toMap
    assert(df === Map(1L -> "en", 2L -> "es", 3L -> "und"))
  }

  test("persisted IVF-PQ index serves the same results as the in-memory composition") {
    import graft.catalog.GraftCatalog
    val cat = new GraftCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-ann").toString)
    val emb = Tables.embeddings(spark, sf("sf0.01"))
    val queries = emb.filter(col("vec_id") < 5)

    Similarity.buildIvfPqIndexTables(cat, "ann", "ix", emb, nlist = 8, m = 8, ksub = 16)
    val served = Similarity.servePqTopK(cat, "ann", "ix", queries, k = 5, nprobe = 3)
      .select("query_id", "neighbor_id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val inMemory = Similarity.ivfPqTopK(emb, queries, 5, nlist = 8, nprobe = 3, m = 8, ksub = 16)
      .select("query_id", "neighbor_id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(served === inMemory)
    assert(served.nonEmpty)
    // the codes table is cell-clustered: a one-cell probe range reads
    // fewer files than the full span (manifest bounds doing their job)
    val all = cat.read("ann", "ix_codes").inputFiles.length
    val one = cat.readWhere("ann", "ix_codes", "cell", Some("0"), Some("0")).inputFiles.length
    assert(one < all || all == 1, s"expected pruning: $one of $all files")
  }

  test("incremental index append: a new batch is searchable without retraining; one O(batch) commit") {
    import graft.catalog.GraftCatalog
    val cat = new GraftCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-ann-inc").toString)
    val emb = Tables.embeddings(spark, sf("sf0.01"))
    val base = emb.filter(col("vec_id") < 400)
    val queries = emb.filter(col("vec_id") < 3)
    Similarity.buildIvfPqIndexTables(cat, "ann", "ix", base, nlist = 8, m = 8, ksub = 16)
    val before = Similarity.servePqTopK(cat, "ann", "ix", queries, k = 5, nprobe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(before.nonEmpty && before.forall(_._2 < 400))

    // batch = the held-out tail PLUS a planted near-copy of query 0
    val q0 = emb.filter(col("vec_id") === 0).select("embedding")
      .as[Array[Float]].head()
    val planted = Seq((9999L, q0.map(x => x * 2.0f))).toDF("vec_id", "embedding")
    Similarity.appendToIvfPqIndex(cat, "ann", "ix",
      emb.filter(col("vec_id") >= 400).select("vec_id", "embedding").union(planted),
      commitId = Some("batch-1"))
    // retried append with the same commitId must NOT double-insert
    intercept[graft.catalog.GraftCatalog.DuplicateCommitException] {
      Similarity.appendToIvfPqIndex(cat, "ann", "ix", planted, commitId = Some("batch-1"))
    }
    // a wrong-width batch must throw, not land an empty "successful" commit
    val err = intercept[IllegalArgumentException] {
      Similarity.appendToIvfPqIndex(cat, "ann", "ix",
        Seq((7777L, Array.fill(16)(0.5f))).toDF("vec_id", "embedding"))
    }
    assert(err.getMessage.contains("width"))

    val after = Similarity.servePqTopK(cat, "ann", "ix", queries, k = 5, nprobe = 8)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
    // the planted copy is colinear with query 0 (cosine 1 up to
    // quantization) — it must surface at rank 1 through the served path
    assert(after.filter(_._1 == 0L).minBy(_._3)._2 === 9999L,
      s"planted near-copy not rank 1: ${after.filter(_._1 == 0L).toSeq.sortBy(_._3)}")
    // freshness cost contract: exactly ONE new commit on the codes
    // table, centroids untouched (no retraining)
    assert(cat.snapshots("ann", "ix_codes").size === 2)
    assert(cat.snapshots("ann", "ix_centroids").size === 1)
    // cell clustering survives the append: a one-cell probe range still
    // reads fewer files than the full table
    val all = cat.read("ann", "ix_codes").inputFiles.length
    val one = cat.readWhere("ann", "ix_codes", "cell", Some("0"), Some("0")).inputFiles.length
    assert(one < all, s"expected pruning after append: $one of $all files")
  }

  test("changefeed-driven IVF-PQ refresh (round-13): the serving index " +
       "follows base-table commits like an MV — inserts become " +
       "searchable, deletes vanish, an UPDATE re-encodes its id exactly " +
       "once, the watermark rides the SAME snapshot, and a compaction " +
       "in the window stays on the O(delta) path") {
    import graft.catalog.GraftCatalog
    val cat = new GraftCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-ann-cdc").toString)
    val emb = Tables.embeddings(spark, sf("sf0.01"))
    cat.createTable("ann", "vecs")
    cat.commitAppend("ann", "vecs",
      emb.filter(col("vec_id") < 400).select("vec_id", "embedding"))
    Similarity.buildIvfPqIndexForTable(cat, "ann", "ix", "ann", "vecs",
      nlist = 8, m = 8, ksub = 16)
    assert(Similarity.refreshIvfPqIndex(cat, "ann", "ix") === "noop")

    val queries = emb.filter(col("vec_id") < 3)
    val before = Similarity.servePqTopK(cat, "ann", "ix", queries, k = 5,
        nprobe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(before.nonEmpty && before.forall(_._2 < 400))
    val victim = before.filter(_._1 == 1L).map(_._2)
      .find(_ >= 3L).get // a current result of query 1, not itself a query

    // churn: insert the held-out tail + a planted near-copy of query 0,
    // DELETE the victim, and COMPACT the base mid-window (the
    // maintenance boundary that used to force a full-corpus diff)
    val q0 = emb.filter(col("vec_id") === 0).select("embedding")
      .as[Array[Float]].head()
    cat.commitAppend("ann", "vecs",
      emb.filter(col("vec_id") >= 400).select("vec_id", "embedding")
        .union(Seq((9999L, q0.map(x => x * 2.0f))).toDF("vec_id", "embedding")))
    cat.compact("ann", "vecs", 512L * 1024 * 1024)
    cat.commitDelete("ann", "vecs", Seq(victim).toDF("vec_id"))
    assert(Similarity.refreshIvfPqIndex(cat, "ann", "ix") === "incremental")

    val after = Similarity.servePqTopK(cat, "ann", "ix", queries, k = 5,
        nprobe = 8)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
    assert(after.filter(_._1 == 0L).minBy(_._3)._2 === 9999L,
      "inserted near-copy must surface at rank 1 through the refreshed index")
    assert(!after.exists(_._2 == victim),
      s"deleted id $victim must vanish from serving")
    assert(cat.read("ann", "ix_codes").filter(col("neighbor_id") === victim)
      .count() === 0L, "the purge must reach the codes table itself")
    assert(cat.read("ann", "ix_codes").count() ===
      cat.read("ann", "vecs").count(), "index rows must track base rows")
    // freshness contract: ONE codes commit, centroids untouched, the
    // watermark advanced atomically with the batch
    assert(cat.snapshots("ann", "ix_codes").size === 2)
    assert(cat.snapshots("ann", "ix_centroids").size === 1)
    assert(cat.tableProperties("ann", "ix_codes")(Similarity.AnnBaseSeqProp)
      .toLong === cat.latest("ann", "vecs").get.seq)
    assert(Similarity.refreshIvfPqIndex(cat, "ann", "ix") === "noop")

    // an UPDATE (same id, new vector — near-copy of query 1) re-encodes
    // its id exactly once through the delete+insert halves
    val q1 = emb.filter(col("vec_id") === 1).select("embedding")
      .as[Array[Float]].head()
    cat.commitUpsert("ann", "vecs",
      Seq((500L, q1.map(x => x * 3.0f))).toDF("vec_id", "embedding"),
      keyCols = Seq("vec_id"))
    assert(Similarity.refreshIvfPqIndex(cat, "ann", "ix") === "incremental")
    assert(cat.read("ann", "ix_codes").filter(col("neighbor_id") === 500L)
      .count() === 1L, "an UPDATE must leave exactly one codes row")
    val upd = Similarity.servePqTopK(cat, "ann", "ix", queries, k = 5,
        nprobe = 8)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
    assert(upd.filter(_._1 == 1L).minBy(_._3)._2 === 500L,
      "the re-encoded vector must serve under its id at rank 1")
  }

  test("IVF-PQ drift monitor: in-distribution refresh batches keep the " +
       "quantization-error ratio ~1; an out-of-distribution batch raises " +
       "it sharply — the signal that schedules the periodic full rebuild") {
    import graft.catalog.GraftCatalog
    val cat = new GraftCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-ann-drift").toString)
    val dim = 8
    // three tight clusters on axes 0/1/2 with deterministic jitter
    def cluster(axis: Int, n: Int, base: Long) = (0 until n).map { i =>
      (base + i, Array.tabulate(dim)(j =>
        (if (j == axis) 1.0f else 0.0f) + ((i * 7 + j) % 5) * 0.01f))
    }
    cat.createTable("ann", "dv")
    cat.commitAppend("ann", "dv",
      (cluster(0, 200, 0) ++ cluster(1, 200, 1000) ++ cluster(2, 200, 2000))
        .toDF("vec_id", "embedding"))
    Similarity.buildIvfPqIndexForTable(cat, "ann", "dx", "ann", "dv",
      nlist = 8, m = 4, ksub = 16)
    assert(Similarity.ivfPqDrift(cat, "ann", "dx").isEmpty,
      "no batch recorded yet — drift undefined")

    // in-distribution batch: ratio stays near 1
    cat.commitAppend("ann", "dv", cluster(0, 50, 5000).toDF("vec_id", "embedding"))
    assert(Similarity.refreshIvfPqIndex(cat, "ann", "dx") === "incremental")
    val d1 = Similarity.ivfPqDrift(cat, "ann", "dx").get
    assert(d1 > 0.05 && d1 < 3.0, s"in-distribution drift should be ~1, got $d1")

    // out-of-distribution batch (a cluster the quantizer never saw,
    // orthogonal to every centroid): the ratio must jump
    cat.commitAppend("ann", "dv", cluster(5, 50, 6000).toDF("vec_id", "embedding"))
    assert(Similarity.refreshIvfPqIndex(cat, "ann", "dx") === "incremental")
    val d2 = Similarity.ivfPqDrift(cat, "ann", "dx").get
    assert(d2 > math.max(1.5, d1 * 2),
      s"out-of-distribution drift must spike: baseline-relative $d2 vs $d1")

    // the rebuild the spike schedules must RESET the signal: a stale
    // last-batch error over the NEW baseline would read as still-high
    // drift and schedule another useless rebuild
    Similarity.buildIvfPqIndexForTable(cat, "ann", "dx", "ann", "dv",
      nlist = 8, m = 4, ksub = 16)
    assert(Similarity.ivfPqDrift(cat, "ann", "dx").isEmpty,
      "a rebuild must clear the old quantizer's last-batch error")
  }

  test("maintainIvfPqIndex closes the drift loop (round-14): stable " +
       "batches refresh incrementally with NO rebuild storm; sustained " +
       "out-of-distribution churn fires ONE re-train with the original " +
       "build parameters, the signal resets, and the shifted data serves " +
       "correctly afterwards") {
    import graft.catalog.GraftCatalog
    val cat = new GraftCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-ann-maint").toString)
    val dim = 8
    def cluster(axis: Int, n: Int, base: Long) = (0 until n).map { i =>
      (base + i, Array.tabulate(dim)(j =>
        (if (j == axis) 1.0f else 0.0f) + ((i * 7 + j) % 5) * 0.01f))
    }
    cat.createTable("ann", "mv")
    cat.commitAppend("ann", "mv",
      (cluster(0, 200, 0) ++ cluster(1, 200, 1000) ++ cluster(2, 200, 2000))
        .toDF("vec_id", "embedding"))
    Similarity.buildIvfPqIndexForTable(cat, "ann", "mx", "ann", "mv",
      nlist = 8, m = 4, ksub = 16)
    // recorded build configuration is what the auto-rebuild re-trains with
    val props0 = cat.tableProperties("ann", "mx_codes")
    assert(props0(Similarity.AnnParamsProp) === "8 4 16 42")
    assert(props0(Similarity.AnnColsProp) === "vec_id embedding")

    assert(Similarity.maintainIvfPqIndex(cat, "ann", "mx") === "noop")
    // two stable in-distribution batches: incremental both times, no
    // rebuild storm
    cat.commitAppend("ann", "mv", cluster(0, 50, 5000).toDF("vec_id", "embedding"))
    assert(Similarity.maintainIvfPqIndex(cat, "ann", "mx") === "incremental")
    cat.commitAppend("ann", "mv", cluster(1, 50, 5500).toDF("vec_id", "embedding"))
    assert(Similarity.maintainIvfPqIndex(cat, "ann", "mx") === "incremental")

    // sustained shift: a cluster the quantizer never saw -> ONE rebuild
    cat.commitAppend("ann", "mv", cluster(5, 80, 6000).toDF("vec_id", "embedding"))
    assert(Similarity.maintainIvfPqIndex(cat, "ann", "mx") === "rebuild")
    // the rebuild pinned the new head as the watermark and RESET the
    // signal (no stale cross-quantizer ratio scheduling another rebuild)
    val props1 = cat.tableProperties("ann", "mx_codes")
    assert(props1(Similarity.AnnBaseSeqProp).toLong ===
      cat.latest("ann", "mv").get.seq)
    assert(Similarity.ivfPqDrift(cat, "ann", "mx").isEmpty)
    assert(Similarity.maintainIvfPqIndex(cat, "ann", "mx") === "noop")

    // the re-trained quantizers SERVE the shifted cluster: an axis-5
    // query's neighbors are axis-5 vectors
    val q = Seq((99999L, Array.tabulate(dim)(j =>
      if (j == 5) 1.0f else 0.0f).toSeq)).toDF("vec_id", "embedding")
    val top = Similarity.servePqTopK(cat, "ann", "mx", q, k = 5, nprobe = 2)
      .select("neighbor_id").as[Long].collect()
    assert(top.nonEmpty && top.forall(id => id >= 6000L && id < 6080L),
      s"axis-5 neighbors expected, got ${top.mkString(", ")}")

    // post-rebuild stability: a batch matching the corpus MIXTURE (the
    // drift ratio compares batch error against the corpus-average
    // baseline, so in-distribution means the mixture, not one minority
    // mode) refreshes incrementally — the loop converged, no storm
    cat.commitAppend("ann", "mv",
      (cluster(0, 20, 7000) ++ cluster(1, 20, 7100) ++ cluster(5, 20, 7200))
        .toDF("vec_id", "embedding"))
    assert(Similarity.maintainIvfPqIndex(cat, "ann", "mx") === "incremental")

    // refuse-loud (review regression): an index WITHOUT recorded build
    // parameters (pre-round-14) must never silently rebuild with
    // guessed defaults when drift fires — wrong nlist/m/ksub would
    // permanently degrade recall behind a success-shaped return
    cat.commitProperties("ann", "mx_codes", Map.empty,
      unset = Seq(Similarity.AnnParamsProp)): Unit
    cat.commitAppend("ann", "mv", cluster(6, 60, 8000)
      .toDF("vec_id", "embedding"))
    val e = intercept[IllegalStateException](
      Similarity.maintainIvfPqIndex(cat, "ann", "mx"))
    assert(e.getMessage.contains(Similarity.AnnParamsProp), e.getMessage)
  }

  test("semDeDupIncremental (round-14): the admission gate — batch " +
       "vectors with a within-cell near-dup in the ADMITTED corpus pair " +
       "by exact cosine (a planted near-copy is caught at ~1.0), every " +
       "emitted pair is in the exact all-pairs set at the threshold, " +
       "and a width-mismatched batch refuses loudly") {
    import graft.catalog.GraftCatalog
    val cat = new GraftCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-semincr").toString)
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .filter(col("vec_id") < 600)
    val corpus = emb.filter(col("vec_id") % 4 =!= 0)
    cat.createTable("si", "vecs")
    cat.commitAppend("si", "vecs", corpus.select("vec_id", "embedding"))
    Similarity.buildIvfPqIndexForTable(cat, "si", "six", "si", "vecs",
      nlist = 8)
    val v1 = corpus.filter(col("vec_id") === 1).select("embedding")
      .as[Array[Float]].head()
    val batch = emb.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id"), col("embedding"))
      .unionAll(Seq((9999L, v1.map(_ * 1.01f).toSeq))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")))
    val got = Similarity.semDeDupIncremental(cat, "si", "six", batch, 0.4)
      .as[(Long, Long, Double)].collect()
    // the planted near-copy pairs with its source at cosine ~1
    assert(got.exists(p => p._1 == 9999L && p._2 == 1L && p._3 > 0.99),
      s"planted near-dup must be caught, got ${got.take(5).mkString(", ")}")
    // SOUNDNESS: every emitted pair really is a near-dup by exact cosine
    got.foreach { case (in, ex, c) =>
      val vi = batch.filter(col("vec_id") === in).select("embedding")
        .as[Array[Float]].head()
      val ve = corpus.filter(col("vec_id") === ex).select("embedding")
        .as[Array[Float]].head()
      def n(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
      val cos = vi.zip(ve).map { case (a, b) => a.toDouble * b }.sum /
        (n(vi) * n(ve))
      assert(math.abs(cos - c) < 1e-3 && c >= 0.4,
        s"pair ($in,$ex) cosine $c vs exact $cos")
    }
    // a width-mismatched batch must refuse, never silently admit
    val e = intercept[IllegalArgumentException](
      Similarity.semDeDupIncremental(cat, "si", "six",
        Seq((5L, Seq.fill(4)(0.1f))).toDF("vec_id", "embedding"), 0.4)
        .count())
    assert(e.getMessage.contains("width"), e.getMessage)
  }

  test("quantizer expressions: interpreted eval bit-matches the codegen'd path") {
    import graft.functions.PqFunctions
    import org.apache.spark.sql.functions.typedLit
    val r = new scala.util.Random(5)
    val centroids = Array.fill(4)(Array.fill(8)(r.nextDouble()))
    val codebooks = Array.fill(2)(Array.fill(4)(Array.fill(4)(r.nextDouble())))
    val vecs = (1 to 50).map(i => (i.toLong, Seq.fill(8)(r.nextDouble())))
      .toDF("id", "v").withColumn("vd", col("v").cast("array<double>"))

    def run(codegen: Boolean): Array[(Int, Seq[Int], Double, Long)] = {
      spark.conf.set("spark.sql.codegen.factoryMode", if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
      try {
        vecs.select(
            PqFunctions.nearestCentroid(col("vd"), centroids).as("cell"),
            PqFunctions.pqEncode(col("vd"), codebooks).as("codes"))
          .withColumn("score", PqFunctions.adcScore(col("codes"),
            typedLit(Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)), 2, 4))
          .withColumn("z", PqFunctions.zorder2(col("cell"), col("cell") + 1))
          .as[(Int, Seq[Int], Double, Long)].collect()
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(run(codegen = true) === run(codegen = false))
  }

  test("ImageIoDecoder decodes real PNG bytes bit-exactly and real JPEG dimensions") {
    import graft.pipeline.Multimodal
    implicit val s = spark
    // PNG round trip: planted samples recovered exactly (lossless)
    val docs = Seq(2L, 3L, 10L, 11L).toDF("doc_id")
    val decoded = Multimodal.decodeImageFeatures(
        Multimodal.syntheticPngTable(docs).toDF())
      .collect().map(f => f.doc_id -> f).toMap
    assert(decoded.size === 4, "every synthetic PNG must decode")
    for ((id, f) <- decoded) {
      val (w, h, ch) = (8 + (id % 16).toInt, 8 + ((id * 7) % 16).toInt,
        if (id % 2 == 0) 1 else 3)
      assert((f.width, f.height, f.channels) === ((w, h, ch)))
      val expected = (0L until w.toLong * h * ch).map(i => (id * 31 + i) % 256).sum
      assert(f.px_sum === expected, s"PNG decode must be bit-exact for doc $id")
    }
    // JPEG (lossy): dimensions and channel count still decode correctly
    val img = new java.awt.image.BufferedImage(20, 12,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val jpeg = Multimodal.ImageIoDecoder.decode(bos.toByteArray)
    assert(jpeg.map(d => (d._1, d._2, d._3)) === Some((20, 12, 3)))
    // undecodable bytes degrade to None, not an exception
    assert(Multimodal.ImageIoDecoder.decode("not an image".getBytes).isEmpty)
  }

  test("dhash: gain-shifted payloads collide, reordered ones differ, non-ASCII bytes safe") {
    import graft.pipeline.Multimodal
    def b(xs: Seq[Int]) = xs.map(_.toByte).toArray
    val base = (0 until 64).map(i => (i * 37) % 200)   // values in [0, 200)
    val media = Seq(
      (0L, b(base)),
      (1L, b(base.map(_ + 55))),             // gain shift, no wrap: same comparisons
      (2L, b(base.reverse))                  // same bytes, different order
    ).toDF("doc_id", "media")
    val fp = Multimodal.dhashFingerprint(media).as[(Long, Long)].collect().toMap
    assert(fp(0L) === fp(1L), "order-preserving gain shift must collide")
    assert(fp(0L) !== fp(2L), "reversed payload must not collide")
    // fingerprints are 32-bit non-negative longs
    assert(fp.values.forall(v => v >= 0L && v <= 0xFFFFFFFFL))
    // empty and 1-byte payloads fingerprint to 0 (no comparison can fire)
    val tiny = Seq((7L, Array.empty[Byte]), (8L, Array[Byte](42)))
      .toDF("doc_id", "media")
    val tf = Multimodal.dhashFingerprint(tiny).as[(Long, Long)].collect().toMap
    assert(tf(7L) === 0L && tf(8L) === 0L)
  }

  test("dhashNearDups: banded candidates are pigeonhole-complete up to the hamming bound") {
    import graft.pipeline.Multimodal
    val base = 0xA5C3F01EL & 0xFFFFFFFFL
    // 6 flips spread across 6 DIFFERENT 4-bit bands — the worst case for
    // banding: only 2 of 8 bands survive, and the pair must still surface
    val spread6 = base ^ ((1L << 0) | (1L << 5) | (1L << 10) | (1L << 15) | (1L << 20) | (1L << 25))
    val close2 = base ^ ((1L << 3) | (1L << 17))
    val far7 = base ^ ((1L << 1) | (1L << 2) | (1L << 6) | (1L << 11) | (1L << 16) | (1L << 21) | (1L << 26))
    val fp = Seq((0L, base), (1L, spread6), (2L, close2), (3L, far7))
      .toDF("doc_id", "dhash")
    val pairs = Multimodal.dhashNearDups(fp)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs((0L, 1L)) === 6, "6 flips across 6 bands must still be found")
    assert(pairs((0L, 2L)) === 2)
    assert(!pairs.contains((0L, 3L)), "hamming 7 exceeds the bound")
    // symmetric difference closes: 1 vs 2 differ by 8 bits -> absent
    assert(!pairs.contains((1L, 2L)))
  }

  test("frameSample slices exact byte windows; resize keeps every stride-th byte") {
    import graft.pipeline.Multimodal
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val payload = Array.tabulate(10)(i => (200 + i).toByte) // non-ASCII bytes
    val media = Seq((1L, payload, "video/mp4", 10L), (2L, Array.empty[Byte], "video/mp4", 0L))
      .toDF("doc_id", "media", "format", "n_bytes")

    val frames = Multimodal.frameSample(media, frameBytes = 4, everyNth = 1)
      .select("doc_id", "frame_idx", "frame")
      .as[(Long, Int, Array[Byte])].collect()
      .map(r => (r._1, r._2) -> r._3.toSeq).toMap
    assert(frames.keySet === Set((1L, 0), (1L, 1), (1L, 2))) // empty doc: no frames
    assert(frames((1L, 0)) === payload.slice(0, 4).toSeq)
    assert(frames((1L, 1)) === payload.slice(4, 8).toSeq)
    assert(frames((1L, 2)) === payload.slice(8, 10).toSeq)   // short tail frame

    val resized = Multimodal.resize(media, Multimodal.StrideResizer(3))
      .collect().map(r => r.doc_id -> r.media.toSeq).toMap
    assert(resized(1L) === Seq(payload(0), payload(3), payload(6), payload(9)))
    assert(resized(2L) === Seq.empty)
  }

  test("temperatureSample flattens the mixture toward low-resource domains") {
    import graft.pipeline.Curation
    // big: 9 docs x 100 tokens = 900; small: 1 doc x 100 = 100
    val corpus = ((0 until 9).map(i => (i.toLong, "big", 100L)) :+ (9L, "small", 100L))
      .toDF("doc_id", "source", "n_tokens")
    val r = Curation.temperatureSample(corpus, "source", "doc_id", "n_tokens",
      alpha = 0.5, totalBudget = 500L)
    val budgets = r.select("source", "stratum_budget").distinct()
      .as[(String, Long)].collect().toMap
    // natural shares 0.9/0.1; sqrt-flattened: 3/(3+1)=0.75 and 0.25
    assert(budgets("big") === 375L && budgets("small") === 125L, budgets.toString)
    // admitted token mass respects each derived budget
    val spent = r.groupBy("source").agg(max("cum_tokens").as("m"))
      .as[(String, Long)].collect().toMap
    assert(spent("big") <= 375L && spent("small") <= 125L, spent.toString)
    // alpha = 1 recovers natural proportions: big gets 450; small's 50
    // cannot admit even its single 100-token doc, so it drops entirely
    val nat = Curation.temperatureSample(corpus, "source", "doc_id", "n_tokens",
      alpha = 1.0, totalBudget = 500L)
      .select("source", "stratum_budget").distinct().as[(String, Long)].collect().toMap
    assert(nat === Map("big" -> 450L), nat.toString)
  }

  test("pcaPowerProject recovers the planted variance direction") {
    // variance concentrated along (1,1,0,0)/sqrt2 in d=4 (exact 1/sqrt(d))
    val emb = Seq(
      (0L, Array(3.0f, 3.1f, 0.1f, 0.0f)), (1L, Array(2.0f, 1.9f, 0.0f, 0.1f)),
      (2L, Array(1.0f, 1.1f, -0.1f, 0.0f)), (3L, Array(-1.0f, -0.9f, 0.0f, -0.1f)),
      (4L, Array(-2.0f, -2.1f, 0.1f, 0.0f)), (5L, Array(-3.0f, -3.0f, 0.0f, 0.1f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.pcaPowerProject(emb, nComponents = 2, iters = 10)
      .select("vec_id", "pc1", "pc2").as[(Long, Double, Double)].collect().sortBy(_._1)
    // pc1 must order the points along the planted axis (up to global sign)
    val sign = math.signum(r.head._2 - r.last._2)
    val pc1 = r.map(_._2 * sign)
    assert(pc1.sliding(2).forall(p => p(0) > p(1)), r.map(_._2).mkString(","))
    assert(pc1.head > 3.0, s"pc1 must carry the planted spread: ${pc1.head}")
    // pc2 is the residual noise axis — an order of magnitude smaller
    assert(r.map(t => math.abs(t._3)).max < 1.0, r.map(_._3).mkString(","))
    // fixed-iteration power method is deterministic
    val r2 = Similarity.pcaPowerProject(emb, nComponents = 2, iters = 10)
      .select("vec_id", "pc1", "pc2").as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(r === r2)
  }

  test("domainOutliers flags the vector pointing away from its label centroid") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.1f), 0), (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(1.1f, -0.1f, 0.0f), 0), (3L, Array(-1.0f, 0.2f, 0.0f), 0), // off-topic in label 0
      (4L, Array(0.0f, 1.0f, 0.0f), 1), (5L, Array(0.1f, 0.9f, 0.1f), 1)
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.domainOutliers(emb, threshold = 0.5)
      .select("vec_id", "is_outlier").as[(Long, Boolean)].collect().toMap
    assert(r === Map(0L -> false, 1L -> false, 2L -> false, 3L -> true,
      4L -> false, 5L -> false), r.toString)
  }

  test("bestQualityKeepers keeps the max-quality member, not the min id") {
    // component {0,1,2} chained 0-1, 1-2; quality peaks at id 2
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("id_a", "id_b")
    val docs = Seq((0L, 0.3), (1L, 0.5), (2L, 0.9), (7L, 0.1))
      .toDF("doc_id", "quality")
    val r = Dedup.bestQualityKeepers(pairs, docs, "doc_id", "quality")
      .select("doc_id", "cluster", "quality")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    // singleton 7 keeps itself; the chain keeps id 2 under cluster label 0
    assert(r === Array((2L, 0L, 0.9), (7L, 7L, 0.1)), r.mkString(","))
    // quality ties break to the LOWER id
    val tied = Dedup.bestQualityKeepers(pairs,
        Seq((0L, 0.5), (1L, 0.5), (2L, 0.5)).toDF("doc_id", "quality"),
        "doc_id", "quality")
      .select("doc_id").as[Long].collect()
    assert(tied === Array(0L), tied.mkString(","))
  }

  test("persisted LSH index: serve == direct cross-set search; appends are idempotent and visible") {
    import graft.catalog.GraftCatalog
    val cat = new GraftCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-lsh").toString)
    val docs = Tables.documents(spark, sf("sf0.001"))
    val existing = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)

    Dedup.buildLshIndexTables(cat, "dd", "ix", existing, "doc_id", "text",
      numHashes = 32, shingleK = 2, bands = 16)
    val served = Dedup.dedupAgainstLshIndex(cat, "dd", "ix", batch, "doc_id", "text",
        numHashes = 32, shingleK = 2, bands = 16, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val direct = Dedup.minhashNearDupsAgainst(existing, batch, "doc_id", "text",
        numHashes = 32, shingleK = 2, bands = 16, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(served === direct)

    // admit the batch; a replay with the same commitId must not double-insert
    val setsBefore = cat.read("dd", "ix_sets").count()
    Dedup.appendToLshIndex(cat, "dd", "ix", batch, "doc_id", "text",
      numHashes = 32, shingleK = 2, bands = 16, commitId = Some("batch-1"))
    Dedup.appendToLshIndex(cat, "dd", "ix", batch, "doc_id", "text",
      numHashes = 32, shingleK = 2, bands = 16, commitId = Some("batch-1"))
    assert(cat.read("dd", "ix_sets").count() === setsBefore + batch.count())

    // the admitted batch is now searchable: its exact copies hit at J=1
    val again = Dedup.dedupAgainstLshIndex(cat, "dd", "ix", batch, "doc_id", "text",
        numHashes = 32, shingleK = 2, bands = 16, threshold = 0.5)
      .filter(col("incoming_id") === col("existing_id"))
      .as[(Long, Long, Double)].collect()
    assert(again.nonEmpty && again.forall(_._3 === 1.0))
  }

  test("E2E incremental-dedup loop over the persisted LSH index equals a sequential batch replay") {
    import graft.catalog.GraftCatalog
    val cat = new GraftCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-lshloop").toString)
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), col("text"))
    val batches = (0 to 2).map(i => docs.filter(col("doc_id") % 3 === i))
    // policy: admit a doc iff it has NO near-dup (J >= 0.5) among the
    // already-admitted corpus — first batch wins; in-batch dups are a
    // separate (within-batch) pass in both paths, so parity is exact

    // production path: serve + admit against the PERSISTED index
    Dedup.buildLshIndexTables(cat, "dd", "loop", batches(0), "doc_id", "text",
      numHashes = 32, shingleK = 2, bands = 16)
    batches.drop(1).zipWithIndex.foreach { case (b, i) =>
      val dups = Dedup.dedupAgainstLshIndex(cat, "dd", "loop", b, "doc_id", "text",
          numHashes = 32, shingleK = 2, bands = 16, threshold = 0.5)
        .select(col("incoming_id").as("doc_id")).distinct()
      val admitted = b.join(dups, Seq("doc_id"), "left_anti")
      Dedup.appendToLshIndex(cat, "dd", "loop", admitted, "doc_id", "text",
        numHashes = 32, shingleK = 2, bands = 16, commitId = Some(s"loop-$i"))
      // crash-replay: the same admission must be a no-op
      Dedup.appendToLshIndex(cat, "dd", "loop", admitted, "doc_id", "text",
        numHashes = 32, shingleK = 2, bands = 16, commitId = Some(s"loop-$i"))
    }
    val servedAdmitted = cat.read("dd", "loop_sets")
      .select("id").as[Long].collect().toSet

    // reference path: sequential in-memory replay, no index
    var admitted = batches(0)
    batches.drop(1).foreach { b =>
      val dups = Dedup.minhashNearDupsAgainst(admitted, b, "doc_id", "text",
          numHashes = 32, shingleK = 2, bands = 16, threshold = 0.5)
        .select(col("incoming_id").as("doc_id")).distinct()
      admitted = admitted.unionByName(b.join(dups, Seq("doc_id"), "left_anti"))
        .localCheckpoint()
    }
    val replayAdmitted = admitted.select("doc_id").as[Long].collect().toSet

    assert(servedAdmitted === replayAdmitted)
    assert(servedAdmitted.size < docs.count()) // the corpus really has cross-batch dups
  }

  test("containmentPairs: near-subset doc pairs at overlap ~1 where Jaccard is low; maxDf cuts boilerplate") {
    val docs = Seq(
      // doc 1's 4 bigrams all appear in doc 2 (9 bigrams): overlap = 1.0,
      // Jaccard = 4/9 ≈ 0.44 — below every dedup threshold
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "completely different words here now"),
      // docs 4-6 share ONLY the ubiquitous bigram "common pair"
      (4L, "common pair one"), (5L, "common pair two"), (6L, "common pair three")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text",
        n = 2, threshold = 0.6, maxDf = 2)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(out.map(r => (r._1, r._2)) === Seq((1L, 2L)))
    val p = out.head
    assert(p._3 === 4L && p._4 === 4L && p._5 === 9L && p._6 === 1.0)
    // sanity: the same pair's Jaccard really is sub-threshold
    assert(4.0 / 9.0 < 0.5)
  }

  test("leakage-safe split: every near-dup cluster lands in exactly one split") {
    val out = SparkEntry.queries("sample_leakage_split")(spark, sf())
      .as[(Long, Long, String)].collect().toSeq
    val byCluster = out.groupBy(_._2)
    assert(byCluster.exists(_._2.size > 1)) // the corpus really has multi-doc clusters
    byCluster.foreach { case (c, members) =>
      assert(members.map(_._3).distinct.size === 1,
        s"cluster $c split across ${members.map(_._3).distinct}")
    }
    // and the assignment is the md5 rule on the cluster id, not the doc id
    val aSplit = out.map(r => r._2 -> r._3).toMap
    out.foreach { case (_, cluster, split) => assert(aSplit(cluster) === split) }
  }

  test("topKQualityKeepers keeps k best per cluster; singletons rank 1; k=1 is bestQualityKeepers") {
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("id_a", "id_b")
    val docs = Seq((0L, 0.3), (1L, 0.5), (2L, 0.9), (7L, 0.1))
      .toDF("doc_id", "quality")
    val r = Dedup.topKQualityKeepers(pairs, docs, "doc_id", "quality", k = 2)
      .select("doc_id", "cluster", "rank")
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    // chain {0,1,2}: keeps 2 (rank 1) and 1 (rank 2); singleton 7 rank 1
    assert(r === Array((1L, 0L, 2), (2L, 0L, 1), (7L, 7L, 1)), r.mkString(","))
  }

  test("matryoshka rerank with a full-corpus shortlist equals brute-force top-k") {
    import graft.pipeline.Similarity
    val emb = Tables.embeddings(spark, sf())
    val queries = emb.filter(col("vec_id") < 3)
    val n = emb.count().toInt
    val full = Similarity.matryoshkaTopK(emb, queries, 5, prefixDims = 16, shortlist = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val brute = Similarity.bruteForceTopK(emb, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(full === brute)
    // the real config (small pool) still returns k ranked rows per query
    val small = Similarity.matryoshkaTopK(emb, queries, 5, prefixDims = 16, shortlist = 50)
    assert(small.groupBy("query_id").count().collect().forall(_.getLong(1) === 5L))
  }

  test("phash: uniform byte shift (brightness re-encode) collides; content change does not") {
    import graft.pipeline.Multimodal
    // the collision property needs every non-DC basis row to sum to 0
    // even after quantization (pairwise cos symmetry survives rounding)
    for (u <- 1 until 8)
      assert((0 until 8).map(x => Multimodal.dctBasis(x)(u)).sum === 0L)
    val base = Array.tabulate(200)(i => ((i * 37 + i * i % 11) % 200 + 20).toByte)
    val shifted = base.map(b => (b + 10).toByte)       // uniform "brightness" shift
    // index 41 (1-based 42) sits ON the 64-point sampling grid
    // (floor(13·199/63)+1 = 42); an off-grid edit is invisible by design
    val edited = base.clone(); edited(41) = (edited(41) + 90).toByte
    val df = Seq((1L, base), (2L, shifted), (3L, edited)).toDF("doc_id", "media")
    val fp = Multimodal.phashFingerprint(df).as[(Long, Long)].collect().toMap
    assert(fp(1L) === fp(2L), "uniform shift must move only the dropped DC coefficient")
    assert(fp(1L) !== fp(3L), "a real content edit must change the fingerprint")
  }

  test("balancedSample keeps exactly min-class-count per class, md5-prefix members") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"), (6L, "c"))
      .toDF("id", "cls")
    val out = graft.pipeline.Curation.balancedSample(df, "cls", "id")
      .as[(Long, String)].collect()
    val perClass = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(perClass === Map("a" -> 1, "b" -> 1, "c" -> 1))
    // class c's only member must survive
    assert(out.exists(_._1 == 6L))
    // kept member of each class is its md5-order minimum
    val expected = df.as[(Long, String)].collect().groupBy(_._2).view
      .mapValues(_.minBy { case (id, _) =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes).map("%02x".format(_)).mkString
      }._1).toMap
    out.foreach { case (id, cls) => assert(id === expected(cls)) }
  }
}
