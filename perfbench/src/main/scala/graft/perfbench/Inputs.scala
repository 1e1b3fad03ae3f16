package graft.perfbench

import java.nio.file.{Files, Path}
import java.sql.Date

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Stateless seeded randomness: every value is a pure function of
  * (seed, stream, index), so a row can be regenerated anywhere (on an
  * executor while writing the input, or on the driver while replaying
  * the expected state) without storing it. SplitMix64 finalizer. */
object Rng {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def bits(seed: Long, stream: Long, i: Long, j: Long = 0L): Long =
    mix(mix(mix(seed ^ (stream * 0x632BE59BD9B4E019L)) + i) + j)
  /** Uniform in [0, 1). */
  def unit(seed: Long, stream: Long, i: Long, j: Long = 0L): Double =
    (bits(seed, stream, i, j) >>> 11) * (1.0 / (1L << 53))
  /** Uniform integer in [lo, hi]. */
  def between(seed: Long, stream: Long, i: Long, lo: Long, hi: Long, j: Long = 0L): Long =
    lo + math.floor(unit(seed, stream, i, j) * (hi - lo + 1)).toLong
  /** Standard normal (Box-Muller over two independent draws). */
  def normal(seed: Long, stream: Long, i: Long, j: Long): Double = {
    val u1 = math.max(unit(seed, stream, i, 2 * j), 1e-12)
    val u2 = unit(seed, stream, i, 2 * j + 1)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
}

/** Zipf(s) over ranks 0 until n by inversion of the precomputed CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val a = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); a(i) = acc; i += 1 }
    i = 0
    while (i < n) { a(i) /= acc; i += 1 }
    a
  }
  def rank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** The distributions of the sf0.1 tables, as recorded by
  * tools/profile_sf.py in data/sf01_profile.json. */
final case class Profile(
    suppkey: (Double, Double), orderkey: (Double, Double), partkey: (Double, Double),
    linenumber: (Double, Double), quantity: (Double, Double), price: (Double, Double),
    discount: (Double, Double), tax: (Double, Double), shipDays: (Double, Double),
    returnflags: IndexedSeq[String], linestatus: IndexedSeq[String],
    vocab: IndexedSeq[String], dupMarker: String, nearDupRate: Double, exactDupRate: Double,
    words: (Double, Double), langs: IndexedSeq[(String, Double)], sources: Int, dim: Int,
    labels: Int, labelShare: Double)

object Profile {
  def load(path: Path): Profile = {
    val root = new ObjectMapper().readTree(path.toFile)
    val li = root.get("lineitem")
    val docs = root.get("documents")
    val emb = root.get("embeddings")
    def range(n: JsonNode, k: String) = (n.get(k).get(0).asDouble, n.get(k).get(1).asDouble)
    def strings(n: JsonNode) = n.elements().asScala.map(_.asText).toIndexedSeq
    Profile(
      range(li, "suppkey"), range(li, "orderkey"), range(li, "partkey"),
      range(li, "linenumber"), range(li, "quantity"), range(li, "extendedprice"),
      range(li, "discount"), range(li, "tax"), range(li, "shipdate_days"),
      strings(li.get("returnflag")), strings(li.get("linestatus")),
      strings(docs.get("vocab")), docs.get("near_dup_marker").asText,
      docs.get("near_dup_rate").asDouble, docs.get("exact_dup_rate").asDouble, range(docs, "words"),
      docs.get("langs").properties().asScala.map(e => e.getKey -> e.getValue.asDouble).toIndexedSeq,
      docs.get("sources").asInt, emb.get("dim").asInt, emb.get("labels").asInt,
      emb.get("label_variance_share").asDouble)
  }
}

/** Lineitem-shaped rows drawn from the profile: the geo write slices and
  * the base of the dml table. */
final class LineitemGen(p: Profile, seed: Long) extends Serializable {
  private def u(stream: Long, i: Long, j: Long) = Rng.unit(seed, stream, i, j)
  private def uni(r: (Double, Double), stream: Long, i: Long, j: Long) = r._1 + u(stream, i, j) * (r._2 - r._1)
  private def int(r: (Double, Double), stream: Long, i: Long, j: Long) =
    Rng.between(seed, stream, i, r._1.toLong, r._2.toLong, j)

  val schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType)))
  /** Fixed-width logical size of one row: what a user hands over. */
  val rowBytes: Long = 3 * 8 + 4 + 4 * 8 + 1 + 1 + 4

  def row(i: Long): Row = Row(
    int(p.orderkey, 11, i, 0), int(p.partkey, 11, i, 1), int(p.suppkey, 11, i, 2),
    int(p.linenumber, 11, i, 3).toInt, math.rint(uni(p.quantity, 11, i, 4)),
    math.rint(uni(p.price, 11, i, 5) * 100) / 100, math.rint(uni(p.discount, 11, i, 6) * 100) / 100,
    math.rint(uni(p.tax, 11, i, 7) * 100) / 100,
    p.returnflags(int((0, p.returnflags.size - 1), 11, i, 8).toInt),
    p.linestatus(int((0, p.linestatus.size - 1), 11, i, 9).toInt),
    Date.valueOf(java.time.LocalDate.ofEpochDay(int(p.shipDays, 11, i, 10))))

  def slice(spark: SparkSession, first: Long, rows: Int): DataFrame =
    spark.createDataFrame((first until first + rows).map(row).asJava, schema)
}

/** One row of the dml table; a pure function of (seed, pk) for base keys. */
final case class Item(pk: Long, grp: Int, price: Long, qty: Int, flag: String, ship: Date)

object Item {
  val schema: StructType = StructType(Seq(
    StructField("pk", LongType), StructField("grp", IntegerType),
    StructField("price", LongType), StructField("qty", IntegerType),
    StructField("flag", StringType), StructField("ship", DateType)))
  val rowBytes: Long = 8 + 4 + 8 + 4 + 1 + 4
  val Groups = 100
}

/** One write of the dml op log. */
sealed trait DmlOp
final case class Insert(rows: Seq[Item]) extends DmlOp
final case class Update(pk: Long, delta: Long) extends DmlOp
final case class Merge(rows: Seq[Item]) extends DmlOp
final case class Delete(pk: Long) extends DmlOp

/** The dml inputs: a base table and a seeded op log for the writer; the
  * reader draws its keys with `hotKey`. */
final class DmlGen(p: Profile, seed: Long, val baseRows: Int) extends Serializable {
  private val li = new LineitemGen(p, seed)
  /** Base row `pk`, derived from lineitem row `pk`: price in cents so
    * sums are exact. `salt` distinguishes rows written later. */
  def item(pk: Long, salt: Long = 0L): Item = {
    val r = li.row(pk + salt * 0x100000000L)
    Item(pk, (r.getLong(2) % Item.Groups).toInt, math.round(r.getDouble(5) * 100),
      r.getDouble(4).toInt, r.getString(8), r.getDate(10))
  }
  def baseFrame(spark: SparkSession, parts: Int): DataFrame = {
    val n = baseRows
    val gen = this
    val rdd = spark.sparkContext.parallelize(0L until n.toLong, parts).map { pk =>
      val it = gen.item(pk); Row(it.pk, it.grp, it.price, it.qty, it.flag, it.ship)
    }
    spark.createDataFrame(rdd, Item.schema)
  }

  val zipfS = 1.1
  val recentShare = 0.2
  // stride permutation: Zipf rank r is key (r * Stride + Offset) mod n, so
  // hot keys are spread over the key space, not packed into one file
  private val Stride = 7919L * 7907L
  private val Offset = Rng.between(seed, 21, 0, 0, baseRows.toLong - 1)
  @transient lazy val zipf = new Zipf(baseRows, zipfS)
  def hotKey(u: Double): Long = (zipf.rank(u).toLong * Stride + Offset) % baseRows

  /** The writer's op kinds repeat this cycle (40% INSERT, 30% UPDATE,
    * 15% MERGE, 15% DELETE), so every seed runs the same mix in the same
    * order and only keys and values differ. */
  val cycle: IndexedSeq[Char] = "IUIMUDIUIDIUMIUIDUMI"
  val insertBatch = 10
  val mergeBatch = 20

  /** The seeded op log: `n` writes whose keys always hit live rows, drawn
    * by simulating the live key set (the same replay gives the expected
    * state after any prefix). */
  def opLog(n: Int): IndexedSeq[DmlOp] = {
    val rnd = new java.util.SplittableRandom(seed * 31 + 7)
    val deleted = mutable.HashSet.empty[Long]
    val recent = mutable.ArrayBuffer.empty[Long]
    var nextPk = baseRows.toLong
    def liveKey(): Long = {
      var k = -1L
      while (k < 0 || deleted.contains(k)) {
        k = if (recent.nonEmpty && rnd.nextDouble() < recentShare)
          recent(recent.size - 1 - rnd.nextInt(math.min(recent.size, 200)))
        else hotKey(rnd.nextDouble())
      }
      k
    }
    def fresh(): Item = { val it = item(nextPk, salt = 1); nextPk += 1; recent += it.pk; it }
    (0 until n).map { i =>
      cycle(i % cycle.size) match {
        case 'I' => Insert(Seq.fill(insertBatch)(fresh()))
        case 'U' => Update(liveKey(), 1 + rnd.nextInt(500).toLong)
        case 'M' =>
          val olds = mutable.LinkedHashSet.empty[Long]
          while (olds.size < mergeBatch / 2) olds += liveKey()
          Merge(olds.toSeq.map(k => item(k, salt = 2 + i).copy(pk = k)) ++
            Seq.fill(mergeBatch / 2)(fresh()))
        case _ => val k = liveKey(); deleted += k; Delete(k)
      }
    }
  }
}

/** The curation corpus: sf0.1-shaped documents with exact and near
  * duplicates at the profile's rates, each with an embedding. A vector
  * is its content's label centroid plus isotropic noise, weighted by the
  * profile's between-label variance share; near copies get the
  * original's vector plus small noise, exact copies the same vector. */
final class CorpusGen(p: Profile, seed: Long, val docs: Int) extends Serializable {
  val nearDupRate: Double = p.nearDupRate
  val exactDupRate: Double = p.exactDupRate
  val noise = 0.05
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_words", IntegerType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  /** (content id, kind) of doc i: kind 0 original, 1 near copy, 2 exact copy. */
  def content(i: Long): (Long, Int) = {
    val u = Rng.unit(seed, 31, i)
    if (i == 0 || u >= nearDupRate + exactDupRate) (i, 0)
    else (Rng.between(seed, 32, i, 0, i - 1), if (u < nearDupRate) 1 else 2)
  }
  private def words(c: Long): Array[String] = {
    val n = Rng.between(seed, 33, c, p.words._1.toLong, p.words._2.toLong).toInt
    Array.tabulate(n)(j => p.vocab(Rng.between(seed, 34, c, 0, p.vocab.size - 1, j).toInt))
  }
  private val centroids: Array[Array[Double]] = Array.tabulate(p.labels) { l =>
    val d = Array.tabulate(p.dim)(j => Rng.normal(seed, 38, l, j))
    val norm = math.sqrt(d.map(x => x * x).sum)
    d.map(_ / norm * math.sqrt(p.dim))
  }
  private def vector(c: Long, i: Long, kind: Int): Array[Float] = {
    val centroid = centroids(Rng.between(seed, 39, c, 0, p.labels - 1).toInt)
    val (a, b) = (math.sqrt(p.labelShare), math.sqrt(1 - p.labelShare))
    val v = Array.tabulate(p.dim) { j =>
      a * centroid(j) + b * Rng.normal(seed, 35, c, j) +
        (if (kind == 1) noise * Rng.normal(seed, 36, i, j) else 0.0)
    }
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }
  def row(i: Long): Row = {
    val (c, kind) = content(i)
    val w0 = words(c)
    val w = if (kind == 1) w0 :+ p.dupMarker else w0
    val cum = Rng.unit(seed, 37, i)
    val lang = p.langs.scanLeft(("", 0.0))((a, b) => (b._1, a._2 + b._2)).tail
      .find(_._2 > cum).getOrElse(p.langs.last)._1
    Row(i, w.mkString(" "), lang, s"src${i % p.sources}", w.length, vector(c, i, kind))
  }
  def frame(spark: SparkSession, parts: Int): DataFrame = {
    val gen = this
    spark.createDataFrame(
      spark.sparkContext.parallelize(0L until docs.toLong, parts).map(gen.row), schema)
  }
}

object Inputs {
  /** Write `df` once per (name, seed) under `dir`; later runs of the same
    * seed in the same checkout reuse the files. */
  def materialize(dir: Path, name: String, df: => DataFrame): String = {
    val out = dir.resolve(name)
    val done = dir.resolve(name + ".done")
    if (!Files.exists(done)) {
      df.write.mode("overwrite").parquet(out.toString)
      Files.createFile(done)
    }
    out.toString
  }
}
