package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Composable-built-ins reference forms of graft's dedup kernels, kept in
  * test scope to cross-check the fused expressions bit for bit. */
object DedupReference {

  /** Word k-shingles of the text (k consecutive words, space-joined) —
    * the string form the ShingleMinHash kernel hashes as byte ranges. */
  def shingles(text: Column, k: Int): Column = {
    val toks = split(text, " ")
    transform(
      sequence(lit(1), greatest(size(toks) - (k - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(k))))
  }

  /** Aggregate form of Dedup.minhashSignatures: explode the distinct
    * shingles, numHashes min(xxhash64(lit(i), shingle)) aggregates. */
  def minhashSignaturesRef(docs: DataFrame, idCol: String, textCol: String,
                           numHashes: Int, shingleK: Int): DataFrame = {
    val exploded = docs
      .select(col(idCol), explode(array_distinct(shingles(col(textCol), shingleK))).as("s"))
    val mins = (0 until numHashes).map(i => min(xxhash64(lit(i), col("s"))).as(s"m$i"))
    exploded.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Sorted distinct xxhash64 set of the text's word k-shingles. */
  def shingleSetRef(text: Column, shingleK: Int): Column =
    sort_array(array_distinct(transform(shingles(text, shingleK), xxhash64(_))))

  /** Interpreted array_intersect/array_union form of Dedup.jaccard. */
  def jaccardRef(setA: Column, setB: Column): Column = {
    val inter = size(array_intersect(setA, setB)).cast("double")
    val union = size(array_union(setA, setB)).cast("double")
    round(inter / union, 4)
  }
}
