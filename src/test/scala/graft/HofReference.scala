package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.TextFunctions.{ClassifierBuckets, classifierWeights, h32}

/** Higher-order-function formulations of the native text and vector
  * kernels (graft.expressions): the reference semantics
  * TextFunctionsSpec and VectorFunctionsSpec compare the kernels to.
  */
object HofReference {

  /** wordShingles as transform(sequence) over array_join(slice). */
  def wordShinglesHof(toks: Column, k: Int): Column =
    when(size(toks) < k, array().cast("array<string>")).otherwise(
      transform(
        sequence(lit(1), size(toks) - (k - 1)),
        i => array_join(slice(toks, i, lit(k)), " ")))

  /** hashArray as a per-element h32 transform. */
  def hashArrayHof(strs: Column): Column = transform(strs, s => h32(s))

  /** minhashFromHashes as one transform per seed. */
  def minhashFromHashesHof(hs: Column, numHashes: Int): Column =
    transform(
      sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(hs, h => ((i + 1).cast(LongType) * h + i) % 1000000007L)))

  /** Bit i of non-negative long h, with a Column shift amount (the Scala
    * `shiftright` only takes Int shifts): floor(h / 2^i) % 2 — exact for
    * h < 2^53 since powers of two are exact doubles.
    */
  private def bitAt(h: Column, i: Column): Column =
    (h.cast("double") / pow(lit(2.0), i)).cast(LongType) % 2

  /** simhashFromHashes as a nested aggregate over the 32 bits. */
  def simhashFromHashesHof(hs: Column): Column =
    aggregate(
      sequence(lit(0), lit(31)),
      lit(0L),
      (acc, i) => {
        val contrib = aggregate(
          hs,
          lit(0L),
          (a, h) => a + when(bitAt(h, i) === 1, 1L).otherwise(-1L))
        acc + when(contrib > 0, pow(lit(2.0), i).cast(LongType)).otherwise(0L)
      })

  /** stopwordHits as size(filter). */
  def stopwordHitsHof(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** classifierScoreFromHashes with the same ascending left-fold
    * accumulation order, so the doubles are bit-identical. */
  def classifierScoreFromHashesHof(hs: Column, nFeats: Column): Column =
    aggregate(
      transform(hs, h => element_at(typedLit(classifierWeights),
        pmod(h, lit(ClassifierBuckets.toLong)).cast("int") + 1)),
      lit(0.0), (a, x) => a + x) / nFeats

  /** dot as aggregate(zip_with). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a.cast("array<double>"), b.cast("array<double>"), (x, y) => x * y),
      lit(0.0),
      (acc, v) => acc + v)

  /** cosine over [[dotHof]]; NULL when either norm is 0. */
  def cosineHof(a: Column, b: Column): Column = {
    val d = dotHof(a, b)
    val na = sqrt(dotHof(a, a))
    val nb = sqrt(dotHof(b, b))
    when(na === 0 || nb === 0, lit(null).cast("double")).otherwise(d / (na * nb))
  }
}
