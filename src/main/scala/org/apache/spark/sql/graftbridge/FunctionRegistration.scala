package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expressions._

/** Make the native kernels callable from SQL:
  *
  *   SELECT graft_cosine(a.embedding, b.embedding) FROM ...
  *
  * Two registration paths:
  *  - config: spark.sql.extensions=graft.GraftExtensions (standard
  *    SparkSessionExtensions injection at session build);
  *  - runtime: GraftFunctions.register(spark) on an existing session
  *    (temp-function registry; lives in the bridge package because
  *    sessionState is private[sql]).
  */
object FunctionRegistration {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", "graft_dot(a, b) - dot product of two array<double>",
      (e: Seq[Expression]) => ArrayDotProduct(e(0), e(1))),
    ("graft_cosine", "graft_cosine(a, b) - cosine similarity of two array<double>",
      (e: Seq[Expression]) => ArrayCosineSim(e(0), e(1))),
    ("graft_h32_array", "graft_h32_array(a) - 32-bit md5 hash of each array element",
      (e: Seq[Expression]) => ArrayH32(e.head)),
    ("graft_simhash", "graft_simhash(hs) - 32-bit simhash from element hashes",
      (e: Seq[Expression]) => SimHashFromHashes(e.head)),
    ("graft_minhash16", "graft_minhash16(hs) - 16-entry minhash signature from element hashes",
      (e: Seq[Expression]) => MinHashFromHashes(e.head, 16)),
    ("graft_rolling_hash16",
      "graft_rolling_hash16(bytes) - Rabin-Karp 16-byte-window rolling polynomial hashes",
      (e: Seq[Expression]) => RollingPolyHash(e.head, 16, 257L, 1000000007L)))

  /** Inject into a SparkSessionExtensions (spark.sql.extensions path). */
  def inject(ext: SparkSessionExtensions): Unit =
    functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }

  /** Register on an already-built session (temp functions). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    functions.foreach { case (name, _, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
