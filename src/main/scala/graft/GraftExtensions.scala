package graft

import graft.functions.{FloatDotProduct, NfcNormalize, SimHash64, SimHashPacked64, SortedLongIntersectSize, StripAccents, UrlNormalize}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's custom
  * codegen'd expressions as SQL functions, so `spark.sql` users get the same
  * hot-path primitives as the DataFrame API:
  *
  *   spark.sql("SELECT graft_dot(a.embedding, b.embedding) ...")
  *
  * Activate with
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * or inject at runtime via `GraftExtensions.register(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_dot",
      info("graft_dot", "graft_dot(a, b) - dot product of two float arrays (double accumulation)"),
      (args: Seq[Expression]) => FloatDotProduct(args(0), args(1))),
    ("graft_intersect_size",
      info("graft_intersect_size", "graft_intersect_size(a, b) - |A ∩ B| of two sorted bigint arrays"),
      (args: Seq[Expression]) => SortedLongIntersectSize(args(0), args(1))),
    ("graft_nfc",
      info("graft_nfc", "graft_nfc(s) - Unicode NFC canonical composition of a string"),
      (args: Seq[Expression]) => NfcNormalize(args.head)),
    ("graft_strip_accents",
      info("graft_strip_accents", "graft_strip_accents(s) - drop combining marks (NFD, remove Mn, NFC): 'café' -> 'cafe'"),
      (args: Seq[Expression]) => StripAccents(args.head)),
    ("graft_url_norm",
      info("graft_url_norm", "graft_url_norm(u) - RFC 3986-style URL canonicalization (case, default port, fragment, tracking params, param sort); NULL when not an absolute URL"),
      (args: Seq[Expression]) => UrlNormalize(args.head)),
    ("graft_simhash64",
      info("graft_simhash64", "graft_simhash64(hashes) - 64 sign bits of the simhash of pre-hashed tokens"),
      (args: Seq[Expression]) => SimHash64(args.head)),
    ("graft_simhash_packed",
      info("graft_simhash_packed", "graft_simhash_packed(hashes) - simhash of pre-hashed tokens packed into one bigint; hamming = bit_count(a ^ b)"),
      (args: Seq[Expression]) => SimHashPacked64(args.head)),
    // Spark ships these two for its internal runtime join filtering but
    // leaves them unregistered; expose them — the analyzer wraps the raw
    // AggregateFunction exactly as it does for builtin aggregates
    ("graft_bloom_agg",
      info("graft_bloom_agg", "graft_bloom_agg(x, items, bits) - serialized Bloom filter of a column"),
      (args: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          args(0), args(1), args(2))),
    ("graft_bloom_might_contain",
      info("graft_bloom_might_contain", "graft_bloom_might_contain(bloom, x) - membership probe; bloom must be foldable"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(args(0), args(1)))
  )

  /** Runtime registration for an existing session (tests, REPL). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), inf, builder)
    }
}
