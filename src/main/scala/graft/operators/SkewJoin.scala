package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation — explicit salting for the hot-key cases AQE's runtime
  * skew-join split cannot see (e.g. a pre-shuffled aggregation where one key
  * dominates, or a join against a dimension whose hot keys are known).
  *
  * Pattern: SALT the skewed (fact) side by appending a random-ish salt in
  * [0, buckets) to the key; EXPLODE the small side once per salt value; join
  * or aggregate on (key, salt) so a hot key's rows spread over `buckets`
  * shuffle partitions, then fold the salt back out. The salt is derived from
  * a hash of the whole row rather than rand() so plans stay deterministic
  * and retry-safe (rand() in a shuffle key breaks task retry idempotence).
  */
object SkewJoin {

  private val SALT = "__graft_salt"

  /** Deterministic salt in [0, buckets) from the row's other columns.
    *
    * `spreadIdentical` mixes in a per-row position component
    * (monotonically_increasing_id): fully identical duplicate rows of a hot
    * key — a common real skew shape — otherwise all hash to the SAME salt
    * bucket and do not spread at all. The trade: the position depends on the
    * input's partition layout, so a task retry may re-salt rows differently
    * — safe for decomposable aggregation and join spreading (any bucket
    * assignment is correct), but keep it off when a stage must be
    * bit-replayable. */
  def saltColumn(df: DataFrame, buckets: Int, spreadIdentical: Boolean = false): Column = {
    val cols = df.columns.map(col).toIndexedSeq
    val mixed = if (spreadIdentical) cols :+ monotonically_increasing_id() else cols
    pmod(xxhash64(mixed: _*), lit(buckets)).cast("int")
  }

  /** Two-phase (partial -> final) aggregation of a skewed key: first
    * aggregate (key, salt) — hot keys spread over `buckets` partitions —
    * then merge the partials per key. `agg` must be decomposable
    * (sum/count/min/max style). Identical-duplicate-heavy keys should set
    * `spreadIdentical` (see saltColumn). */
  def saltedCount(df: DataFrame, keys: Seq[String], buckets: Int = 16,
                  spreadIdentical: Boolean = false): DataFrame =
    df.withColumn(SALT, saltColumn(df, buckets, spreadIdentical))
      .groupBy((keys.map(col) :+ col(SALT)): _*)
      .agg(count(lit(1)).as("__partial"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__partial")).as("n"))

  /** Skewed fact ⋈ small dim: salt the fact side, replicate the dim side
    * `buckets`× with every salt value, equi-join on (key, salt). The dim
    * side must be broadcast-or-small (it is replicated). */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 buckets: Int = 16): DataFrame = {
    val saltedFact = fact.withColumn(SALT, saltColumn(fact, buckets))
    val repl = dim.withColumn(SALT, explode(sequence(lit(0), lit(buckets - 1))))
    saltedFact.join(repl, Seq(key, SALT)).drop(SALT)
  }
}
