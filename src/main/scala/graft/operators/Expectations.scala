package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Declarative data-quality expectations — the Deequ-style validation
  * report a sync/ingest pipeline runs against every landed table: each
  * expectation becomes one row (check, n_rows, n_violations, pass), so
  * monitoring dashboards diff reports across runs and a failed landing
  * is auditable to the exact constraint and count.
  *
  * Scale shape by check class:
  *  - ROW checks (null rates, ranges, regexes — any per-row predicate):
  *    ALL of them fold into ONE narrow aggregate pass over the table,
  *    however many there are — a conditional sum per check riding the
  *    same scan (the q13 one-scan Observation argument). Never one job
  *    per check.
  *  - UNIQUENESS (key sets): one partial-aggregated groupBy per key set
  *    — duplicate keys combine map-side, the exchange carries only
  *    distinct keys (collapses under AQE for near-unique data).
  *  - REFERENTIAL (foreign key ⊆ primary key): one LEFT ANTI join per
  *    pair, broadcast when the referenced key side is small.
  *
  * Everything is an integer count — the report grades against a plain
  * SQL oracle (q175). */
object Expectations {

  /** The internal total-count alias [[rowChecks]] appends to its one
    * aggregate — reserved (collision-improbable by construction). */
  private val TotalAlias = "__graft_expectations_total"

  /** All row-level checks in ONE aggregate pass: for each (name,
    * predicate), count rows where the predicate is NOT satisfied (NULL
    * predicate = violation — a null can never *satisfy* a constraint;
    * use explicit isNull arms to express nullable-tolerant checks). */
  def rowChecks(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "Expectations.rowChecks: no checks given")
    // check names become agg column aliases read back BY NAME — a
    // duplicate (or a name shadowing the internal total) would make
    // Row.getAs silently return the wrong count (last alias wins)
    require(checks.map(_._1).distinct.length == checks.length,
      "Expectations.rowChecks: duplicate check names")
    require(!checks.exists(_._1 == TotalAlias),
      s"Expectations.rowChecks: '$TotalAlias' is reserved")
    val total = count(lit(1)).cast(LongType)
    val aggs = checks.map { case (name, pred) =>
      sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)).cast(LongType).as(name)
    }
    val one = df.agg(aggs.head, (aggs.tail :+ total.as(TotalAlias)): _*).head()
    val n = one.getAs[Long](TotalAlias)
    val rows = checks.map { case (name, _) =>
      (name, n, one.getAs[Long](name))
    }
    report(df, rows)
  }

  /** Uniqueness of a key set: violations = fully-keyed rows beyond the
    * first of each duplicated key, PLUS every row with a NULL in the key
    * (a key with NULLs cannot identify a row) — 0 iff the key is unique
    * and total. The distinct count deliberately ranges over FULLY
    * NON-NULL keys only (the `when` without otherwise yields NULL for
    * null-keyed rows, which count_distinct skips — SQL's
    * `count(DISTINCT k)` null-skipping semantics, mirrored by the q175
    * oracle): violations = n_rows − distinct then counts each null-keyed
    * row exactly once (it contributes to n but never to d) alongside the
    * per-key surplus, and can never exceed n_rows. */
  def uniqueCheck(df: DataFrame, name: String, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "Expectations.uniqueCheck: no key columns")
    val nonNull = keys.map(col(_).isNotNull).reduce(_ && _)
    val agg = df.agg(
      count(lit(1)).cast(LongType).as("__n"),
      count_distinct(when(nonNull, struct(keys.map(col): _*))).cast(LongType).as("__d")).head()
    val (n, d) = (agg.getLong(0), agg.getLong(1))
    report(df, Seq((name, n, n - d)))
  }

  /** Referential integrity: every non-NULL `fk` of `df` must exist in
    * `ref(refKey)` — violations = orphan rows. ONE pass over the
    * fact-side table (the module's one-scan discipline): a LEFT join
    * against the DISTINCT referenced keys (no fan-out by construction)
    * with a conditional aggregate — total and orphan counts from the
    * same scan, where an anti-join + df.count() pair would read the
    * fact side twice. NULL fks are counted in n_rows but are never
    * orphans (a null references nothing). The distinct referenced keys
    * are HINTED to the build side — right for dimension/parent tables. */
  def refCheck(df: DataFrame, name: String, fk: String,
               ref: DataFrame, refKey: String): DataFrame = {
    val build = broadcast(ref.select(col(refKey).as("__k")).distinct())
    val one = df.select(col(fk).as("__fk"))
      .join(build, col("__fk") === col("__k"), "left")
      .agg(count(lit(1)).cast(LongType).as("__n"),
        coalesce(sum(when(col("__fk").isNotNull && col("__k").isNull, 1L)
          .otherwise(0L)), lit(0L)).cast(LongType).as("__v"))
      .head()
    report(df, Seq((name, one.getLong(0), one.getLong(1))))
  }

  /** Stack several expectation reports into one table. */
  def all(reports: DataFrame*): DataFrame =
    reports.reduce(_.unionByName(_))

  /** k-ANONYMITY audit — the governance check a dataset release runs
    * over its quasi-identifier columns (Sweeney 2002: a combination of
    * seemingly-harmless attributes shared by fewer than k rows
    * re-identifies people): one row per violating combination with its
    * group size. Delta-sized output (only combos under k), NULL values
    * form combos like any other (a NULL quasi-identifier still
    * re-identifies). ONE keyed partial-aggregated count — the q16
    * exact-dedup shape; at 100 TB this is a single map-side-combined
    * shuffle on the quasi-identifier tuple, nothing else. Remediation
    * (suppress or generalize the violating rows) composes downstream:
    * semi-join the source against this report. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymity needs at least one quasi-identifier column")
    require(!quasiCols.contains("n"),
      "kAnonymity: a quasi-identifier named 'n' collides with the count output column")
    require(k >= 2, s"kAnonymity: k must be >= 2 (k = 1 never violates), got $k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).cast(LongType).as("n"))
      .filter(col("n") < k)
  }

  private def report(df: DataFrame,
                     rows: Seq[(String, Long, Long)]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    rows.map { case (name, n, v) => (name, n, v, if (v == 0L) 1L else 0L) }
      .toDF("check_name", "n_rows", "n_violations", "pass")
  }
}
