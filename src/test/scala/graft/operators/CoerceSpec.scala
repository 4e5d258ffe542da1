package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class CoerceSpec extends SparkSpec {
  import spark.implicits._

  test("intish tolerates float-string forms like int(float('3.0'))") {
    val out = Seq("3.0", "42", "7.9", "x", null).toDF("v")
      .select(Coerce.intish(col("v")).as("v")).collect().map(_.get(0))
    // int(float("7.9")) == 7: cast truncates toward zero like Python int()
    assert(out.toSeq === Seq(3L, 42L, 7L, null, null))
  }

  test("strip trims ALL whitespace kinds like str.strip(), NULL passthrough") {
    // tabs/newlines/CR must strip too — Python's strip() is not space-only
    val out = Seq("  a b  ", "\t\n a b \r\n", null).toDF("v")
      .select(Coerce.strip(col("v")).as("v")).collect().map(_.get(0))
    assert(out.toSeq === Seq("a b", "a b", null))
  }

  test("stripUnicode strips Python's full whitespace set; strip stays ASCII (SURVEY 2.4-11)") {
    // NBSP + EN QUAD left, NNBSP + IDEOGRAPHIC SPACE right, NEL + unit
    // separator mixed in — all in str.isspace(), none in Java's \s
    val exotic = "\u00A0\u2000\u0085\u001F a b \u202F\u3000"
    val rows = Seq(exotic, "\t a b \r\n", null).toDF("v")
    val uni = rows.select(Coerce.stripUnicode(col("v")).as("v"))
      .collect().map(_.get(0))
    assert(uni.toSeq === Seq("a b", "a b", null))
    // the ASCII default leaves the exotic edges untouched (the documented
    // deviation stripUnicode exists to close): the anchored \s classes
    // cannot match past the exotic lead/tail, so NOTHING strips here
    val ascii = rows.limit(1).select(Coerce.strip(col("v")).as("v"))
      .collect().map(_.getString(0))
    assert(ascii.head.startsWith("\u00A0\u2000\u0085\u001F"))
    assert(ascii.head.endsWith("\u202F\u3000"))
    // interior exotic spaces are NEVER touched (strip is ends-only)
    val interior = Seq("x\u00A0y").toDF("v")
      .select(Coerce.stripUnicode(col("v")).as("v")).head.getString(0)
    assert(interior === "x\u00A0y")
  }

  test("arrayOrEmpty: NULL -> [] (sync_utils.py:86-94)") {
    val df = Seq((1, Seq("a")), (2, null)).toDF("id", "arr")
    val out = df.select(Coerce.arrayOrEmpty(col("arr"), StringType).as("arr"))
      .collect().map(_.getSeq[String](0))
    assert(out.toSeq === Seq(Seq("a"), Seq()))
  }

  test("frame dispatches per type: typed ints pass through, strings trimmed, arrays defaulted") {
    val df = Seq((1L, " pad ", Seq(1, 2)), (2L, "x", null))
      .toDF("id", "s", "arr")
    val out = Coerce.frame(df).orderBy("id").collect()
    assert(out(0) === Row(1L, "pad", Seq(1, 2)))
    assert(out(1) === Row(2L, "x", Seq()))
  }

  test("frame repairs marked jsonb columns, unparseable -> NULL") {
    val df = Seq((1L, "{'k': 1}"), (2L, "junk{")).toDF("id", "j")
    val out = Coerce.frame(df, jsonColumns = Set("j")).orderBy("id").collect()
    assert(out(0).getString(1) === """{"k": 1}""")
    assert(out(1).isNullAt(1))
  }
}
