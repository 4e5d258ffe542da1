package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** §2.4-3: the id/timestamp empty-destination asymmetry —
  * id NULL -> 0 (incremental still runs), timestamp NULL -> full copy. */
class WatermarkSpec extends SparkSpec {
  import spark.implicits._

  test("id watermark on empty relation -> 0 (sync_utils.py:32-33)") {
    val empty = Seq(1L, 2L).toDF("id").filter(col("id") < 0)
    assert(Watermark.idOf(Watermark.maxOf(empty, "id")) === 0L)
    assert(Watermark.idCheckValue(empty, "id").head.getLong(0) === 0L)
  }

  test("id watermark reads MAX") {
    assert(Watermark.idOf(Watermark.maxOf(Seq(3L, 9L, 5L).toDF("id"), "id")) === 9L)
  }

  test("timestamp watermark on empty relation -> None -> full-copy branch") {
    val empty = Seq("2020-01-01").toDF("s")
      .select(to_timestamp(col("s")).as("ts")).filter(lit(false))
    assert(Watermark.readTimestamp(empty, "ts") === None)
    // None watermark -> Incremental.extract returns the source unfiltered
    val src = Seq(1, 2, 3).toDF("v")
    assert(Incremental.extract(src, "v", None).count() === 3)
  }

  test("strict > skips rows equal to the watermark (SURVEY hard-parts)") {
    val src = Seq(1L, 2L, 3L).toDF("id")
    val out = Incremental.newerThan(src, "id", lit(2L)).collect().map(_.getLong(0))
    assert(out.toSeq === Seq(3L))
  }
}
