package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table support — the co-located-join primitive for repeated big
  * joins on the same key: both sides hash-partitioned into the same bucket
  * count at WRITE time, so every subsequent equi-join on the bucket key
  * needs NO shuffle (the dominant cost of a 100 TB join). The trade: a
  * one-time clustered write per table; worth it when a key is joined more
  * than once (fact-to-fact sync reconciliation, repeated dedup passes).
  */
object Bucketing {

  /** Write `df` as a bucketed managed table, replacing any table of that
    * name (sorted within buckets so merge-joins skip the sort too). */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Inner-join two same-bucketed tables on their bucket key, VERIFYING the
    * bucket specs actually line up (same count, keys = join keys) — a
    * mismatch would silently plan a full shuffle join and void the whole
    * point of bucketing, so it fails fast instead. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
                   on: Seq[String]): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.bucketSpec
    def spec(t: String) = bucketSpec(spark, t)
      .getOrElse(sys.error(s"bucketedJoin: table $t is not bucketed"))
    val (ln, lCols) = spec(left)
    val (rn, rCols) = spec(right)
    require(ln == rn, s"bucketedJoin: bucket counts differ ($left=$ln, $right=$rn) — join would shuffle")
    require(lCols.map(_.toLowerCase) == on.map(_.toLowerCase) &&
            rCols.map(_.toLowerCase) == on.map(_.toLowerCase),
      s"bucketedJoin: bucket columns ($lCols / $rCols) must equal the join keys $on")
    spark.table(left).join(spark.table(right), on)
  }
}
