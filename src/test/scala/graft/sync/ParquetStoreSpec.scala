package graft.sync

import graft.SparkSpec
import org.apache.hadoop.fs.Path

import java.nio.file.Files
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** ParquetStore.append: each call stages into a directory of its own, then
  * lands the part files that hold rows. */
class ParquetStoreSpec extends SparkSpec {
  import spark.implicits._

  private def ids(lo: Long, hi: Long) = spark.range(lo, hi + 1).toDF("id")

  private def tableFiles(dir: String): Set[String] = {
    val p = new Path(s"$dir/t.parquet")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(_.getPath.getName).toSet
  }

  test("append creates a missing table, even from an empty frame") {
    val dir = Files.createTempDirectory("graft_store").toString
    val store = new ParquetStore(spark, dir)
    store.append(ids(1, 0), "t")
    assert(store.read("t").get.columns.toSeq === Seq("id"))
    assert(store.read("t").get.count() === 0)
    store.append(ids(1, 5), "t")
    assert(store.read("t").get.as[Long].collect().sorted.toSeq === (1L to 5L))
  }

  test("an empty append adds no file and leaves no staging directory") {
    val dir = Files.createTempDirectory("graft_store").toString
    val store = new ParquetStore(spark, dir)
    store.append(ids(1, 5), "t")
    val before = tableFiles(dir)
    store.append(ids(1, 0), "t")
    store.append(ids(1, 100).filter($"id" < 0).repartition(3), "t")
    assert(tableFiles(dir) === before)
    assert(new java.io.File(dir).list().toSet === Set("t.parquet"))
  }

  test("a job failing mid-write leaves the table and the store directory as they were") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val dir = Files.createTempDirectory("graft_store").toString
    val store = new ParquetStore(spark, dir)
    store.append(ids(1, 5), "t")
    val before = tableFiles(dir)
    // the other partitions' tasks write their files into the staging
    // directory before the failing task aborts the job
    val failing = ids(100, 199).repartition(4)
      .withColumn("id", when(col("id") === 150, raise_error(lit("injected"))).otherwise(col("id")))
    intercept[Exception](store.append(failing, "t"))
    assert(tableFiles(dir) === before)
    assert(store.read("t").get.count() === 5)
    assert(new java.io.File(dir).list().toSet === Set("t.parquet"))
  }

  test("two threads appending to one table lose no rows") {
    val dir = Files.createTempDirectory("graft_store").toString
    val store = new ParquetStore(spark, dir)
    store.append(ids(1, 10), "t")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val runs = (0 until 2).map { w =>
        Future((0 until 4).foreach { i =>
          val lo = 100L + (w * 4 + i) * 10
          store.append(ids(lo, lo + 9).repartition(2), "t")
        })
      }
      runs.foreach(Await.result(_, Duration("5 min")))
    } finally pool.shutdown()
    val got = store.read("t").get.as[Long].collect().sorted.toSeq
    assert(got === (1L to 10L) ++ (100L until 180L))
  }
}
