package graft.files

import graft.SparkSpec

import java.nio.file.Files

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("compact rewrites a fragmented table into fewer files, preserving rows") {
    val dir = Files.createTempDirectory("graft_compact").toString + "/t.parquet"
    // 20 appends of tiny files
    (1 to 20).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("id", "v").write.mode("append").parquet(dir)
    }
    val (_, before) = Compaction.dirBytesAndFiles(spark, dir)
    assert(before >= 20)
    val stats = Compaction.compact(spark, dir, targetBytes = 1024L * 1024 * 1024)
    assert(stats.filesAfter === 1)
    assert(stats.filesBefore === before)
    val out = spark.read.parquet(dir)
    assert(out.count() === 20)
    assert(out.select("id").collect().map(_.getLong(0)).sorted === (1L to 20L))
  }
}
