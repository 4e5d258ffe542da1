package graft.files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction — the unglamorous operator every long-running
  * 100 TB pipeline needs: incremental syncs and streaming sinks accrete
  * thousands of KB-sized parquet files whose per-file open/footer cost
  * eventually dominates scans. Compaction rewrites a table directory into
  * ~`targetBytes`-sized files.
  *
  * The directory is a `ParquetStore` table, `<parent>/<table>.parquet`,
  * and the rewrite is that store's `write`: it stages the compacted copy
  * and commits it by one rename under the store's lock, so a crash leaves
  * the old table or the new one. Files appended by another process
  * between the read and the commit are still lost, so run it in a
  * maintenance window.
  */
object Compaction {

  case class CompactionStats(bytesTotal: Long, filesBefore: Long, filesAfter: Long)

  def dirBytesAndFiles(spark: SparkSession, dir: String): (Long, Long) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var bytes = 0L; var files = 0L
    while (it.hasNext) {
      val f = it.next()
      if (!f.getPath.getName.startsWith("_")) { bytes += f.getLen; files += 1 }
    }
    (bytes, files)
  }

  /** The (store directory, table) that `dir` names when it is
    * `<parent>/<table>.parquet`; None for any other name. */
  def storeTable(dir: String): Option[(String, String)] = {
    val p = new Path(dir)
    val table = p.getName.stripSuffix(".parquet")
    if (p.getParent == null || table.isEmpty || table == p.getName) None
    else Some((p.getParent.toString, table))
  }

  /** Rewrite `dir` (a `<table>.parquet` directory) into
    * max(1, bytes/targetBytes) files. */
  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = 128L * 1024 * 1024): CompactionStats = {
    val (parent, table) = storeTable(dir).getOrElse(
      throw new IllegalArgumentException(s"compact: $dir is not a <table>.parquet directory"))
    val (bytes, before) = dirBytesAndFiles(spark, dir)
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val store = new graft.sync.ParquetStore(spark, parent)
    store.write(store.read(table).get.repartition(nFiles), table)
    val (_, after) = dirBytesAndFiles(spark, dir)
    CompactionStats(bytes, before, after)
  }
}
