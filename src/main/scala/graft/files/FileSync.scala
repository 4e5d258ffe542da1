package graft.files

import graft.operators.SetOps
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** O14-O16, O18 — file/blob-set synchronization (reference:
  * db-sync-gcp/gcs_sync.py): list both "buckets", copy `source − dest` in
  * sorted order, count total/new/existing; dry-run plans without side
  * effects.
  *
  * The reference holds both name sets in Python memory and copies serially.
  * Here listings are DataFrames (set algebra = anti/semi joins) and copies
  * are issued from executor partitions — at object-store scale nothing is
  * driver-resident and copies are parallel per partition. Existence-only
  * comparison is intentional parity (the reference's README claims MD5 but
  * never reads a hash — SURVEY §2.4-2).
  */
object FileSync {

  case class SyncStats(totalFiles: Long, newFiles: Long, existingFiles: Long, dryRun: Boolean)

  /** O14 — recursive listing as a DataFrame of bucket-relative names.
    * binaryFile source with the content column pruned: Spark plans a
    * metadata-only, partition-parallel listing scan. */
  def listFiles(spark: SparkSession, dir: String): DataFrame =
    listing(spark, dir, withHash = false)

  /** O14 content variant — listing plus an md5 of each file's bytes, for
    * the opt-in name-and-hash comparison (SURVEY §2.4-2: the reference's
    * README promises MD5 comparison but gcs_sync.py:36-47 only ever
    * compares names, so modified files are never re-copied). Reads every
    * byte of the tree — O(bytes) vs listFiles' O(names) — which is exactly
    * why it is opt-in; production object stores expose stored checksums
    * (GCS md5Hash, S3 ETag) that make this a metadata read there. */
  def listFilesWithHash(spark: SparkSession, dir: String): DataFrame =
    listing(spark, dir, withHash = true)

  private def listing(spark: SparkSession, dir: String, withHash: Boolean): DataFrame = {
    import org.apache.spark.sql.types._
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(p).toString
    if (!fs.exists(p)) {
      val fields = Seq(StructField("name", StringType), StructField("size", LongType)) ++
        (if (withHash) Seq(StructField("hash", StringType)) else Nil)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], StructType(fields))
    }
    val raw = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(dir)
    val cols = Seq(
      expr(s"substring(path, ${base.length + 2})").as("name"),
      col("length").as("size")) ++
      (if (withHash) Seq(md5(col("content")).as("hash")) else Nil)
    raw.select(cols: _*)
  }

  /** O15 — the copy plan: (files to copy, files already present). With
    * `compareContent`, identity is (name, hash): a same-name file whose
    * bytes changed lands in toCopy (and the overwrite in syncDir refreshes
    * it); existence-only compares names, reference parity. */
  def plan(src: DataFrame, dst: DataFrame,
           compareContent: Boolean = false): (DataFrame, DataFrame) = {
    val keys = if (compareContent) Seq("name", "hash") else Seq("name")
    (SetOps.difference(src.select(keys.map(col): _*), dst.select(keys.map(col): _*), keys),
     SetOps.intersection(src.select(keys.map(col): _*), dst.select(keys.map(col): _*), keys))
  }

  /** O16 — ordered, side-effecting copy; dry-run counts without copying
    * (gcs_sync.py:50-62). Copies run per-partition on executors via
    * Hadoop FileUtil (the local analog of a server-side blob copy). */
  def syncDir(spark: SparkSession, srcDir: String, dstDir: String,
              dryRun: Boolean = false, compareContent: Boolean = false): SyncStats = {
    val list: (SparkSession, String) => DataFrame =
      if (compareContent) listFilesWithHash else listFiles
    // the plan below drives several actions (counts + the copy) over each
    // listing; in content mode every recompute would re-read and re-hash
    // EVERY byte of the tree, so the (metadata-sized) hash listing is
    // materialized once — O(bytes) exactly once per tree, the operator's
    // documented cost. The existence-only listing stays lazy: re-listing
    // names is O(names) and not worth a checkpoint.
    def once(df: DataFrame): DataFrame =
      if (compareContent) df.localCheckpoint() else df
    val src = once(list(spark, srcDir))
    val dst = once(list(spark, dstDir))
    val (toCopy, existing) = plan(src, dst, compareContent)
    val total = src.count()
    val nExisting = existing.count()
    val ordered = SetOps.ordered(toCopy, Seq("name"))
    // newFiles = the plan's own count in BOTH modes — deriving it from a
    // post-copy destination re-list would overcount whenever dest holds
    // files absent from source (or is written concurrently).
    val nNew = ordered.count()
    if (!dryRun) {
      val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      ordered.select("name").foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val conf = hadoopConf.value
        it.foreach { r =>
          val name = r.getString(0)
          val from = new Path(s"$srcDir/$name")
          val to = new Path(s"$dstDir/$name")
          val fsFrom = from.getFileSystem(conf)
          val fsTo = to.getFileSystem(conf)
          fsTo.mkdirs(to.getParent)
          FileUtil.copy(fsFrom, from, fsTo, to, false, true, conf)
        }
      }
    }
    SyncStats(total, nNew, nExisting, dryRun)
  }
}
