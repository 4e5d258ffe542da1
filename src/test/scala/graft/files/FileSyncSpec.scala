package graft.files

import graft.SparkSpec

import java.nio.file.{Files, Path, Paths}

class FileSyncSpec extends SparkSpec {

  private def mkBucket(files: Map[String, String]): Path = {
    val dir = Files.createTempDirectory("graft_bucket")
    files.foreach { case (name, content) =>
      val p = dir.resolve(name)
      Files.createDirectories(p.getParent match { case null => dir; case par => par })
      Files.writeString(p, content)
    }
    dir
  }

  test("listFiles returns bucket-relative names, recursively") {
    val b = mkBucket(Map("a.txt" -> "1", "sub/b.txt" -> "2"))
    val names = FileSync.listFiles(spark, b.toString)
      .collect().map(_.getString(0)).toSet
    assert(names === Set("a.txt", "sub/b.txt"))
  }

  test("dry run counts the plan and copies nothing") {
    val src = mkBucket(Map("a" -> "1", "b" -> "2"))
    val dst = mkBucket(Map("a" -> "1"))
    val stats = FileSync.syncDir(spark, src.toString, dst.toString, dryRun = true)
    assert(stats === FileSync.SyncStats(2, 1, 1, dryRun = true))
    assert(!Files.exists(dst.resolve("b")))
  }

  test("sync copies only missing files, preserves nested paths, is idempotent") {
    val src = mkBucket(Map("a" -> "1", "sub/b" -> "22", "c" -> "3"))
    val dst = mkBucket(Map("a" -> "old-a-content"))
    val stats = FileSync.syncDir(spark, src.toString, dst.toString)
    assert(stats === FileSync.SyncStats(3, 2, 1, dryRun = false))
    assert(Files.readString(dst.resolve("sub/b")) === "22")
    // existence-only: the differing existing file is NOT re-copied (§2.4-2)
    assert(Files.readString(dst.resolve("a")) === "old-a-content")
    val again = FileSync.syncDir(spark, src.toString, dst.toString)
    assert(again === FileSync.SyncStats(3, 0, 3, dryRun = false))
  }

  test("compareContent re-copies a same-name file whose bytes changed (§2.4-2 opt-in)") {
    val src = mkBucket(Map("a" -> "same", "mod" -> "new bytes", "extra" -> "x"))
    val dst = mkBucket(Map("a" -> "same", "mod" -> "old bytes"))
    // existence-only plan is blind to the modification (reference parity)
    val byName = FileSync.syncDir(spark, src.toString, dst.toString, dryRun = true)
    assert(byName === FileSync.SyncStats(3, 1, 2, dryRun = true))
    // content mode sees it: identity is (name, md5(bytes))
    val byHash = FileSync.syncDir(spark, src.toString, dst.toString, compareContent = true)
    assert(byHash === FileSync.SyncStats(3, 2, 1, dryRun = false))
    assert(Files.readString(dst.resolve("mod")) === "new bytes")
    assert(Files.readString(dst.resolve("extra")) === "x")
    // idempotent once hashes agree
    val again = FileSync.syncDir(spark, src.toString, dst.toString, compareContent = true)
    assert(again === FileSync.SyncStats(3, 0, 3, dryRun = false))
  }

  test("listFilesWithHash carries md5 and an empty dir yields the hashed schema") {
    val b = mkBucket(Map("a.txt" -> "hello"))
    val rows = FileSync.listFilesWithHash(spark, b.toString).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[String]("name") === "a.txt")
    // md5("hello") — pins that the hash is over file BYTES, stable across runs
    assert(r.getAs[String]("hash") === "5d41402abc4b2a76b9719d911017c592")
    val missing = Files.createTempDirectory("graft_gone").resolve("nope")
    val empty = FileSync.listFilesWithHash(spark, missing.toString)
    assert(empty.columns.toSeq === Seq("name", "size", "hash"))
    assert(empty.count() === 0)
  }
}
