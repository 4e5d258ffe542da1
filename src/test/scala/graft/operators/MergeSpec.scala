package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** O9 upsert algebra: upsert(base, delta) == last-writer-wins map union
  * (the relational meaning of INSERT .. ON CONFLICT DO UPDATE). */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  test("delta wins on key conflict; unmatched rows from both sides survive") {
    val base  = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val delta = Seq((2, "B"), (3, "C")).toDF("k", "v")
    val out = Merge.upsert(base, delta, Seq("k"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out === Map(1 -> "a", 2 -> "B", 3 -> "C"))
  }

  test("no-PK fallback upserts on all columns: insert-if-identical-row-absent") {
    val base  = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val delta = Seq((2, "b"), (3, "c")).toDF("k", "v")
    val out = Merge.upsert(base, delta, base.columns.toSeq).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(out === Set((1, "a"), (2, "b"), (3, "c")))
  }

  test("applyDeletes(upsert) drops keys absent from the source keys (§2.4-1)") {
    val base  = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val delta = Seq((3, "C"), (4, "D")).toDF("k", "v")
    // key 1 vanished upstream; 2 unchanged; 3 updated; 4 new
    val sourceKeys = Seq(2, 3, 4).toDF("k")
    val out = Merge.applyDeletes(Merge.upsert(base, delta, Seq("k")), sourceKeys, Seq("k"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out === Map(2 -> "b", 3 -> "C", 4 -> "D"))
  }

  test("applyDeletes(upsert) tolerates duplicate source keys (semi-join)") {
    val base  = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val delta = Seq.empty[(Int, String)].toDF("k", "v")
    val sourceKeys = Seq(2, 2, 2).toDF("k")
    val out = Merge.applyDeletes(Merge.upsert(base, delta, Seq("k")), sourceKeys, Seq("k"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out === Map(2 -> "b"))
  }

  test("upsert, upsertIfNewer and dedup keep the same null-swapped survivor") {
    // a raw xxhash64 skips NULL arguments, so these two rows hash alike
    // and arrival order would pick the survivor; the null-tagged
    // Checksum.rowHash tie-break must pick the same row however they arrive
    val rows = Seq[(Int, String, String)]((1, "x", null), (1, null, "x"))
    val base = rows.take(0).toDF("k", "a", "b")
    def survivor(delta: DataFrame): Seq[(Int, String, String)] = {
      val outs = Seq(
        Merge.upsert(base, delta, Seq("k")),
        Merge.upsertIfNewer(base, delta, Seq("k"), Seq("k")), // equal order values
        Merge.dedup(delta, Seq("k")))
        .map(_.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq)
      outs.foreach(o => assert(o === outs.head))
      assert(outs.head.size === 1)
      outs.head
    }
    val single = survivor(rows.toDF("k", "a", "b").repartition(1))
    val spread = survivor(rows.reverse.toDF("k", "a", "b").repartition(8))
    assert(spread === single)
  }

  test("upsertIfNewer: only fresher rows replace; stale deltas are ignored; ties go to delta") {
    val base  = Seq((1, 10L, "a"), (2, 10L, "b"), (3, 10L, "c")).toDF("k", "ts", "v")
    val delta = Seq((1, 20L, "A"), (2, 5L, "STALE"), (3, 10L, "TIE"), (4, 1L, "D"))
      .toDF("k", "ts", "v")
    val out = Merge.upsertIfNewer(base, delta, Seq("k"), Seq("ts"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out === Map(
      1 -> (20L, "A"),    // fresher delta wins
      2 -> (10L, "b"),    // stale delta ignored
      3 -> (10L, "TIE"),  // equal precedence: delta wins
      4 -> (1L, "D")))    // new key inserted
  }

  test("property: applying deltas in any order through upsertIfNewer converges") {
    val rowGen = Gen.listOf(Gen.zip(Gen.choose(0, 10), Gen.choose(0L, 50L)))
      .map(_.map { case (k, ts) => (k, ts, s"v$k-$ts") })
    val prop = Prop.forAll(rowGen, rowGen) { (b1: List[(Int, Long, String)], b2: List[(Int, Long, String)]) =>
      def apply(batches: Seq[List[(Int, Long, String)]]): Map[Int, Long] =
        batches.foldLeft(Seq.empty[(Int, Long, String)].toDF("k", "ts", "v")) {
          (acc, b) => Merge.upsertIfNewer(acc, b.toDF("k", "ts", "v"), Seq("k"), Seq("ts"))
        }.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      // the surviving timestamp per key is order-independent (the surviving
      // PAYLOAD on exact (k, ts) ties across batches legitimately differs —
      // last batch wins — so the property pins the precedence column)
      apply(Seq(b1, b2)) == apply(Seq(b2, b1))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: upsert == last-writer-wins map union") {
    val kvGen = Gen.mapOf(Gen.zip(Gen.choose(0, 30), Gen.alphaStr.map(_.take(5))))
    val prop = Prop.forAll(kvGen, kvGen) { (b: Map[Int, String], d: Map[Int, String]) =>
      val out = Merge.upsert(b.toSeq.toDF("k", "v"), d.toSeq.toDF("k", "v"), Seq("k"))
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      out == (b ++ d)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }
}
