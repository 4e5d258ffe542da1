package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, text: String) =
    Seq(text).toDF("t").select(c.as("v")).head

  test("tokens and counts") {
    val r = Seq("The quick  brown fox, fox!").toDF("t")
      .select(TextAnalysis.tokens($"t").as("ts"),
        TextAnalysis.tokenCount($"t").as("n"),
        TextAnalysis.punctCount($"t").as("p")).head
    assert(r.getSeq[String](0) === Seq("the", "quick", "brown", "fox", "fox"))
    assert(r.getLong(1) === 5L)
    assert(r.getLong(2) === 2L)
  }

  test("bpeish estimate: ceil(len/4)") {
    assert(one(TextAnalysis.bpeishTokenCount($"t"), "abcd").getLong(0) === 1L)
    assert(one(TextAnalysis.bpeishTokenCount($"t"), "abcde").getLong(0) === 2L)
  }

  test("quality gate: stopword soup fails, real text passes") {
    assert(one(TextAnalysis.qualityOk($"t"), "the data engine compiles queries fast").getLong(0) === 1L)
    assert(one(TextAnalysis.qualityOk($"t"), "the a of and to in is").getLong(0) === 0L)
    assert(one(TextAnalysis.qualityOk($"t"), "too short").getLong(0) === 0L)
  }

  test("langId classifies marker-heavy text; unk when no markers") {
    assert(one(TextAnalysis.langId($"t"), "the cat is on the mat and happy").getString(0) === "en")
    assert(one(TextAnalysis.langId($"t"), "der hund und die katze ist nicht da").getString(0) === "de")
    assert(one(TextAnalysis.langId($"t"), "el perro y la casa es de los gatos").getString(0) === "es")
    assert(one(TextAnalysis.langId($"t"), "le chien est une chose et les chats").getString(0) === "fr")
    assert(one(TextAnalysis.langId($"t"), "zzz qqq xxx").getString(0) === "unk")
  }

  test("fingerprint is whitespace- and case-invariant, content-sensitive") {
    val fp = (s: String) => one(TextAnalysis.fingerprintMd5($"t"), s).getString(0)
    assert(fp("Hello  World") === fp("hello world"))
    assert(fp("hello world") !== fp("hello worlds"))
  }

  test("chunked: overlapping token windows; short docs one chunk; empty none") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                   // < chunkSize -> 1 chunk
      (3L, ""))                                        // no tokens -> no rows
      .toDF("doc_id", "text")
    // chunkSize 4, overlap 2 -> step 2 -> ceil((10-2)/2) = 4 chunks for doc 1
    val out = TextAnalysis.chunked(docs, "doc_id", "text", chunkSize = 4, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(out.keys.count(_._1 == 1L) === 4)
    assert(out((1L, 0L)) === "t1 t2 t3 t4")
    assert(out((1L, 1L)) === "t3 t4 t5 t6")     // 2-token overlap with chunk 0
    assert(out((1L, 3L)) === "t7 t8 t9 t10")
    assert(out((2L, 0L)) === "a b c")
    assert(!out.keys.exists(_._1 == 3L))
    // every token appears in some chunk (no coverage gap)
    val covered = out.collect { case ((1L, _), s) => s.split(" ") }.flatten.toSet
    assert(covered === (1 to 10).map(i => s"t$i").toSet)
  }

  test("ngram counts: total vs distinct expose repetition") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "a b a b a b"),       // 5 bigrams, 2 distinct -> repetitive
      (2L, "a b c d e f"),       // 5 bigrams, all distinct
      (3L, "solo"),              // no bigram
      (4L, ""),
      (5L, null.asInstanceOf[String])) // NULL counts 0 — legacy sizeOfNull
      .toDF("doc_id", "text")            // would leak -1 through a coalesce
    val out = df.select(col("doc_id"),
        TextAnalysis.ngramCount(col("text"), 2).as("n"),
        TextAnalysis.distinctNgramCount(col("text"), 2).as("d"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === ((5L, 2L)))
    assert(out(2L) === ((5L, 5L)))
    assert(out(3L) === ((0L, 0L)))
    assert(out(4L) === ((0L, 0L)))
    assert(out(5L) === ((0L, 0L)))
  }

  test("packedSpans: concat-and-cut spans with per-group running offsets") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "g", "a b c"),        // 3 tokens, start 0, wins 0-0
      (2L, "g", "d e f g h"),    // 5 tokens, start 3, wins 0-1 (W=4)
      (3L, "g", ""),             // empty: occupies nothing at start 8
      (4L, "g", "i j"),          // start 8, wins 2-2
      (9L, "h", "x y z w v u")). // other group restarts at 0, wins 0-1
      toDF("doc_id", "src", "text")
    val out = TextAnalysis.packedSpans(docs, Seq("src"), "doc_id", "text", windowSize = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("start_tok"), r.getAs[Long]("first_win"), r.getAs[Long]("last_win"))).toMap
    assert(out(1L) === ((0L, 0L, 0L)))
    assert(out(2L) === ((3L, 0L, 1L)))
    assert(out(3L) === ((8L, 2L, 2L)))
    assert(out(4L) === ((8L, 2L, 2L)))
    assert(out(9L) === ((0L, 0L, 1L)))
  }

  test("packedWindows: materialized windows with stream order, remainder, provenance") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "g", "a b c"),        // start 0
      (2L, "g", "d e f g h"),    // start 3 — crosses the W=4 boundary
      (3L, "g", ""),             // empty: no tokens, no provenance
      (4L, "g", "i j"),          // start 8
      (9L, "h", "x y z w v")).   // other group, remainder window of 1
      toDF("doc_id", "src", "text")
    val out = TextAnalysis.packedWindows(docs, Seq("src"), "doc_id", "text",
        windowSize = 4)
      .collect().map(r => (r.getAs[String]("src"), r.getAs[Long]("win_id")) ->
        ((r.getAs[String]("window_text"), r.getAs[String]("doc_spans"),
          r.getAs[Long]("n_tokens"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("first_doc"), r.getAs[Long]("last_doc")))).toMap
    // doc_spans = doc:start-in-window:len per document, stream order —
    // the attention/loss-mask boundaries
    assert(out(("g", 0L)) === (("a b c d", "1:0:3|2:3:1", 4L, 2L, 1L, 2L)))
    assert(out(("g", 1L)) === (("e f g h", "2:0:4", 4L, 1L, 2L, 2L)))
    assert(out(("g", 2L)) === (("i j", "4:0:2", 2L, 1L, 4L, 4L)))   // doc 3 absent
    assert(out(("h", 0L)) === (("x y z w", "9:0:4", 4L, 1L, 9L, 9L)))
    assert(out(("h", 1L)) === (("v", "9:0:1", 1L, 1L, 9L, 9L)))      // remainder
    assert(out.size === 5)
    // windows tile: per group, total tokens == sum of window sizes and
    // every non-final window is exactly full
    intercept[IllegalArgumentException] {
      TextAnalysis.packedWindows(docs, Seq.empty, "doc_id", "text", 4)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.packedWindows(docs, Seq("src"), "win_id", "text", 4)
    }
    // the bucket-decomposed cumsum packs identically (bucket width 2 splits
    // group g's stream across buckets mid-window, exercising the offsets)
    val bucketed = TextAnalysis.packedWindows(docs, Seq("src"), "doc_id",
        "text", windowSize = 4,
        bucket = Some(org.apache.spark.sql.functions.expr("doc_id div 2")))
      .collect().map(r => (r.getAs[String]("src"), r.getAs[Long]("win_id")) ->
        ((r.getAs[String]("window_text"), r.getAs[String]("doc_spans"),
          r.getAs[Long]("n_tokens"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("first_doc"), r.getAs[Long]("last_doc")))).toMap
    assert(bucketed === out)
  }

  test("packedSpans property: spans tile each group's stream without gaps") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(3)
    val docs = (0L until 60L).map { i =>
      (i, s"g${i % 3}", Seq.fill(rnd.nextInt(7))("w").mkString(" "))
    }.toDF("doc_id", "src", "text")
    val out = TextAnalysis.packedSpans(docs, Seq("src"), "doc_id", "text", windowSize = 5)
      .collect().map(r => (r.getAs[String]("src"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tok"), r.getAs[Long]("start_tok")))
    out.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.head._4 === 0L)
      sorted.toList.sliding(2).foreach {
        case List((_, _, n, s0), (_, _, _, s1)) => assert(s1 === s0 + n) // no gap, no overlap
        case _ =>
      }
    }
  }

  test("property: bpePairCounts equals the brute-force pair count on random corpora") {
    val rnd = new scala.util.Random(13)
    val alphabet = "abcde"
    val docs = (0 until 40).map { _ =>
      (0 until rnd.nextInt(8)).map(_ =>
        (0 until (1 + rnd.nextInt(5))).map(_ => alphabet(rnd.nextInt(5))).mkString
      ).mkString(" ")
    }
    val got = TextAnalysis.bpePairCounts(docs.toDF("text"), "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = docs.flatMap(_.split(" ").filter(_.nonEmpty))
      .flatMap(w => w.sliding(2).filter(_.length == 2))
      .groupBy(identity).map { case (p, occ) => p -> occ.size.toLong }
    assert(got === want)
  }

  test("bpePairCounts: hand-counted pairs, frequency-weighted, 1-char words skipped") {
    // "ababa ababa cd x": ababa x2 -> ab x2/word = 4, ba x2/word = 4;
    // cd x1 -> cd 1; "x" has no pairs
    val df = Seq("ababa ababa cd", "x ababa").toDF("text")
    val got = TextAnalysis.bpePairCounts(df, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("ab" -> 6L, "ba" -> 6L, "cd" -> 1L))
  }

  test("bpeTrain: hand-traced merges, early exhaustion, final symbol table") {
    // wf: ab x2, ac x1 -> pairs (a,b)=2, (a,c)=1: merge 0 fuses (a,b);
    // only (a,c)=1 remains: merge 1 fuses it; then NO pair remains, the
    // loop stops early at 2 of the 5 requested merges
    val df = Seq("ab ab ac").toDF("text")
    val (merges, words) = TextAnalysis.bpeTrain(df, "text", nMerges = 5)
    assert(merges === Seq(
      TextAnalysis.BpeMerge(0, "a", "b", 2L),
      TextAnalysis.BpeMerge(1, "a", "c", 1L)))
    val syms = words.select("__w", "__syms").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(syms === Map("ab" -> Seq("ab"), "ac" -> Seq("ac")))
  }

  test("bpeTrain: left-to-right non-overlapping merge (aaa -> [aa, a])") {
    // "aaaa aaa": pair (a,a) counts 3+2=5; the greedy pass gives
    // aaaa -> [aa, aa], aaa -> [aa, a]; round 2's top pair is then
    // (aa, aa)=1 vs (aa, a)=1 -> (aa, a) wins the (left, right) tie-break
    val df = Seq("aaaa aaa").toDF("text")
    val (merges, words) = TextAnalysis.bpeTrain(df, "text", nMerges = 2)
    assert(merges.head === TextAnalysis.BpeMerge(0, "a", "a", 5L))
    assert(merges(1) === TextAnalysis.BpeMerge(1, "aa", "a", 1L))
    val syms = words.select("__w", "__syms").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(syms === Map("aaaa" -> Seq("aa", "aa"), "aaa" -> Seq("aaa")))
  }

  test("bpeTrain: count-tie broken by (left, right) ascending") {
    // (a,b)=1 and (b,a)=1 tie on count; (a,b) sorts first
    val df = Seq("ab ba").toDF("text")
    val (merges, _) = TextAnalysis.bpeTrain(df, "text", nMerges = 1)
    assert(merges === Seq(TextAnalysis.BpeMerge(0, "a", "b", 1L)))
  }

  test("property: bpeTrain matches a brute-force BPE on random corpora") {
    val rnd = new scala.util.Random(29)
    val alphabet = "abc"
    val docs = (0 until 30).map { _ =>
      (0 until (1 + rnd.nextInt(6))).map(_ =>
        (0 until (1 + rnd.nextInt(6))).map(_ => alphabet(rnd.nextInt(3))).mkString
      ).mkString(" ")
    }
    val (merges, words) = TextAnalysis.bpeTrain(docs.toDF("text"), "text", 4)
    // reference: greedy BPE over the word-frequency map
    var ref = docs.flatMap(_.split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, o) => (w.map(_.toString).toVector, o.size.toLong) }
      .toVector
    val refMerges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var halt = false
    while (!halt && refMerges.size < 4) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      ref.foreach { case (v, c) => v.indices.dropRight(1).foreach { i =>
        counts((v(i), v(i + 1))) = counts.getOrElse((v(i), v(i + 1)), 0L) + c } }
      if (counts.isEmpty) halt = true
      else {
        val ((a, b), c) = counts.minBy { case ((l, r), n) => (-n, l, r) }
        refMerges += ((a, b, c))
        ref = ref.map { case (v, cc) =>
          val out = Vector.newBuilder[String]; var i = 0
          while (i < v.length) {
            if (i + 1 < v.length && v(i) == a && v(i + 1) == b) { out += a + b; i += 2 }
            else { out += v(i); i += 1 }
          }
          (out.result(), cc)
        }
      }
    }
    assert(merges.map(m => (m.left, m.right, m.cnt)) === refMerges.toSeq)
    val got = words.select("__syms").collect().map(_.getSeq[String](0).mkString("|")).sorted
    assert(got === ref.map(_._1.mkString("|")).sorted.toArray)
  }

  test("bpeTrain: delta-recount matches the full per-round recount") {
    // the two independent count strategies (maintained ± deltas vs a
    // fresh full count each round) must produce the identical merge
    // sequence — counts included — and the identical final word table,
    // over enough rounds for a delta error to compound visibly
    val rnd = new scala.util.Random(31)
    val alphabet = "abcd"
    val docs = (0 until 40).map { _ =>
      (0 until (1 + rnd.nextInt(5))).map(_ =>
        (0 until (1 + rnd.nextInt(7))).map(_ => alphabet(rnd.nextInt(4))).mkString
      ).mkString(" ")
    }
    val df = docs.toDF("text")
    val (dm, dw) = TextAnalysis.bpeTrain(df, "text", 8)
    val (fm, fw) = TextAnalysis.bpeTrainFullRecount(df, "text", 8)
    assert(dm === fm)
    def table(w: org.apache.spark.sql.DataFrame) =
      w.select("__w", "__syms").collect()
        .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(table(dw) === table(fw))
  }

  test("byteBpeTrain: merges fuse byte units of multi-byte chars, hand-traced") {
    // 'éé' is UTF-8 C3 A9 C3 A9 -> units Ã © Ã ©; corpus 'éé éé é':
    // pairs (Ã,©)=5, (©,Ã)=2 -> merge 0 fuses (Ã,©) [count 5]; then
    // (Ã©,Ã©)=2 vs (Ã©)x1-word has no pair -> merge 1 fuses (Ã©,Ã©) [2]
    val df = Seq("éé éé é").toDF("text")
    val (merges, words) = TextAnalysis.byteBpeTrain(df, "text", nMerges = 2)
    assert(merges === Seq(
      TextAnalysis.BpeMerge(0, "Ã", "©", 5L),
      TextAnalysis.BpeMerge(1, "Ã©", "Ã©", 2L)))
    val syms = words.select("__w", "__syms").collect()
      .map(r => graft.functions.ByteUnits.unitsToText(r.getString(0)) ->
        r.getSeq[String](1)).toMap
    assert(syms === Map(
      "éé" -> Seq("Ã©Ã©"),
      "é" -> Seq("Ã©")))
  }

  test("byteBpeEncode: train/apply parity and lossless round-trip, emoji included") {
    val docs = Seq("café naïve übermaß", "€99 ok😂 café café",
      "plain ascii words", "naïve café 😂😂").toDF("text")
    val (merges, trained) = TextAnalysis.byteBpeTrainFullRecount(docs, "text", 6)
    assert(merges.size === 6)
    // apply reproduces the trained table's final symbols for every word
    val want = trained.select("__w", "__syms").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).mkString(" ")).toMap
    val got = docs.select(explode(
        TextAnalysis.byteUnitWords(col("text"))).as("__w")).distinct()
      .select(col("__w"), concat_ws(" ", graft.functions.BpeApply(
        array(col("__w")), merges.map(m => (m.left, m.right)))).as("ap"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === want)
    // pieces concatenate to the unit mapping of the despaced text: no
    // byte of any document is ever lost (the no-OOV guarantee)
    val bad = docs.select(
        concat_ws("", TextAnalysis.byteBpeEncode(col("text"), merges)).as("enc"),
        graft.functions.ByteUnits(regexp_replace(col("text"), "\\s+", "")).as("ref"))
      .filter(col("enc") =!= col("ref")).count()
    assert(bad === 0L)
  }

  test("dataCard: per-group integer datasheet, zero-token docs still count as docs") {
    val docs = Seq(
      ("a", 1L, "the cat the dog"),   // 4 tokens, 3 distinct
      ("a", 2L, ""),                  // zero tokens, still a doc
      ("b", 3L, "x y z"))
      .toDF("source", "doc_id", "text")
    val got = TextAnalysis.dataCard(docs, "source", "doc_id", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // a: 2 docs, 4 tokens, 3 distinct, mean 2000 milli, ttr 750 pm
    assert(got === Map(
      "a" -> ((2L, 4L, 3L, 2000L, 750L)),
      "b" -> ((1L, 3L, 3L, 3000L, 1000L))))
  }

  test("sentences: terminator runs attach, whitespace-only segments drop with index skipped") {
    import spark.implicits._
    val df = Seq(
      (1L, "Wait... ok. Done!"),
      (2L, "no terminator"),
      (3L, "a.   "),       // trailing whitespace-only segment drops
      (4L, "...lead. x")).toDF("id", "t")
    val got = TextAnalysis.sentences(df, "id", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(got.filter(_._1 == 1L).map(x => (x._2, x._3)).toSeq ===
      Seq((0L, "Wait..."), (1L, "ok."), (2L, "Done!")))
    assert(got.filter(_._1 == 2L).map(x => (x._2, x._3)).toSeq ===
      Seq((0L, "no terminator")))
    // id 3: segment 1 is "   " -> dropped, index 1 skipped (not renumbered)
    assert(got.filter(_._1 == 3L).map(x => (x._2, x._3)).toSeq === Seq((0L, "a.")))
    // id 4: the string-LEADING bare terminator run is lost by contract
    assert(got.filter(_._1 == 4L).map(x => (x._2, x._3)).toSeq ===
      Seq((0L, "lead."), (1L, "x")))
    // n_chars matches the trimmed sentence
    assert(got.forall { case (_, _, sent, n) => n == sent.length.toLong })
  }
}
