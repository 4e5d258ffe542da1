package graft.text

import graft.functions.WordPieceEncode
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WordPiece tokenizer training — the THIRD tokenizer family, completing
  * the set next to BPE ([[TextAnalysis.bpeTrain]], bottom-up count-argmax
  * merges) and unigram-LM ([[Unigram.unigramTrain]], top-down
  * likelihood-pruned pieces): WordPiece merges bottom-up like BPE but
  * selects each round's pair by the LIKELIHOOD-GAIN score
  * cnt(ab) / (cnt(a) · cnt(b)) — the pair whose fusion most increases a
  * unigram LM's corpus likelihood — and marks word-internal symbols with
  * the `##` continuation prefix (the BERT convention; "hugging" trains
  * toward [hug, ##ging], and apply-time matching distinguishes piece
  * positions for free).
  *
  * Determinism contract: the score is the SCALED INTEGER QUOTIENT
  * floor(cnt(ab) · 10^12 / (cnt(a) · cnt(b))), computed in decimal(38,0)
  * arithmetic (exact — no float anywhere; products stay under 10^38 for
  * any Long counts), with a total (score DESC, left, right) tie-break —
  * so the merge sequence is bit-reproducible on any cluster layout and
  * replayable by any engine with 128-bit integers. The quantization is
  * part of the trainer's CONTRACT (scores closer than 10^-12 tie to the
  * lexicographic rule), the same pinning discipline as unigram's
  * milli-log-probs; the graded reference ([[wordPieceTrainReference]])
  * implements the identical rule over BigInt.
  *
  * Scale shape (the [[TextAnalysis.bpeTrain]] q159 discipline): the
  * corpus is touched ONCE — the word-frequency table collapses it to
  * |vocab| weighted rows. Per round the maintained pair-count AND
  * symbol-count tables update by DELTA from the affected subset only
  * (words containing both parents; one scan emits pre-merge pairs and
  * symbols at sign −1 and post-merge at sign +1 — pair rows and symbol
  * rows share the aggregation with a NULL right key), the score argmax
  * joins pair counts against the two symbol counts via BROADCAST (the
  * symbol table is alphabet+merges-sized), and exactly one row reaches
  * the driver. Both maintained tables localCheckpoint per round with
  * eager block release ([[graft.Checkpoints]]) — a production ~30k-merge
  * train pays per round ∝ the winning pair's support, not a
  * |vocab|-sized recount. */
object WordPiece {

  /** The score quantum: scoreScaled = floor(cnt·Scale / (lcnt·rcnt)).
    * cnt <= min(lcnt, rcnt) bounds the quotient by Scale, so it always
    * fits a Long. */
  val ScoreScale: Long = 1000000000000L

  /** The BERT unknown-word token and per-word length cap. */
  val DefaultUnkToken: String = "[UNK]"
  val DefaultMaxInputChars: Int = 100

  /** One executed WordPiece merge: step index, the fused pair (right
    * carries its `##` when word-internal), the scaled integer score and
    * the pair's corpus-weighted count at selection time. */
  final case class WpMerge(step: Int, left: String, right: String,
                           scoreScaled: Long, cnt: Long)

  /** The symbolized word table WordPiece iterates over: [[TextAnalysis.bpeWordTable]]
    * with every word-internal symbol carrying the `##` prefix —
    * (__w, __c, __syms). */
  def wordTable(df: DataFrame, textCol: String): DataFrame =
    TextAnalysis.bpeWordTable(df, textCol)
      .withColumn("__syms", transform(col("__syms"),
        (s, i) => when(i === 0, s).otherwise(concat(lit("##"), s))))

  /** The fused symbol for a merge: right's continuation marker is
    * positional, not content — "hug" + "##ging" fuses to "hugging",
    * "##gi" + "##ng" to "##ging". */
  def fuse(left: String, right: String): String =
    left + right.stripPrefix("##")

  /** One WordPiece merge applied to a symbol array — the
    * [[TextAnalysis]] left-to-right non-overlapping fold with the `##`
    * strip on the fused value. Termination/non-overlap argument carries
    * over: the fused element is strictly longer than `left` (right
    * always has content past its marker), so it can never re-match
    * `left` within the pass. */
  private def mergeExpr(syms: Column, a: String, b: String): Column =
    aggregate(
      slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
      slice(syms, 1, 1),
      (acc, s) => when(element_at(acc, -1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(fuse(a, b)))))
        .otherwise(concat(acc, array(s))))

  /** One symbol array's signed pair AND symbol rows: adjacent pairs as
    * (left, right, sign), single symbols riding the same struct type
    * with a NULL right key. ONE definition feeds both the full count
    * ([[pairAndSymbolCounts]], sign +1) and the delta path's ± emission
    * — the struct schema and NULL-right convention must not drift
    * between the seed and the netting or unionByName breaks at analysis
    * time. */
  private def signedPairsAndSyms(syms: Column, sign: Int): Column = concat(
    when(size(syms) >= 2,
      transform(sequence(lit(1), size(syms) - 1),
        i => struct(element_at(syms, i).as("left"),
          element_at(syms, i + 1).as("right"),
          lit(sign.toLong).as("sign"))))
      .otherwise(array().cast("array<struct<left:string,right:string,sign:bigint>>")),
    transform(syms, s => struct(s.as("left"),
      lit(null).cast(StringType).as("right"),
      lit(sign.toLong).as("sign"))))

  /** Adjacent symbol-pair counts AND single-symbol counts of a word
    * table, in ONE pass: pair rows are (left, right, cnt); symbol rows
    * ride the same aggregation as (sym, NULL, cnt). Both are needed
    * every round (the score divides by the parents' symbol counts), so
    * they share the explode and the shuffle. */
  private def pairAndSymbolCounts(words: DataFrame): DataFrame =
    words.select(explode(signedPairsAndSyms(col("__syms"), 1)).as("__p"),
        col("__c"))
      .groupBy(col("__p.left").as("left"), col("__p.right").as("right"))
      .agg(sum(col("__p.sign") * col("__c")).cast(LongType).as("cnt"))

  /** The scored pair table: (left, right, cnt, score_scaled) — pair
    * counts joined against the two parents' symbol counts (broadcast:
    * the symbol table is alphabet+merges-sized), score as the exact
    * decimal(38,0) scaled quotient. */
  private def scored(counts: DataFrame): DataFrame = {
    val pairs = counts.filter(col("right").isNotNull)
    val syms = counts.filter(col("right").isNull)
      .select(col("left").as("__sym"), col("cnt").as("__scnt"))
    pairs
      .join(broadcast(syms), col("left") === col("__sym"))
      .withColumnRenamed("__scnt", "__lcnt").drop("__sym")
      .join(broadcast(syms), col("right") === col("__sym"))
      .withColumnRenamed("__scnt", "__rcnt").drop("__sym")
      // `div` = IntegralDivide: exact decimal(38,0) products, truncating
      // quotient (== floor for these non-negative operands), LongType out
      .withColumn("score_scaled", expr(
        s"cast(cnt as decimal(38,0)) * cast($ScoreScale as decimal(38,0)) " +
          "div (cast(__lcnt as decimal(38,0)) * cast(__rcnt as decimal(38,0)))"))
      .select(col("left"), col("right"), col("cnt"), col("score_scaled"))
  }

  /** Train a WordPiece merge list: `nMerges` rounds of (score argmax,
    * ONE row collected, (score DESC, left, right) tie-break) →
    * (left-to-right merge in every affected word) → (delta-update the
    * maintained pair+symbol counts). Returns the merge list and the
    * final symbolized word table; the apply-time vocabulary is
    * [[vocabulary]] over those. Stops early when no pair remains. */
  def wordPieceTrain(df: DataFrame, textCol: String,
                     nMerges: Int): (Seq[WpMerge], DataFrame) =
    trainLoop(df, textCol, nMerges, deltaRecount = true)

  /** [[wordPieceTrain]] with a full per-round recount — the independent
    * reference twin the delta path grades against (q181; the
    * bpeTrain/bpeTrainFullRecount q159 pairing). Prefer
    * [[wordPieceTrain]] everywhere else. */
  def wordPieceTrainFullRecount(df: DataFrame, textCol: String,
                                nMerges: Int): (Seq[WpMerge], DataFrame) =
    trainLoop(df, textCol, nMerges, deltaRecount = false)

  private def trainLoop(df: DataFrame, textCol: String, nMerges: Int,
                        deltaRecount: Boolean): (Seq[WpMerge], DataFrame) = {
    require(nMerges >= 1, s"wordPieceTrain: nMerges must be >= 1, got $nMerges")
    var words = wordTable(df, textCol).localCheckpoint()
    // maintained (left, right|NULL, cnt) table — exact at every round by
    // induction: seeded by one full count, then netted with the affected
    // subset's ± deltas; zero rows drop so a merged-away pair can never
    // win a phantom argmax
    var counts: DataFrame =
      if (deltaRecount) pairAndSymbolCounts(words).localCheckpoint() else null
    val merges = scala.collection.mutable.ArrayBuffer.empty[WpMerge]
    var step = 0
    var exhausted = false
    while (step < nMerges && !exhausted) {
      val top = scored(if (deltaRecount) counts else pairAndSymbolCounts(words))
        .orderBy(col("score_scaled").desc, col("left"), col("right"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        val (c, sc) = (top(0).getLong(2), top(0).getLong(3))
        val affected = array_contains(col("__syms"), a) &&
          array_contains(col("__syms"), b)
        val prev = words
        if (deltaRecount) {
          // ONE scan of the affected subset: pre-merge pairs AND symbols
          // at sign −1, post-merge at sign +1 (symbol rows with NULL
          // right share the aggregation), netted into the maintained
          // table — per-round cost ∝ the winning pair's support
          val deltas = words.filter(affected)
            .select(explode(concat(
              signedPairsAndSyms(col("__syms"), -1),
              signedPairsAndSyms(mergeExpr(col("__syms"), a, b), 1))).as("__p"),
              col("__c"))
            .groupBy(col("__p.left").as("left"), col("__p.right").as("right"))
            .agg(sum(col("__p.sign") * col("__c")).cast(LongType).as("cnt"))
            .filter(col("cnt") =!= 0L)
          val prevCounts = counts
          counts = counts.unionByName(deltas)
            .groupBy(col("left"), col("right"))
            .agg(sum(col("cnt")).cast(LongType).as("cnt"))
            .filter(col("cnt") =!= 0L)
            .localCheckpoint()
          graft.Checkpoints.release(prevCounts)
          words = words.withColumn("__syms",
              when(affected, mergeExpr(col("__syms"), a, b))
                .otherwise(col("__syms")))
            .localCheckpoint()
        } else {
          words = words.withColumn("__syms", mergeExpr(col("__syms"), a, b))
            .localCheckpoint()
        }
        graft.Checkpoints.release(prev)
        merges += WpMerge(step, a, b, sc, c)
        step += 1
      }
    }
    if (counts != null) graft.Checkpoints.release(counts)
    (merges.toSeq, words)
  }

  /** The apply-time vocabulary a train produces: the initial alphabet
    * (every single character plain AND `##`-marked, as seeded by
    * [[wordTable]] over this corpus) plus one fused symbol per merge —
    * sorted, deduplicated (a merge can re-create a string an earlier
    * merge already formed via a different split). This is the HF
    * convention: alphabet + merges.
    *
    * Recovered WITHOUT re-scanning the corpus (the trainers' "corpus is
    * touched once" contract): an initial symbol disappears from the word
    * table only by BEING a merge parent, so the initial alphabet is
    * exactly the single-content symbols among (final table symbols ∪
    * merge parents) — merges only ever create content length >= 2. The
    * distinct scan is over `finalWords`, the trainers' checkpointed
    * |vocab|-sized output. */
  def vocabulary(finalWords: DataFrame,
                 merges: Seq[WpMerge]): Seq[String] = {
    val finalSyms = finalWords
      .select(explode(col("__syms")).as("sym"))
      .distinct().collect().map(_.getString(0)).toSeq
    val parents = merges.flatMap(m => Seq(m.left, m.right))
    val alphabet = (finalSyms ++ parents)
      .filter(s => s.length - (if (s.startsWith("##")) 2 else 0) == 1)
    (alphabet ++ merges.sortBy(_.step).map(m => fuse(m.left, m.right)))
      .distinct.sorted
  }

  /** The graded brute-force reference ([[wordPieceTrain]]'s q181 twin,
    * the q150/q165 pattern): the IDENTICAL seed/argmax/merge loop over a
    * driver-side word-frequency array, sharing nothing with the
    * distributed path but [[fuse]] and the score rule (implemented over
    * BigInt — for non-negative operands BigInt's truncating quotient IS
    * the floor the decimal(38,0) path computes). Grading-only:
    * O(|vocab| · nMerges) on one thread. */
  def wordPieceTrainReference(wordFreqs: Seq[(String, Long)],
                              nMerges: Int): (Seq[WpMerge], Seq[(Vector[String], Long)]) = {
    var syms: Array[(Vector[String], Long)] = wordFreqs.toArray.map {
      case (w, c) => (w.zipWithIndex.map { case (ch, i) =>
        if (i == 0) ch.toString else "##" + ch }.toVector, c)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[WpMerge]
    var step = 0
    var continue = true
    while (continue && step < nMerges) {
      val pairCnt = scala.collection.mutable.Map.empty[(String, String), Long]
      val symCnt = scala.collection.mutable.Map.empty[String, Long]
      syms.foreach { case (v, c) =>
        v.foreach(s => symCnt(s) = symCnt.getOrElse(s, 0L) + c)
        v.indices.dropRight(1).foreach { i =>
          val k = (v(i), v(i + 1))
          pairCnt(k) = pairCnt.getOrElse(k, 0L) + c
        }
      }
      if (pairCnt.isEmpty) continue = false
      else {
        val scoredPairs = pairCnt.toSeq.map { case ((l, r), c) =>
          val q = (BigInt(c) * ScoreScale / (BigInt(symCnt(l)) * symCnt(r))).toLong
          (l, r, c, q)
        }
        val (a, b, c, q) = scoredPairs.minBy { case (l, r, _, s) => (-s, l, r) }
        merges += WpMerge(step, a, b, q, c)
        val fused = fuse(a, b)
        syms = syms.map { case (v, cc) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < v.length) {
            if (i + 1 < v.length && v(i) == a && v(i + 1) == b) { out += fused; i += 2 }
            else { out += v(i); i += 1 }
          }
          (out.result(), cc)
        }
        step += 1
      }
    }
    (merges.toSeq, syms.toSeq)
  }

  /** Independent driver-side greedy longest-match segmentation
    * (grading-only): the same all-or-nothing WordPiece walk as
    * [[graft.functions.WordPieceEncode]], reimplemented over plain
    * collections. */
  def encodeWordReference(w: String, vocab: Set[String], unkToken: String,
                          maxInputChars: Int): Seq[String] = {
    if (w.isEmpty) return Seq.empty
    if (w.length > maxInputChars) return Seq(unkToken)
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    while (start < w.length) {
      var end = w.length
      var found: String = null
      while (end > start && found == null) {
        val cand = (if (start == 0) "" else "##") + w.substring(start, end)
        if (vocab.contains(cand)) found = cand else end -= 1
      }
      if (found == null) return Seq(unkToken)
      buf += found
      start = end
    }
    buf.toSeq
  }

  /** Tokenize-and-WordPiece-encode: the APPLY side — text word-tokenizes
    * by the SAME [[TextAnalysis.tokens]] expression the trainer's word
    * table used, then each word segments greedily under the vocabulary
    * ([[graft.functions.WordPieceEncode]]): longest match first, `##`
    * continuation, whole-word [[DefaultUnkToken]] on any mid-word miss or when
    * the word exceeds `maxInputChars`. One narrow codegen'd pass — the
    * vocabulary rides as a reference object. */
  def wordPieceEncode(c: Column, vocab: Seq[String],
                      maxInputChars: Int = DefaultMaxInputChars): Column =
    WordPieceEncode(TextAnalysis.tokens(c), vocab, DefaultUnkToken, maxInputChars)
}
