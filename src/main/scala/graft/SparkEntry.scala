package graft

import graft.dedup.{Decontaminate, Dedup}
import graft.functions.Normalize
import graft.multimodal.Multimodal
import graft.operators._
import graft.similarity.Similarity
import graft.streaming.IncrementalStream
import graft.text.{Classifier, NgramStats, Scrub, TextAnalysis, Unigram, WordPiece}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Driver contract — one entry per implemented operator from SURVEY.md §2.
  *
  * Every query is a real DataFrame pipeline through the graft.operators /
  * graft.dedup / graft.similarity / graft.text / graft.streaming library
  * (never a `spark.sql(oracle)` passthrough), totally
  * ordered for stable hashing, with output column names aliased identically
  * in the Spark code and the DuckDB oracle SQL.
  */
object SparkEntry {

  /** One graded query: the DuckDB SQL the driver grades it against, next
    * to the Spark pipeline that builds it from a table directory. */
  private[graft] final case class Query(name: String, oracle: String,
      build: (SparkSession, String) => DataFrame)

  /** `qs` in order, once their names are known to be distinct (a `Map`
    * literal would keep the last of two equal keys without a word). */
  private[graft] def catalog(qs: Query*): Seq[Query] = {
    val dup = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"duplicate query names: ${dup.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** The oracle of an invariant query: the query checks its own contract
    * and returns one `violations` row, which must read 0. */
  private[graft] val InvariantOracleSql = "SELECT CAST(0 AS BIGINT) AS violations"

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** [[t]] + [[Tables.fanOut]]: the scale-adaptive exchange for lambdas
    * whose per-row work (regex extraction, tokenizer encodes, container
    * walking) dominates a sub-split-sized scan — without it the whole
    * pipeline fuses into the scan's ONE task (see fanOut's scaladoc;
    * OPTIMIZATION_r18.md has the per-query before/after evidence). Only
    * the heavy per-row lambdas use it: for cheap projections/aggregates
    * the exchange costs more than the single-task stage it spreads. */
  private def tw(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.fanOut(t(s, dir, name))

  /** Session-timezone (UTC) timestamp literal — avoids JVM-default-tz skew
    * that `java.sql.Timestamp.valueOf` would introduce. */
  private def ts(s: String) = to_timestamp(lit(s))

  /** Invariant-query violation counter: #rows matching `bad`, plus 1 when
    * the input is EMPTY — an empty decode/parity table must FAIL its gate,
    * and `sum` over zero rows is NULL (not 0), which would otherwise
    * poison the whole expression to NULL instead of tripping the guard. */
  private def violations(bad: Column): Column =
    (coalesce(sum(when(bad, 1L).otherwise(0L)), lit(0L))
      + when(count(lit(1)) === 0L, 1L).otherwise(0L)).as("violations")

  /** Shared q109/q111 fuzzy-match corpus: the document vocabulary plus a
    * planted first-char-dropped misspelling of every word of length >= 4.
    * ONE definition so the two graded queries (and both DuckDB oracles'
    * identical corpus CTE) cannot drift apart. */
  private def fuzzyCorpus(s: SparkSession, dir: String): DataFrame = {
    val vocab = t(s, dir, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("w")).distinct()
    vocab.unionByName(
        vocab.filter(length(col("w")) >= 4).select(substring(col("w"), 2, 1000000).as("w")))
      .distinct()
  }

  /** Shared q222/q223 snapshot triple over `orders` — ONE definition so
    * the history query and the time-travel query (and both oracles'
    * identical CTEs) cannot drift apart. v2 plants removals (%97),
    * changes (%89) and additions (+1e8 on %101); v3 plants removals
    * (%103), broad changes (%7) and REAPPEARANCES (v2-removed keys with
    * %3, at a new value) — every SCD2 change class fires. */
  private def scdSnapshots(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val s1 = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
      round(col("o_totalprice") * 100).cast(LongType).as("cents"))
    val s2 = s1.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("cents",
        when(col("o_orderkey") % 89 === 0, col("cents") + 1).otherwise(col("cents")))
      .unionByName(s1.filter(col("o_orderkey") % 101 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_custkey"), col("cents")))
    val s3 = s2.filter(col("o_orderkey") % 103 =!= 0)
      .withColumn("cents",
        when(col("o_orderkey") % 7 === 0, col("cents") + 2).otherwise(col("cents")))
      .unionByName(s1.filter(col("o_orderkey") % 97 === 0 && col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey"), (col("cents") + 5).as("cents")))
    (s1, s2, s3)
  }

  /** The q208 pinned byte-BPE merge list — training-run constants (the
    * UnigramPinned convention): each merge provably fires on the
    * byte-planted corpus (Ã+© is é's two byte units — café/résumé; the
    * f+Ã© chain consumes a PRIOR merge's output; a+i / t+ai / l+ai fire
    * in tail/plain), so the gate-vs-batch parity is never vacuous. */
  private val BytePinnedMerges: Seq[(Int, String, String)] = Seq(
    (0, "Ã", "©"), (1, "f", "Ã©"),
    (2, "a", "i"), (3, "t", "ai"), (4, "l", "ai"))

  /** The q166 pinned unigram piece table (piece -> integer milli-log-prob)
    * — hand-set scores, IDENTICAL literals in the DuckDB oracle's CASE, so
    * the graded quantity is the Viterbi DP itself, not a cross-engine ln()
    * (the q157 literal-merges pattern). Plants: t+h == th and th+e == the
    * (the tie chain — longer must win both steps), er/an strictly beating
    * their letter sums, ta strictly losing to t+a, and the corpus letters
    * b c d j k q y OMITTED so the UNK single-char floor is exercised on
    * real data. */
  private val UnigramPinned: Seq[(String, Long)] = Seq(
    "a" -> -3500L, "e" -> -4000L, "h" -> -4000L, "i" -> -4200L,
    "l" -> -4100L, "m" -> -4500L, "n" -> -3800L, "o" -> -3900L,
    "r" -> -3600L, "s" -> -3300L, "t" -> -3000L, "u" -> -4800L,
    "v" -> -5200L, "w" -> -5000L, "f" -> -4600L, "g" -> -4700L,
    "p" -> -4400L,
    "th" -> -7000L, "the" -> -11000L, "an" -> -7300L, "er" -> -7500L,
    "or" -> -7400L, "ar" -> -7100L, "in" -> -7900L, "on" -> -7600L,
    "st" -> -6200L, "ta" -> -6700L, "me" -> -8000L, "sm" -> -7900L,
    "al" -> -7300L, "ine" -> -11500L, "tch" -> -10500L).map(p => (p._1, p._2))

  /** The q179 line-dedup oracle, shared verbatim with the q183 streaming
    * line-index ingest: the identical planted multi-line corpus
    * ([[linePlanted]]'s concat mirrored), occurrence counts over the
    * whole corpus, >maxDf lines dropped retroactively, docs reassembled
    * by position with per-doc audit counts. `where` restricts the base
    * corpus — q194 grades a post-takedown index serve against the
    * from-scratch build over exactly the surviving documents. */
  private def lineDedupOracleSqlOver(where: String): String =
    s"""WITH planted AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN 'SUBSCRIBE TO OUR NEWSLETTER' || chr(10) ELSE '' END
      |    || replace(coalesce(text, ''), 'merge', chr(10))
      |    || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'COPYRIGHT 2026 EXAMPLE CORP' ELSE '' END
      |    || chr(10) || 'unique tail ' || doc_id AS text
      |  FROM documents$where),
      |ls AS (
      |  SELECT doc_id,
      |    unnest(string_split(text, chr(10))) AS line,
      |    generate_subscripts(string_split(text, chr(10)), 1) AS pos
      |  FROM planted),
      |hot AS (SELECT line FROM ls GROUP BY line HAVING count(*) > 2)
      |SELECT l.doc_id,
      |  coalesce(string_agg(CASE WHEN h.line IS NULL THEN l.line END, chr(10) ORDER BY l.pos), '') AS text_clean,
      |  count(*) FILTER (WHERE h.line IS NULL) AS n_kept,
      |  count(*) FILTER (WHERE h.line IS NOT NULL) AS n_dropped
      |FROM ls l LEFT JOIN hot h ON l.line = h.line
      |GROUP BY l.doc_id
      |ORDER BY l.doc_id""".stripMargin

  private lazy val LineDedupOracleSql: String = lineDedupOracleSqlOver("")

  /** The q180/q182 pinned WordPiece vocabulary over the [a-z0-9] corpus —
    * hand-set so every greedy-matching branch fires on real data (the
    * UnigramPinned discipline): full-word matches (scan, the, merge,
    * group — each also covered by shorter prefixes the longest-first
    * rule must skip), multi-piece splits (batch → ba ##tch, stream → st
    * ##ream), an UNK by missing continuation (row → ro then ##w absent),
    * the NO-BACKTRACK trap (dup → greedy takes 'du', then ##p is absent
    * and the whole word UNKs even though d + ##up would cover — the
    * canonical WordPiece failure mode, reproduced by construction in
    * both engines), and an UNK by the length cap (customer, 8 chars,
    * over [[WordPieceCap]] = 7). */
  private val WordPiecePinned: Seq[String] = Seq(
    // plain singles ('w' deliberately absent: a word-START miss is only
    // reachable for w-initial words; 'wi' below keeps window alive)
    "a", "b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "o", "p",
    "q", "r", "s", "t", "v",
    // plain multis — longest-first exercised at word starts
    "sc", "scan", "st", "th", "the", "ta", "tab", "da", "cus", "val",
    "mer", "merge", "gro", "group", "fil", "que", "jo", "ke", "li",
    "or", "pa", "part", "ro", "sl", "sm", "ag", "agg", "bi", "big",
    "ba", "du", "col", "ha", "fa", "sp", "ve", "wi",
    // continuation singles (##p and ##w deliberately absent — the dup
    // trap and the row miss)
    "##a", "##b", "##c", "##d", "##e", "##g", "##h", "##i", "##k",
    "##l", "##m", "##n", "##o", "##r", "##s", "##t", "##u", "##v", "##y",
    // continuation multis
    "##an", "##tch", "##er", "##ter", "##am", "##ream", "##ble", "##le",
    "##ue", "##ry", "##in", "##ine", "##ow", "##mall", "##all", "##ark",
    "##up", "##umn", "##rt", "##ort")

  /** q180/q182's per-word length cap: 7 puts the corpus' one 8-char word
    * (customer) over the limit, so the cap branch grades on real data. */
  private val WordPieceCap = 7

  /** The q180 greedy-walk oracle, shared verbatim with the q182
    * streaming gate: per word, a DuckDB list_reduce walk carrying
    * (position, pieces, bad) — at each step the LONGEST vocabulary match
    * (## prefixed when word-internal) is taken via
    * list_max(list_filter(...)), a miss marks the word bad, and bad or
    * over-cap words collapse to one [UNK]. The vocabulary literal is
    * GENERATED from [[WordPiecePinned]] so the two engines cannot
    * drift. */
  private lazy val WordPieceEncodeOracleSql: String = {
    val vocabSql = "[" + WordPiecePinned.map(p => s"'$p'").mkString(", ") + "]"
    // the accumulator is a LIST of walk states with the current state at
    // its tail (the q166 pattern) — DuckDB's list_reduce drops list
    // fields across iterations when the accumulator is a bare struct
    val lst = "acc[CAST(len(acc) AS INT)]"
    val pref = s"CASE WHEN $lst.s = 0 THEN '' ELSE '##' END"
    // the longest in-vocab candidate length at the current position
    // (NULL when none matches); inlined at each use site — generated SQL
    val bl = s"list_max(list_filter(range(1, len(w) - $lst.s + 1), L -> " +
      s"list_contains($vocabSql, $pref || " +
      s"substring(w, CAST($lst.s + 1 AS INT), CAST(L AS INT)))))"
    "WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), " +
      "w AS (SELECT doc_id, i AS wpos, ts[i] AS w FROM tok, LATERAL unnest(range(1, len(ts)+1)) AS u(i)), " +
      "walk AS (SELECT doc_id, wpos, w, list_reduce(" +
      "list_transform(range(0, len(w) + 1), i -> [{'s': CAST(0 AS BIGINT), 'ps': CAST([] AS VARCHAR[]), 'bad': false}]), " +
      "(acc, x) -> list_append(acc, " +
      s"CASE WHEN $lst.bad OR $lst.s >= len(w) THEN $lst " +
      s"WHEN $bl IS NULL THEN {'s': $lst.s, 'ps': $lst.ps, 'bad': true} " +
      s"ELSE {'s': $lst.s + $bl, 'ps': list_append($lst.ps, $pref || " +
      s"substring(w, CAST($lst.s + 1 AS INT), CAST($bl AS INT))), 'bad': false} END))" +
      "[CAST(len(w) + 1 AS INT)] AS st FROM w), " +
      s"seg AS (SELECT doc_id, wpos, CASE WHEN len(w) > $WordPieceCap OR st.bad " +
      s"THEN ['${WordPiece.DefaultUnkToken}'] ELSE st.ps END AS seg FROM walk), " +
      "dp AS (SELECT doc_id, flatten(list(seg ORDER BY wpos)) AS ps FROM seg GROUP BY doc_id) " +
      "SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ps[i] AS piece " +
      "FROM dp, LATERAL unnest(range(1, len(ps)+1)) AS u(i) ORDER BY doc_id, pos"
  }

  /** The q184 BPE fuse chain, GENERATED from [[BpeFixedMerges]] — the
    * q157 unrolled list_reduce chain (list-of-lists accumulator = the
    * exact left-to-right non-overlapping greedy fuse) as a reusable
    * expression over a word `w`, so the fertility oracle replays the
    * identical merges the Spark side's BpeApply does. */
  private lazy val BpeFuseChainSql: String =
    BpeFixedMerges.sortBy(_.step).foldLeft(
      "[w[i] for i in range(1, len(w) + 1)]") { (acc, m) =>
      val fused = m.left + m.right
      s"list_reduce(list_transform($acc, x -> [x]), (acc, x) -> " +
        s"CASE WHEN acc[-1] = '${m.left}' AND x[1] = '${m.right}' " +
        s"THEN list_concat(acc[1:len(acc)-1], ['$fused']) " +
        "ELSE list_concat(acc, x) END)"
    }

  /** The q184 oracle: per-document piece counts under all THREE pinned
    * tokenizers — the BPE fuse chain inline, the unigram DP and the
    * WordPiece greedy walk NESTED as subqueries of their own full
    * oracles (shared text by construction — the three tokenizers cannot
    * drift from their own graded queries) — with milli fertilities as
    * integer floor division. Docs whose tokenizer output is empty
    * coalesce to 0 (the DP/walk oracles drop token-less docs). */
  private lazy val TokenizerFertilityOracleSql: String =
    "WITH base AS (SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS ts FROM documents), " +
      s"bpe AS (SELECT doc_id, CAST(len(flatten(list_transform(ts, w -> $BpeFuseChainSql))) AS BIGINT) AS n_bpe FROM base), " +
      s"uni AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ($UnigramEncodeOracleSql) GROUP BY doc_id), " +
      s"wp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ($WordPieceEncodeOracleSql) GROUP BY doc_id) " +
      "SELECT b.doc_id, CAST(len(b.ts) AS BIGINT) AS n_tokens, bpe.n_bpe, " +
      "coalesce(uni.n, 0) AS n_uni, coalesce(wp.n, 0) AS n_wp, " +
      "CASE WHEN len(b.ts) > 0 THEN bpe.n_bpe * 1000 // len(b.ts) ELSE 0 END AS fert_bpe_milli, " +
      "CASE WHEN len(b.ts) > 0 THEN coalesce(uni.n, 0) * 1000 // len(b.ts) ELSE 0 END AS fert_uni_milli, " +
      "CASE WHEN len(b.ts) > 0 THEN coalesce(wp.n, 0) * 1000 // len(b.ts) ELSE 0 END AS fert_wp_milli " +
      "FROM base b JOIN bpe USING (doc_id) LEFT JOIN uni USING (doc_id) LEFT JOIN wp USING (doc_id) " +
      "ORDER BY doc_id"

  /** The q171 Gopher oracle, shared verbatim with the q173 streaming
    * gate: the identical planted concat and the identical integer rule
    * battery, the stopword CASE sum generated from Gopher.Stopwords. */
  private lazy val GopherOracleSql: String = {
      val nstop = graft.text.Gopher.Stopwords.map(w =>
        s"(CASE WHEN regexp_matches(lower(t), '\\b$w\\b') THEN 1 ELSE 0 END)").mkString(" + ")
      "WITH p AS (SELECT doc_id, text" +
        " || CASE WHEN doc_id % 2 = 0 THEN ' and that have with' ELSE '' END" +
        " || CASE WHEN doc_id % 7 = 0 THEN ' ## #... x' ELSE '' END" +
        " || CASE WHEN doc_id % 5 = 0 THEN chr(10)||'- bullet one'||chr(10)||chr(8226)||' bullet two'||chr(10)||'plain line' ELSE '' END" +
        " || CASE WHEN doc_id % 3 = 0 THEN chr(10)||'wait for it...'||chr(10)||'more'||chr(8230) ELSE '' END" +
        " || CASE WHEN doc_id % 11 = 0 THEN ' 123 456 789 000 111 222' ELSE '' END" +
        " || CASE WHEN doc_id % 13 = 0 THEN repeat(chr(10)||'- b', 60) ELSE '' END AS t FROM documents), " +
        "m AS (SELECT doc_id, t, regexp_extract_all(t, '\\S+') AS ws, string_split(t, chr(10)) AS ls FROM p), " +
        "a AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words, " +
        "CAST(coalesce(list_sum(list_transform(ws, w -> len(w))), 0) AS BIGINT) AS sum_wlen, " +
        "CAST(len(regexp_extract_all(t, '#|\\.\\.\\.|' || chr(8230))) AS BIGINT) AS n_sym, " +
        "CAST(len(ls) AS BIGINT) AS n_lines, " +
        "CAST(len(list_filter(ls, l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE chr(8226) || '%')) AS BIGINT) AS n_bullet, " +
        "CAST(len(list_filter(ls, l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%' || chr(8230))) AS BIGINT) AS n_ellipsis, " +
        "CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha, " +
        s"CAST($nstop AS BIGINT) AS n_stop FROM m), " +
        "b AS (SELECT doc_id, n_words, CASE WHEN n_words > 0 THEN CAST(floor(sum_wlen * 1000 / n_words) AS BIGINT) ELSE CAST(0 AS BIGINT) END AS mean_wlen_milli, " +
        "n_sym, n_lines, n_bullet, n_ellipsis, n_alpha, n_stop FROM a) " +
        "SELECT doc_id, n_words, mean_wlen_milli, n_sym, n_lines, n_bullet, n_ellipsis, n_alpha, n_stop, " +
        "CAST(CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END AS BIGINT) AS r_words, " +
        "CAST(CASE WHEN mean_wlen_milli >= 3000 AND mean_wlen_milli <= 10000 THEN 1 ELSE 0 END AS BIGINT) AS r_wlen, " +
        "CAST(CASE WHEN n_sym * 10 <= n_words THEN 1 ELSE 0 END AS BIGINT) AS r_sym, " +
        "CAST(CASE WHEN n_bullet * 10 <= n_lines * 9 THEN 1 ELSE 0 END AS BIGINT) AS r_bullet, " +
        "CAST(CASE WHEN n_ellipsis * 10 <= n_lines * 3 THEN 1 ELSE 0 END AS BIGINT) AS r_ellipsis, " +
        "CAST(CASE WHEN n_alpha * 10 >= n_words * 8 THEN 1 ELSE 0 END AS BIGINT) AS r_alpha, " +
        "CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stop, " +
        "CAST(CASE WHEN n_words >= 50 AND n_words <= 100000 AND mean_wlen_milli >= 3000 AND mean_wlen_milli <= 10000 " +
        "AND n_sym * 10 <= n_words AND n_bullet * 10 <= n_lines * 9 AND n_ellipsis * 10 <= n_lines * 3 " +
        "AND n_alpha * 10 >= n_words * 8 AND n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS keep " +
        "FROM b ORDER BY doc_id"
    }

  /** The q190 oracle, shared verbatim by q193 (the accumulated-index
    * serve must equal the direct corpus scrub): the q188 diagonal-run
    * CTEs with the corpus half (doc_id < 250) as reference and arrivals
    * (>= 250) as the scrubbed side — ref-side df gate <= 20, coverage on
    * the arrival side only, then the q130 clean-text reconstruction.
    * `refWhere` further restricts the reference side (q205's online
    * takedown: the surviving ref after tombstoning) — the df gate
    * recomputes over the SURVIVORS, so erased ref docs leave no df
    * residue (the q194 re-cooling contract, span-family form). */
  private def dupSpanGateOracleSqlOverRef(refWhere: String): String =
    s"""WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), g AS (SELECT doc_id, pos, array_to_string(ts[pos:pos+7], ' ') AS g FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 6)) AS pos FROM tok WHERE len(ts) >= 8)), refg AS (SELECT doc_id, pos, g FROM g WHERE doc_id < 250$refWhere), gated AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM refg) GROUP BY g HAVING count(*) <= 20), rg AS (SELECT doc_id, pos, g FROM refg WHERE g IN (SELECT g FROM gated)), bg AS (SELECT doc_id, pos, g FROM g WHERE doc_id >= 250), anc AS (SELECT b.doc_id AS ida, r.doc_id AS idb, b.pos AS pa, b.pos - r.pos AS d FROM bg b JOIN rg r ON b.g = r.g AND b.doc_id <> r.doc_id), isl AS (SELECT ida, idb, d, pa, pa - row_number() OVER (PARTITION BY ida, idb, d ORDER BY pa) AS grp FROM anc), sp AS (SELECT ida, idb, d, min(pa) AS s, count(*) + 7 AS rt FROM isl GROUP BY ida, idb, d, grp HAVING count(*) + 7 >= 20), covd AS (SELECT DISTINCT ida AS doc_id, unnest(range(s, s + rt)) AS p FROM sp), cv AS (SELECT doc_id, list(p) AS ps FROM covd GROUP BY doc_id) SELECT t.doc_id, coalesce(array_to_string([t.ts[i] for i in range(1, len(t.ts) + 1) if NOT list_contains(coalesce(cv.ps, []), i)], ' '), '') AS clean_text FROM tok t LEFT JOIN cv USING (doc_id) WHERE t.doc_id >= 250 ORDER BY t.doc_id"""

  private lazy val DupSpanGateOracleSql: String = dupSpanGateOracleSqlOverRef("")

  /** The q196 category-drift oracle, shared verbatim by q197 (a report
    * derived from continuously-maintained counts must equal the batch
    * one — count addition is merge-order-invariant). */
  private lazy val CategoryDriftOracleSql: String =
    """WITH oc AS (SELECT event_type AS category, CAST(count(*) AS BIGINT) AS n_old FROM events WHERE user_id % 2 = 0 GROUP BY 1), nc AS (SELECT event_type AS category, CAST(count(*) AS BIGINT) AS n_new FROM events WHERE user_id % 2 = 1 GROUP BY 1), j AS (SELECT coalesce(oc.category, nc.category) AS category, coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new FROM oc FULL OUTER JOIN nc ON oc.category IS NOT DISTINCT FROM nc.category), t AS (SELECT CAST(sum(n_old) AS BIGINT) AS to_, CAST(sum(n_new) AS BIGINT) AS tn FROM j) SELECT category, n_old, n_new, CAST(CASE WHEN to_ > 0 THEN (n_old * 1000) // to_ ELSE 0 END AS BIGINT) AS share_old_pm, CAST(CASE WHEN tn > 0 THEN (n_new * 1000) // tn ELSE 0 END AS BIGINT) AS share_new_pm, CAST(abs(CASE WHEN tn > 0 THEN (n_new * 1000) // tn ELSE 0 END - CASE WHEN to_ > 0 THEN (n_old * 1000) // to_ ELSE 0 END) AS BIGINT) AS shift_pm FROM j, t ORDER BY category"""

  /** The q192 oracle: DuckDB replays the water-filling allocation as a
    * generated fixed-round CTE chain — E (the exhausted set) only grows
    * and a converged round recomputes itself, so `rounds` anywhere past
    * the source count is exact; shares are floor divisions of exact
    * integers in both engines. The selection tail is q100's greedy
    * prefix under each source's allocation. */
  private def budgetMixtureOracleSql(rounds: Int): String = {
    val sb = new StringBuilder("WITH ")
    // d and st are MATERIALIZED: the round chain references st from
    // every a{r}/e{r} CTE, and DuckDB's default CTE inlining would
    // re-open the parquet scan once per reference (measured: "Too many
    // open files" at 24 rounds)
    sb ++= "d AS MATERIALIZED (SELECT source, doc_id, CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens FROM documents), "
    sb ++= "st AS MATERIALIZED (SELECT source, CAST(CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 10 ELSE 1 END AS BIGINT) AS w, CAST(sum(n_tokens) AS BIGINT) AS t FROM d GROUP BY source), "
    sb ++= "bud AS MATERIALIZED (SELECT CAST(sum(n_tokens) // 2 AS BIGINT) AS b FROM d), "
    sb ++= "e0 AS (SELECT source FROM st WHERE false), "
    // a{r}: per-active-source share state from e{r-1}; e{r}: the grown
    // exhausted set. One extra a CTE past the last round carries the
    // converged shares for the final allocation.
    // every round CTE is MATERIALIZED too: a{r} references e{r-1} three
    // times and e{r} references a{r} — default inlining re-expands the
    // whole chain per reference (3^rounds planning blowup)
    for (r <- 1 to rounds + 1) {
      val p = r - 1
      sb ++= s"a$r AS MATERIALIZED (SELECT st.source, st.w, st.t, " +
        s"(SELECT b FROM bud) - coalesce((SELECT sum(t) FROM st WHERE source IN (SELECT source FROM e$p)), 0) AS brem, " +
        s"(SELECT sum(w) FROM st WHERE source NOT IN (SELECT source FROM e$p)) AS wact " +
        s"FROM st WHERE st.source NOT IN (SELECT source FROM e$p)), "
      if (r <= rounds)
        sb ++= s"e$r AS MATERIALIZED (SELECT source FROM e$p UNION SELECT source FROM a$r " +
          s"WHERE (CASE WHEN wact > 0 THEN (brem * w) // wact ELSE 0 END) >= t), "
    }
    sb ++= s"alloc AS (SELECT st.source, CASE WHEN st.source IN (SELECT source FROM e$rounds) THEN st.t " +
      s"ELSE (SELECT CASE WHEN a.wact > 0 THEN (a.brem * a.w) // a.wact ELSE 0 END FROM a${rounds + 1} a WHERE a.source = st.source) END AS alloc FROM st), "
    sb ++= "c AS (SELECT source, doc_id, n_tokens, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM d) "
    sb ++= "SELECT c.source, c.doc_id, c.n_tokens FROM c JOIN alloc USING (source) WHERE c.cum <= alloc.alloc ORDER BY source, doc_id"
    sb.toString
  }

  /** The q176 oracle: DuckDB replays integer PageRank over the bigram
    * word graph as a generated CTE chain — same micro base, same floor
    * mass transfer, same permille damping, same (pr DESC, node) keep
    * order as [[graft.text.TextRank]]. */
  private def textRankOracleSql(iters: Int, k: Int): String = {
    val base = (1000L - 850L) * 1000L
    val sb = new StringBuilder("WITH ")
    sb ++= "tok AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), "
    sb ++= "e0 AS (SELECT ts[i] AS src, ts[i+1] AS dst FROM tok, LATERAL unnest(range(1, len(ts))) AS u(i) WHERE len(ts) >= 2), "
    sb ++= "edges AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM e0 GROUP BY 1, 2), "
    sb ++= "outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM edges GROUP BY 1), "
    sb ++= "nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)), "
    sb ++= s"pr0 AS (SELECT node, CAST(${graft.text.TextRank.InitMicro} AS BIGINT) AS pr FROM nodes), "
    for (r <- 1 to iters) {
      val p = r - 1
      sb ++= s"c$r AS (SELECT e.dst AS node, CAST(sum((p.pr * e.w) // o.wout) AS BIGINT) AS c " +
        s"FROM edges e JOIN pr$p p ON e.src = p.node JOIN outw o ON e.src = o.src GROUP BY e.dst), "
      sb ++= s"pr$r AS (SELECT n.node, CAST($base + (850 * coalesce(c.c, 0)) // 1000 AS BIGINT) AS pr " +
        s"FROM nodes n LEFT JOIN c$r c ON n.node = c.node), "
    }
    sb.toString.stripSuffix(", ") +
      s" SELECT node, pr AS pr_micro, rank FROM (SELECT node, pr, " +
      s"CAST(row_number() OVER (ORDER BY pr DESC, node) AS BIGINT) AS rank FROM pr$iters) " +
      s"WHERE rank <= $k ORDER BY rank"
  }

  /** The q171/q173 planted corpus — each Gopher rule's failure branch
    * forced by doc_id residue (the synthetic text is clean prose that
    * would otherwise never trip rules 3-7): %2 must-have stopwords, %7
    * symbol soup, %5 bullet lines, %3 ellipsis lines, %11 digit-only
    * words, %13 a 60-line bullet wall. ONE definition shared by the
    * batch query and the streaming gate (and mirrored literally in the
    * shared oracle's CASE chain) so the three cannot drift. */
  private def gopherPlanted(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 2 === 0, lit(" and that have with")).otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit(" ## #... x")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        lit("\n- bullet one\n\u2022 bullet two\nplain line")).otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        lit("\nwait for it...\nmore\u2026")).otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit(" 123 456 789 000 111 222")).otherwise(lit("")),
      when(col("doc_id") % 13 === 0, lit("\n- b" * 60)).otherwise(lit("")))
      .as("text"))

  /** q179's planted multi-line corpus: the fixture's documents are
    * single-line, so line structure derives deterministically in BOTH
    * engines — every literal 'merge' becomes a line break (left-to-right
    * non-overlapping in both Spark's regexp_replace and DuckDB's
    * replace; the pattern cannot self-overlap), every fifth doc gets a
    * shared boilerplate header, every seventh a shared footer, and every
    * doc a unique tail line that must survive any threshold. */
  private def linePlanted(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      when(col("doc_id") % 5 === 0,
        lit("SUBSCRIBE TO OUR NEWSLETTER\n")).otherwise(lit("")),
      regexp_replace(coalesce(col("text"), lit("")), "merge", "\n"),
      when(col("doc_id") % 7 === 0,
        lit("\nCOPYRIGHT 2026 EXAMPLE CORP")).otherwise(lit("")),
      lit("\nunique tail "), col("doc_id")).as("text"))

  /** The q167/q168 training constants — ONE definition feeding both the
    * Spark pipeline and the generated DuckDB replay so the two engines
    * cannot drift: 16 hash buckets, 3 full-batch rounds, lr 1000 micros
    * (sized so margins cross the 1e6 hinge threshold and the violated
    * set changes round to round), y = +1 iff lang = 'en'. */
  private val SvmDims = 16
  private val SvmRounds = 3
  private val SvmLrMicros = 1000L
  private val SvmMarginMicros = 1000000L

  /** The q191 planted multilingual corpus: one accent-heavy phrase per
    * language, UPPERCASE accented letters included so the pinned
    * codepoint lowercase map (LangProfile.PinnedUpper/PinnedLower) is
    * load-bearing — engine-native lower() is exactly what the q187
    * contract excludes for non-ASCII. Shared verbatim by the Spark
    * construction and the generated DuckDB oracle. */
  private val LangidFr =
    "Âgé Élève À Côté Déjà Français Où Ça Été Noël Pâques Fenêtre"
  private val LangidDe =
    "Über Größe Straße Müde Schön Ärger Tür Köln Füße Übung Änderung"
  private val LangidEs =
    "Año Señor Mañana Árbol Él Índice Óptimo Única Niño José Camión"

  /** q202/q203's planted byte-level corpus: accented Latin-1 (2-byte
    * UTF-8), ß/ü (2-byte), € (3-byte) and an emoji (4-byte) — text the
    * char-level family's `tokens()` ([a-z0-9]+ after lower()) mangles or
    * drops outright, which is exactly the gap byte-level BPE closes.
    * Built from the documents spine (doc_id < 200) with a deterministic
    * ASCII tail so the word table carries both alphabets; the planted
    * words repeat corpus-wide, so merges genuinely select high-byte unit
    * pairs. */
  private def bytePlanted(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") < 200).select(col("doc_id"), concat(
      lit("café naïve übermaß €99 ok😂 "),
      when(col("doc_id") % 3 === 0, lit("résumé ")).otherwise(lit("")),
      lit("plain tail v"), col("doc_id") % 7).as("text"))

  /** splitmix64 — the per-group signature generator behind the planted
    * image/audio near-dup corpora (deterministic, uniform — cross-group
    * Hamming concentrates at 32, P(<=3) ~ 2e-15). */
  private def splitmix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** q115/q209's planted image corpus: per id-pair group, a 9x8 PNG whose
    * row-wise gray walk encodes a splitmix signature; the odd member
    * flips bits 3 and 40 (bands 0 and 2 of the maxHamming=3 split — bands
    * 1 and 3 still agree), so exactly the (2i, 2i+1) pairs are dHash
    * near-dups. Shared by the batch miner (q115) and the streaming
    * ingest gate (q209) so both grade against the same construction. */
  private def plantedImageMedia(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs.as[Long].mapPartitions { it =>
      it.map { id =>
        var sig = splitmix64(id / 2)
        // flipping a signature bit shifts the tail of that row's gray
        // walk by a constant, so every OTHER gradient sign is preserved:
        // the planted dHash is exactly sig
        if (id % 2 == 1) sig ^= (1L << 3) | (1L << 40)
        val img = new java.awt.image.BufferedImage(9, 8,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 8) {
          var g = 128
          img.setRGB(0, y, g * 0x010101) // r=g=b: TYPE_INT_RGB roundtrips exactly
          var x = 0
          while (x < 8) {
            g += (if (((sig >>> (y * 8 + x)) & 1L) == 1L) 10 else -10)
            img.setRGB(x + 1, y, g * 0x010101)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Multimodal.MediaRecord(id, bos.toByteArray)
      }
    }.toDF()
  }

  /** q206/q210's planted PCM16 corpus: per id-pair group, a 65-frame
    * amplitude walk encoding a splitmix signature (the odd member
    * re-levels two frames — bits 3 and 40, bands 0 and 2), so exactly
    * the (2i, 2i+1) pairs are fingerprint near-dups; ids 500-509 plant
    * the degenerate negative controls (silence -> hash 0, monotone
    * rising fade -> hash -1) that must never pair. Shared by the batch
    * miner (q206) and the streaming ingest gate (q210). */
  private def plantedAudioMedia(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs.as[Long].mapPartitions { it =>
      it.map { id =>
        if (id >= 500 && id < 510) {
          val frames = 65; val per = 64
          val bytes = new Array[Byte](frames * per * 2)
          if (id % 2 == 1) {
            var f = 0
            while (f < frames) {
              val a = 100 + f * 10
              var i = 0
              while (i < per) {
                val s0 = if (i % 2 == 0) a else -a
                bytes(2 * (f * per + i)) = (s0 & 0xff).toByte
                bytes(2 * (f * per + i) + 1) = ((s0 >> 8) & 0xff).toByte
                i += 1
              }
              f += 1
            }
          }
          Multimodal.MediaRecord(id, bytes)
        } else {
          var sig = splitmix64(id / 2)
          if (id % 2 == 1) sig ^= (1L << 3) | (1L << 40)
          val frames = 65; val per = 64
          val bytes = new Array[Byte](frames * per * 2)
          var a = 1000
          var f = 0
          while (f < frames) {
            if (f > 0) a += (if (((sig >>> (f - 1)) & 1L) == 1L) 10 else -10)
            var i = 0
            while (i < per) {
              val s0 = if (i % 2 == 0) a else -a
              bytes(2 * (f * per + i)) = (s0 & 0xff).toByte
              bytes(2 * (f * per + i) + 1) = ((s0 >> 8) & 0xff).toByte
              i += 1
            }
            f += 1
          }
          Multimodal.MediaRecord(id, bytes)
        }
      }
    }.toDF()
  }

  /** The planted (2i, 2i+1) pair expectation shared by the image/audio
    * near-dup queries — groups with both members present (excluding the
    * audio degenerate controls via a caller-side filter). */
  private def plantedPairExpectation(docs: DataFrame): DataFrame =
    docs.groupBy(expr("doc_id div 2").as("g"))
      .agg(count(lit(1)).as("n"), min("doc_id").as("id_a"), max("doc_id").as("id_b"))
      .filter(col("n") === 2)
      .select("id_a", "id_b")

  /** q204's planted hot-gram-crossing span corpus — the three loss
    * classes of the ExactSubstr df gate, by construction: H is a 24-token
    * region planted in EVERY doc (df 40 > gate 20, so its interior
    * 8-gram windows gate out); docs 0-1 share a 59-token span A+H+B whose
    * post-split islands BOTH survive minRun (loss = the interior gap,
    * 169 permille); docs 2-3 share C+H+D whose D-side island falls under
    * minRun and vanishes (500 permille); docs 4-39 carry H with unique
    * context — their only duplication IS the hot region (1000 permille,
    * the gate working as designed). Shared verbatim by the Spark
    * construction and the generated DuckDB oracle. */
  private val SpanLossA = (0 until 15).map(i => s"a$i").mkString(" ")
  private val SpanLossH = (0 until 24).map(i => s"h$i").mkString(" ")
  private val SpanLossB = (0 until 20).map(i => s"b$i").mkString(" ")
  private val SpanLossC = (0 until 15).map(i => s"c$i").mkString(" ")
  private val SpanLossD = (0 until 5).map(i => s"d$i").mkString(" ")
  private def spanLossPlanted(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") < 40).select(col("doc_id"),
      when(col("doc_id") < 2,
        concat(lit(s"$SpanLossA $SpanLossH $SpanLossB tail"), col("doc_id")))
      .when(col("doc_id") < 4,
        concat(lit(s"$SpanLossC $SpanLossH $SpanLossD tail"), col("doc_id")))
      .otherwise(concat(lit("f"), col("doc_id"),
        lit(s" $SpanLossH g"), col("doc_id"))).as("text"))

  /** q207's planted mojibake corpus — four classes by doc_id % 4: UTF-8
    * read as Latin-1 (must repair back to the clean constant), genuine
    * accented text (bare 0xE9 fails strict decode — must NOT change),
    * text with chars >= 0x100 (cannot be a Latin-1 mis-decode), and pure
    * ASCII (no evidence). The BROKEN form is GENERATED from the clean
    * constant by the actual encode/mis-decode composition, so the
    * oracle's expectation comes from the construction, never from the
    * implementation under test. Shared by the Spark build and the
    * generated DuckDB oracle. */
  private val MojibakeClean = "café déjà vu übermaß €99"
  private lazy val MojibakeBroken = new String(
    MojibakeClean.getBytes(java.nio.charset.StandardCharsets.UTF_8),
    java.nio.charset.StandardCharsets.ISO_8859_1)
  private val MojibakeCurly = "it’s fine — really"
  private val MojibakeAscii = "plain ascii filler"
  private def mojibakePlanted(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") < 240).select(col("doc_id"),
      concat(
        when(col("doc_id") % 4 === 0, lit(MojibakeBroken))
          .when(col("doc_id") % 4 === 1, lit(MojibakeClean))
          .when(col("doc_id") % 4 === 2, lit(MojibakeCurly))
          .otherwise(lit(MojibakeAscii)),
        lit(" v"), col("doc_id")).as("text"))

  /** q204's oracle: both arms of the q188 diagonal-run CTE chain —
    * ungated (df >= 2, Lee et al.'s exact rule) and df-gated
    * ([2, 20]) — over the generated planted corpus, joined per doc with
    * the integer permille loss floor. Generated from the SAME Scala span
    * constants as [[spanLossPlanted]] so the corpora cannot drift. */
  private lazy val SpanGateLossOracleSql: String = {
    val corpus = "corpus AS (SELECT doc_id, CASE " +
      s"WHEN doc_id < 2 THEN '$SpanLossA $SpanLossH $SpanLossB tail' || CAST(doc_id AS VARCHAR) " +
      s"WHEN doc_id < 4 THEN '$SpanLossC $SpanLossH $SpanLossD tail' || CAST(doc_id AS VARCHAR) " +
      s"ELSE 'f' || CAST(doc_id AS VARCHAR) || ' $SpanLossH g' || CAST(doc_id AS VARCHAR) END AS text " +
      "FROM documents WHERE doc_id < 40)"
    def arm(nm: String, dfCond: String): String =
      s"pair_$nm AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM grams) GROUP BY g HAVING count(*) $dfCond), " +
        s"kept_$nm AS (SELECT doc_id, pos, g FROM grams WHERE g IN (SELECT g FROM pair_$nm)), " +
        s"anc_$nm AS (SELECT a.doc_id AS ida, b.doc_id AS idb, a.pos AS pa, a.pos - b.pos AS d FROM kept_$nm a JOIN kept_$nm b ON a.g = b.g AND a.doc_id < b.doc_id), " +
        s"isl_$nm AS (SELECT ida, idb, d, pa, pa - row_number() OVER (PARTITION BY ida, idb, d ORDER BY pa) AS grp FROM anc_$nm), " +
        s"sp_$nm AS (SELECT ida, idb, d, min(pa) AS s, count(*) + 7 AS rt FROM isl_$nm GROUP BY ida, idb, d, grp HAVING count(*) + 7 >= 20), " +
        s"cov_$nm AS (SELECT ida AS doc_id, unnest(range(s, s + rt)) AS p FROM sp_$nm UNION ALL SELECT idb, unnest(range(s - d, s - d + rt)) FROM sp_$nm), " +
        s"rem_$nm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM (SELECT DISTINCT doc_id, p FROM cov_$nm) GROUP BY doc_id)"
    s"WITH $corpus, " +
      "tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM corpus), " +
      "grams AS (SELECT doc_id, pos, array_to_string(ts[pos:pos+7], ' ') AS g FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 6)) AS pos FROM tok WHERE len(ts) >= 8)), " +
      arm("x", ">= 2") + ", " + arm("gt", "BETWEEN 2 AND 20") + " " +
      "SELECT x.doc_id, x.n AS n_exact, coalesce(gg.n, CAST(0 AS BIGINT)) AS n_gated, " +
      "x.n - coalesce(gg.n, CAST(0 AS BIGINT)) AS n_lost, " +
      "CAST(((x.n - coalesce(gg.n, CAST(0 AS BIGINT))) * 1000) // x.n AS BIGINT) AS loss_pm " +
      "FROM rem_x x LEFT JOIN rem_gt gg USING (doc_id) ORDER BY doc_id"
  }

  /** Shared q167/q168 trained model: hashed features + labels + the
    * integer hinge descent ([[graft.text.Classifier]]). */
  private def svmDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val labels = docs.select(col("doc_id"),
      when(col("lang") === "en", 1L).otherwise(-1L).as("y"))
    val feats = Classifier.hashedTokenFeatures(docs, "doc_id", "text", SvmDims)
    Classifier.docFeatures(feats, labels, "doc_id")
  }

  private def svmTrained(s: SparkSession, dir: String): (DataFrame, Classifier.LinearModel) = {
    val df = svmDocs(s, dir)
    (df, Classifier.train(df, "doc_id", SvmDims, SvmRounds, SvmLrMicros, SvmMarginMicros))
  }

  /** The q167/q168 oracle: DuckDB REPLAYS the integer hinge descent as a
    * generated CTE chain — w0/b0 = zeros, then per round the margins,
    * the violated set, the exact integer subgradients, and the
    * multiply-subtract update; one extra margin CTE (m{R+1}) scores under
    * the final weights. Generated from the SAME constants as the Spark
    * side. */
  private def svmOracleSql(select: String): String = {
    val sb = new StringBuilder("WITH ")
    sb ++= "feats AS (SELECT doc_id, CAST(CAST('0x' || substring(md5('graftf:' || tok), 1, 13) AS BIGINT) " +
      s"% $SvmDims AS BIGINT) AS f, CAST(count(*) AS BIGINT) AS x FROM (SELECT doc_id, " +
      "unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents) GROUP BY 1, 2), "
    sb ++= "lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y FROM documents), "
    sb ++= s"spine AS (SELECT CAST(unnest(range($SvmDims)) AS BIGINT) AS f), "
    sb ++= "w0 AS (SELECT f, CAST(0 AS BIGINT) AS w FROM spine), b0 AS (SELECT CAST(0 AS BIGINT) AS b), "
    for (r <- 1 to SvmRounds + 1) {
      val p = r - 1
      sb ++= s"m$r AS (SELECT lab.doc_id, lab.y, (SELECT b FROM b$p) + coalesce(s.s, 0) AS m " +
        s"FROM lab LEFT JOIN (SELECT doc_id, CAST(sum(w$p.w * feats.x) AS BIGINT) AS s " +
        s"FROM feats JOIN w$p USING (f) GROUP BY doc_id) s USING (doc_id)), "
      if (r <= SvmRounds) {
        sb ++= s"v$r AS (SELECT doc_id, y FROM m$r WHERE y * m < $SvmMarginMicros), "
        sb ++= s"g$r AS (SELECT f, CAST(sum(-v$r.y * feats.x) AS BIGINT) AS g " +
          s"FROM feats JOIN v$r USING (doc_id) GROUP BY f), "
        sb ++= s"w$r AS (SELECT spine.f, CAST(w$p.w - $SvmLrMicros * coalesce(g$r.g, 0) AS BIGINT) AS w " +
          s"FROM spine JOIN w$p USING (f) LEFT JOIN g$r USING (f)), "
        sb ++= s"b$r AS (SELECT CAST((SELECT b FROM b$p) - $SvmLrMicros * " +
          s"coalesce((SELECT CAST(sum(-y) AS BIGINT) FROM v$r), 0) AS BIGINT) AS b), "
      }
    }
    sb.toString.stripSuffix(", ") + " " + select
  }

  /** The q168 replay-and-score oracle, shared verbatim with the q169
    * streaming gate: margins + sign rule under the final weights. */
  private lazy val SvmScoreOracleSql: String = svmOracleSql(
    s"SELECT doc_id, m AS margin_micros, CAST(CASE WHEN m > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred " +
      s"FROM m${SvmRounds + 1} ORDER BY doc_id")

  /** The q166 Viterbi DP oracle, shared verbatim with the q170 streaming
    * gate: the integer recurrence over [[UnigramPinned]], candidates L
    * ascending with >= replacement (longer piece wins ties), single-char
    * UNK floor, segmentation carried in the DP cell. */
  private lazy val UnigramEncodeOracleSql: String =
    "WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), " +
      "w AS (SELECT doc_id, i AS wpos, ts[i] AS w FROM tok, LATERAL unnest(range(1, len(ts)+1)) AS u(i)), " +
      "seg AS (SELECT doc_id, wpos, list_reduce(" +
      "list_transform(range(0, len(w)+1), i -> [{'s': CAST(i AS BIGINT), 'seg': CAST([] AS VARCHAR[])}]), " +
      "(acc, x) -> list_append(acc, list_reduce(list_filter(" +
      "list_transform(range(1, least(3, x[1].s) + 1), L -> " +
      "{'s': acc[CAST(x[1].s - L + 1 AS INT)].s + (" + UnigramScoreCaseSql +
      "), 'seg': list_append(acc[CAST(x[1].s - L + 1 AS INT)].seg, substring(w, CAST(x[1].s - L + 1 AS INT), CAST(L AS INT)))}), " +
      "c -> c.s IS NOT NULL), " +
      "(b, c) -> CASE WHEN c.s >= b.s THEN c ELSE b END)))[CAST(len(w) + 1 AS INT)].seg AS seg FROM w), " +
      "dp AS (SELECT doc_id, flatten(list(seg ORDER BY wpos)) AS ps FROM seg GROUP BY doc_id) " +
      "SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ps[i] AS piece " +
      "FROM dp, LATERAL unnest(range(1, len(ps)+1)) AS u(i) ORDER BY doc_id, pos"

  /** The q166 oracle's piece-score lookup, GENERATED from
    * [[UnigramPinned]] so the two engines' literals cannot drift: a CASE
    * over the piece ending at DP position x[1].s with length L; unknown
    * multi-char pieces yield NULL (filtered out of the candidate set),
    * unknown single chars the UNK floor. */
  private val UnigramScoreCaseSql: String =
    "CASE substring(w, CAST(x[1].s - L + 1 AS INT), CAST(L AS INT)) " +
      UnigramPinned.map { case (p, s) => s"WHEN '$p' THEN $s" }.mkString(" ") +
      s" ELSE CASE WHEN L = 1 THEN ${Unigram.DefaultUnkScoreMilli} END END"

  /** The q140 BM25 query set — three fixed query strings over the corpus
    * vocabulary, shared verbatim (id, text) with the DuckDB oracle's
    * VALUES list so the two retrievals cannot drift. */
  private val Bm25Queries = Seq(
    ("q_filter", "customer filter query"),
    ("q_sort", "fast sort merge"),
    ("q_stream", "spark stream window"))

  /** The q157 fixed merge list — five merges shared verbatim with the
    * DuckDB oracle's unrolled list_reduce fuse chain; merge 1 ("th"+"e")
    * chains onto merge 0's output, exercising the replay-order path. */
  private val BpeFixedMerges = Seq(("t", "h"), ("th", "e"), ("a", "n"),
    ("i", "n"), ("e", "r")).zipWithIndex.map { case ((l, r), i) =>
    TextAnalysis.BpeMerge(i, l, r, 0L) }

  /** Collect a memory-sink-backed result into a local relation and DROP
    * the sink table: bench invokes each query lambda repeatedly (cold +
    * warm) and Verify once more — leaked UUID-named sink tables would
    * otherwise accumulate their rows on the driver for the session's
    * lifetime. Results at this point are small aggregates, so the
    * collect is the same data the caller was about to materialize. */
  private def drainSink(s: SparkSession, sink: String, df: DataFrame): DataFrame = {
    val rows = df.collect()
    val schema = df.schema
    s.catalog.dropTempView(sink)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** `body` over a fresh temp directory named `prefix`..., deleted with
    * everything under it once `body` returns or throws: a query's streams
    * have terminated by then and its result is checkpointed or collected. */
  private def withTempDir[A](prefix: String)(body: String => A): A = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    try body(p.toString)
    finally if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
      finally walk.close()
    }
  }

  /** Full-outer parity of `x` and `y` on `keys`, as one `violations` row:
    * a violation per row found on one side only (flags `__x`, `__y`) or
    * where `differ` holds, 1 unless the join has exactly `rows` rows (a
    * duplicated row matches both sides, so only the count sees it), and
    * each `extra` term. */
  private def parity(x: DataFrame, y: DataFrame, keys: Seq[String],
      differ: Option[Column] = None, rows: Option[Long] = None,
      extra: Seq[Column] = Nil): DataFrame = {
    val arms = col("__x").isNull || col("__y").isNull
    val terms = violations(differ.fold(arms)(arms || _)) +:
      (rows.map(n => when(count(lit(1)) =!= n, 1L).otherwise(0L)).toSeq ++ extra)
    x.withColumn("__x", lit(1))
      .join(y.withColumn("__y", lit(1)), keys, "full_outer")
      .agg(terms.reduce(_ + _).as("violations"))
  }

  /** `df` written as `files` parquet files under `dir`, read back as a
    * file stream of one file per micro-batch: the query downstream runs
    * `files` micro-batches. Append mode, as `dir` may be an empty temp
    * directory already. */
  private def fileStream(s: SparkSession, df: DataFrame, files: Int, dir: String): DataFrame = {
    df.repartition(files).write.mode("append").parquet(dir)
    s.readStream.schema(df.schema).option("maxFilesPerTrigger", "1").parquet(s"$dir/*.parquet")
  }

  /** Flagship: the COMPLETE per-table sync pipeline (O11) on sf0.001 —
    * config catalog (O1), projection (O2/O4), destination watermark read
    * (O5), strict-> incremental filter (O7), coercion (O8), relational
    * upsert (O9), store write (O10/O13) — then returns the synced
    * destination table. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    import graft.config.SyncConfig
    import graft.sync.{ParquetStore, SyncJob, TableStore}
    val dir = "/root/testdata/sf0.001"
    val catalog = SyncConfig.parse(
      """tables:
        |  orders:
        |    sync_config:
        |      check_column: o_orderdate
        |      check_type: timestamp
        |""".stripMargin)
    // source = the driver's parquet table; destination = a temp store
    // pre-seeded with the first 1000 keys (already synced)
    val source: TableStore = new TableStore {
      override def read(table: String) = Some(t(spark, dir, table))
      override def write(df: DataFrame, table: String) = sys.error("read-only")
    }
    val dest = new ParquetStore(spark,
      java.nio.file.Files.createTempDirectory("graft_entry").toString)
    dest.write(t(spark, dir, "orders").filter(col("o_orderkey") <= 1000), "orders")
    val stats = SyncJob.run(source, dest, catalog("orders"), primaryKeys = Seq("o_orderkey"))
    require(stats.mode.startsWith("incremental"), s"expected incremental branch, got ${stats.mode}")
    dest.read("orders").get
  }

  // ---------------------------------------------------------------- Q1-Q15

  /** Every graded query, in declaration order. Lazy because oracles read
    * vals declared further down, which object initialization has not yet
    * set while it runs this line. */
  private lazy val all: Seq[Query] = catalog(
    // Q1 — O4/O6 projection + full scan
    Query("q01_project_scan",
      "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders ORDER BY o_orderkey", (s, dir) =>
      Projection.columns(t(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"))
        .orderBy("o_orderkey")),

    // Q2 — O5 timestamp watermark (kept as timestamp: both engines render
    // parquet naive timestamps identically; DATE diverges in pandas dtype)
    Query("q02_watermark_ts",
      "SELECT max(o_orderdate) AS check_value FROM orders", (s, dir) =>
      Watermark.maxOf(t(s, dir, "orders"), "o_orderdate")),

    // Q3 — O5 id watermark, empty relation -> NULL -> 0 (sync_utils.py:32-33)
    Query("q03_watermark_id_null",
      "SELECT coalesce(max(l_orderkey), 0) AS check_value FROM lineitem WHERE l_orderkey < 0", (s, dir) =>
      Watermark.idCheckValue(
        t(s, dir, "lineitem").filter(col("l_orderkey") < 0), "l_orderkey")),

    // Q4 — O7 timestamp incremental, strict >
    Query("q04_incr_ts",
      "SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderdate > TIMESTAMP '1996-01-01 00:00:00' ORDER BY o_orderkey", (s, dir) =>
      Incremental.newerThan(t(s, dir, "orders"), "o_orderdate", ts("1996-01-01 00:00:00"))
        .select(col("o_orderkey"), col("o_orderdate"))
        .orderBy("o_orderkey")),

    // Q5 — O7 id incremental, strict >
    Query("q05_incr_id",
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey > 3000 ORDER BY l_orderkey, l_linenumber", (s, dir) =>
      Incremental.newerThan(t(s, dir, "lineitem"), "l_orderkey", lit(3000L))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")),

    // Q6 — O8 int coercion int(float(v))
    // trunc() so the oracle truncates toward zero like int(float(v)) /
    // try_cast-to-long — a plain CAST AS BIGINT rounds-to-nearest in DuckDB
    // and would diverge on any fractional input
    Query("q06_coerce_int",
      "SELECT l_orderkey, l_linenumber, CAST(trunc(CAST(l_quantity AS DOUBLE)) AS BIGINT) AS q FROM lineitem ORDER BY l_orderkey, l_linenumber", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), Coerce.intish(col("l_quantity")).as("q"))
        .orderBy("l_orderkey", "l_linenumber")),

    // Q7 — O8 string normalize str(v).strip()
    // regexp strip mirroring Coerce.strip (Python str.strip() removes all
    // whitespace kinds, not just spaces like trim()); the explicit \v keeps
    // RE2 aligned with Java's \s, which includes vertical tab
    Query("q07_coerce_trim",
      """SELECT c_custkey, regexp_replace(c_name, '^[\s\v]+|[\s\v]+$', '', 'g') AS c_name FROM customer ORDER BY c_custkey""", (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"), Coerce.strip(col("c_name")).as("c_name"))
        .orderBy("c_custkey")),

    // Q8 — O9 upsert semantics: delta wins on key conflict, insert otherwise
    Query("q08_upsert",
      """WITH base AS (SELECT o_orderkey, o_totalprice, 0 AS prec FROM orders WHERE o_orderkey <= 4000), delta AS (SELECT o_orderkey, -o_totalprice AS o_totalprice, 1 AS prec FROM orders WHERE o_orderkey BETWEEN 2000 AND 6000), u AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY prec DESC) AS rn FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)) SELECT o_orderkey, o_totalprice FROM u WHERE rn = 1 ORDER BY o_orderkey""", (s, dir) => {
      val orders = t(s, dir, "orders")
      val base = orders.filter(col("o_orderkey") <= 4000)
        .select(col("o_orderkey"), col("o_totalprice"))
      val delta = orders.filter(col("o_orderkey").between(2000, 6000))
        .select(col("o_orderkey"), negate(col("o_totalprice")).as("o_totalprice"))
      Merge.upsert(base, delta, Seq("o_orderkey")).orderBy("o_orderkey")
    }),

    // Q9 — O15 anti join (files to copy = source − dest)
    Query("q09_anti_join",
      "SELECT o_orderkey FROM orders WHERE o_orderdate >= TIMESTAMP '1995-06-01 00:00:00' EXCEPT SELECT o_orderkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' ORDER BY o_orderkey", (s, dir) => {
      val orders = t(s, dir, "orders")
      val src = orders.filter(col("o_orderdate") >= ts("1995-06-01 00:00:00")).select("o_orderkey")
      val dst = orders.filter(col("o_orderdate") >= ts("1996-01-01 00:00:00")).select("o_orderkey")
      SetOps.difference(src, dst, Seq("o_orderkey")).orderBy("o_orderkey")
    }),

    // Q10 — O15 semi join (already existing = source ∩ dest)
    Query("q10_semi_join",
      "SELECT p_partkey FROM part INTERSECT SELECT l_partkey FROM lineitem ORDER BY p_partkey", (s, dir) => {
      val part = t(s, dir, "part").select("p_partkey")
      val li = t(s, dir, "lineitem").select(col("l_partkey").as("p_partkey"))
      SetOps.intersection(part, li, Seq("p_partkey")).orderBy("p_partkey")
    }),

    // Q11 — O16 ordered listing (sorted(files_to_copy))
    Query("q11_ordered_listing",
      "SELECT n_name FROM nation ORDER BY n_name", (s, dir) =>
      SetOps.ordered(t(s, dir, "nation").select("n_name"), Seq("n_name"))),

    // Q12 — O12 group-by-service fold; region is tiny -> broadcast
    Query("q12_group_fold",
      "SELECT r_name, count(*) AS n FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY r_name ORDER BY r_name", (s, dir) =>
      t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name").agg(count(lit(1)).as("n"))
        .orderBy("r_name")),

    // Q13 — O18 sync statistics: total + conditional count, one scan
    Query("q13_sync_stats",
      "SELECT count(*) AS total, count(CASE WHEN o_orderdate > TIMESTAMP '1996-01-01 00:00:00' THEN 1 END) AS new FROM orders", (s, dir) =>
      Stats.counts(t(s, dir, "orders"),
        Seq("new" -> (col("o_orderdate") > ts("1996-01-01 00:00:00"))))),

    // Q14 — O2 type rendering numeric(p,s): decimal cast
    Query("q14_decimal_cast",
      "SELECT l_orderkey, l_linenumber, CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS qty FROM lineitem ORDER BY l_orderkey, l_linenumber", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast(DecimalType(12, 2)).cast(DoubleType).as("qty"))
        .orderBy("l_orderkey", "l_linenumber")),

    // Q15 — O5 ∘ O7 watermark round-trip: strict > max(<= cutoff)
    Query("q15_watermark_roundtrip",
      "SELECT count(*) AS n FROM lineitem WHERE l_shipdate > (SELECT max(l_shipdate) FROM lineitem WHERE l_shipdate <= TIMESTAMP '1996-01-01 00:00:00')", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val synced = li.filter(col("l_shipdate") <= ts("1996-01-01 00:00:00"))
      val wm = Watermark.readTimestamp(synced, "l_shipdate")
      Stats.counts(Incremental.extract(li, "l_shipdate", wm.map(lit(_))), Seq())
        .select(col("total").as("n"))
    }),

    // ----------------------------------------- LLM-pipeline ops (q16-q27)

    // exact dedup: keep smallest doc_id per distinct text (hash-groupBy)
    Query("q16_dedup_exact",
      "SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text ORDER BY doc_id", (s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "text", "doc_id").orderBy("doc_id")),

    // token counting: whitespace-ish + BPE-ish estimate
    Query("q17_token_stats",
      "SELECT doc_id, CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens, CAST(floor((length(text)+3)/4.0) AS BIGINT) AS n_bpe FROM documents ORDER BY doc_id", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpe"))
        .orderBy("doc_id")),

    // quality scoring: punct/stopword counts + integer-exact quality gate
    Query("q18_text_quality",
      """WITH f AS (SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok, len(regexp_extract_all(text, '[.!?,;:]')) AS n_punct, len(regexp_extract_all(lower(text), '\b(the|a|an|of|and|to|in|is|it|for)\b')) AS n_stop FROM documents) SELECT doc_id, CAST(n_punct AS BIGINT) AS n_punct, CAST(n_stop AS BIGINT) AS n_stop, CAST(CASE WHEN n_tok >= 5 AND n_stop * 2 <= n_tok THEN 1 ELSE 0 END AS BIGINT) AS quality_ok FROM f ORDER BY doc_id""", (s, dir) =>
      tw(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.punctCount(col("text")).as("n_punct"),
        TextAnalysis.stopwordCount(col("text")).as("n_stop"),
        TextAnalysis.qualityOk(col("text")).as("quality_ok"))
        .orderBy("doc_id")),

    // language ID by marker-word scoring with fixed tie-break
    Query("q19_lang_id",
      """WITH s AS (SELECT doc_id, len(regexp_extract_all(lower(text), '\b(the|of|and|is|to)\b')) AS s_en, len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS s_de, len(regexp_extract_all(lower(text), '\b(el|la|los|las|es|y|de)\b')) AS s_es, len(regexp_extract_all(lower(text), '\b(le|les|des|est|et|une)\b')) AS s_fr FROM documents) SELECT doc_id, CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en' WHEN s_de > 0 AND s_de >= s_es AND s_de >= s_fr AND s_de > s_en THEN 'de' WHEN s_es > 0 AND s_es >= s_fr AND s_es > s_en AND s_es > s_de THEN 'es' WHEN s_fr > 0 AND s_fr > s_en AND s_fr > s_de AND s_fr > s_es THEN 'fr' ELSE 'unk' END AS lang_pred FROM s ORDER BY doc_id""", (s, dir) =>
      tw(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    // content fingerprint: md5 over whitespace-normalized lowercase text
    Query("q20_fingerprint",
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp FROM documents ORDER BY doc_id""", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id")),

    // MinHash+LSH near-dup pairs, unigram-set Jaccard >= 0.9 (verified).
    // 25 bands x 5 rows: vs 32x4, ~40% fewer sub-threshold band collisions
    // on this self-similar corpus while the miss probability for a J=0.9
    // pair stays (1-0.9^5)^25 ~ 2e-10 — deterministic in practice.
    Query("q21_dedup_minhash",
      """WITH tok AS (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ts FROM documents WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM tok a JOIN tok b ON a.doc_id < b.doc_id WHERE len(list_intersect(a.ts, b.ts)) * 10 >= len(list_distinct(list_concat(a.ts, b.ts))) * 9 ORDER BY doc_a, doc_b""", (s, dir) =>
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
          TextAnalysis.tokenSet, num = 9, den = 10, numHashes = 125, bands = 25)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
        .orderBy("doc_a", "doc_b")),

    // word-trigram-shingle Jaccard >= 0.7 near-dups via MinHash+LSH
    Query("q22_dedup_ngram",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), tri AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts)-1), i -> ts[i]||' '||ts[i+1]||' '||ts[i+2])) AS gs FROM tok WHERE len(ts) >= 3) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM tri a JOIN tri b ON a.doc_id < b.doc_id WHERE len(list_intersect(a.gs, b.gs)) * 10 >= len(list_distinct(list_concat(a.gs, b.gs))) * 7 ORDER BY doc_a, doc_b""", (s, dir) =>
      Dedup.minhashNearDupsHashed(tw(s, dir, "documents"), "doc_id", "text",
          Dedup.hashedWordNgrams(_, 3), num = 7, den = 10, numHashes = 256, bands = 64)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
        .orderBy("doc_a", "doc_b")),

    // SimHash invariant: identical texts MUST get identical simhash
    Query("q23_simhash_invariant", InvariantOracleSql, (s, dir) => {
      val sig = t(s, dir, "documents").select(col("doc_id"), col("text"),
        Dedup.simhashBits(Dedup.hashedShingles(TextAnalysis.tokenSet(col("text")))).as("sig"))
      val a = sig.select(col("text"), col("doc_id").as("id_a"), col("sig").as("sig_a"))
      val b = sig.select(col("text"), col("doc_id").as("id_b"), col("sig").as("sig_b"))
      a.join(b, "text").filter(col("id_a") < col("id_b"))
        .agg(count(when(col("sig_a") =!= col("sig_b"), 1)).as("violations"))
    }),

    // brute-force cosine top-10 around vec 0 — the exact ANN baseline
    Query("q24_embed_topk",
      "SELECT vec_id FROM (SELECT e.vec_id FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q WHERE e.vec_id <> 0 ORDER BY list_cosine_similarity(e.embedding, q.qv) DESC, e.vec_id LIMIT 10) ORDER BY vec_id", (s, dir) =>
      Similarity.bruteForceTopK(t(s, dir, "embeddings"), "vec_id", "embedding", 0L, 10)),

    // embedding-cosine near-dup pairs (cosine >= 0.5)
    Query("q25_embed_neardup",
      "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.5 ORDER BY vec_a, vec_b", (s, dir) =>
      Similarity.nearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding", 0.5)
        .orderBy("vec_a", "vec_b")),

    // SRP-LSH multiprobe ANN graded against its own CONTRACT (the operator
    // is approximate vs brute force, but fully deterministic given the
    // seeded hyperplanes): the result must be EXACTLY the top-10 by cosine
    // among the ids whose SRP bucket lies within Hamming 1 of the query's
    // bucket — recomputed here from the public srpBucket/cosine pieces
    // (bucket filter + rank) instead of the operator's broadcast-probe
    // machinery, same tie-break (score desc, id). Count and membership
    // both bind: a probe that misses a Hamming-1 bucket loses candidates,
    // a too-eager probe admits foreign ids. Recall vs brute force stays
    // pinned separately by AnnSpec; the planted-twin guarantee by q86
    Query("q26_ann_topk", InvariantOracleSql, (s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val got = Similarity.annTopK(emb, "vec_id", "embedding", 0L, 10)
      val planes = Similarity.hyperplanes(8, 64)
      val bucketed = emb.withColumn("__b", Similarity.srpBucket(col("embedding"), planes))
      val q = bucketed.filter(col("vec_id") === 0L)
        .select(col("__b").as("__qb"), col("embedding").as("__qv"))
      val n = Similarity.norm(col("embedding"))
      val want = bucketed.crossJoin(broadcast(q))
        .filter(call_function("bit_count", col("__b").bitwiseXOR(col("__qb"))) <= 1)
        .filter(col("vec_id") =!= 0L)
        .filter(n > 0 && !isnan(n) && n =!= Double.PositiveInfinity)
        .withColumn("__score", Similarity.cosine(col("embedding"), col("__qv")))
        .orderBy(col("__score").desc, col("vec_id"))
        .limit(10)
        .select("vec_id")
      parity(got, want, Seq("vec_id"))
    }),

    // multimodal: binary payload -> partition-parallel decode. The payloads
    // here are TEXT stand-ins, so the metadata-only codec is pinned
    // explicitly — the sniffing default could hand a text that starts with
    // image magic bytes (e.g. "BM…") to a real reader and diverge from the
    // formula oracle. The real image path is pinned by MultimodalSpec.
    Query("q27_multimodal_decode",
      "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, CAST(64 + octet_length(encode(text)) % 64 AS BIGINT) AS width, CAST(64 + (octet_length(encode(text)) // 64) % 64 AS BIGINT) AS height, CAST(CASE WHEN octet_length(encode(text)) = 0 THEN 0 WHEN ascii(substr(text, 1, 1)) < 128 THEN ascii(substr(text, 1, 1)) ELSE 0 END AS BIGINT) AS checksum FROM documents ORDER BY doc_id", (s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.decode(
          Multimodal.attachBinary(t(s, dir, "documents"), "doc_id", "text"),
          Multimodal.decodeMeta)
        .toDF().orderBy("doc_id")
    }),

    // JSON property extraction through the O8 repair path (clean JSON is a
    // pass-through; dirty JSON would be repaired or nulled)
    Query("q28_json_extract",
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events ORDER BY event_id", (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(Coerce.jsonb(col("props")), "$.k").cast(LongType).as("k"))
        .orderBy("event_id")),

    // window function: per-user running total in event-time order (integer
    // cents: double accumulation differs across engines — DuckDB windows
    // aggregate via segment trees, Spark sums sequentially)
    Query("q29_running_sum",
      "SELECT event_id, user_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents FROM events ORDER BY event_id", (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          sum(round(col("value") * 100).cast(LongType)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("user_id"))
              .orderBy(col("ts"), col("event_id"))
              .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
            .as("running_cents"))
        .orderBy("event_id")),

    // rollup aggregate; money summed as integer cents for cross-engine
    // exactness (double sums are summation-order-dependent)
    Query("q30_rollup_stats",
      "SELECT event_type, count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents FROM events GROUP BY ROLLUP(event_type) ORDER BY event_type NULLS FIRST", (s, dir) =>
      t(s, dir, "events")
        .rollup(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast(LongType)).as("cents"))
        .orderBy(col("event_type").asc_nulls_first)),

    // gap-based sessionization: lag + running-sum windows, one keyed
    // shuffle (ts is bigint nanos — Tables normalizes either physical
    // parquet type to that; gap = 30 min)
    Query("q32_sessionize",
      "SELECT user_id, count(*) AS n_events, CAST(1 + sum(brk) AS BIGINT) AS n_sessions FROM (SELECT user_id, CASE WHEN prev IS NULL OR ts - prev <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS brk FROM (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events)) GROUP BY user_id ORDER BY user_id", (s, dir) =>
      Sessionize.sessionStats(t(s, dir, "events"), "user_id", "ts",
          lit(1800L * 1000 * 1000 * 1000), tieBreak = Seq("event_id"))
        .orderBy("user_id")),

    // multimodal frame sampling: one row per stride offset of the payload
    // (the video-frame-extraction plumbing shape: explode keyed to the doc)
    Query("q35_frame_sample",
      "SELECT doc_id, CAST(x.i AS BIGINT) AS frame_idx, CAST(x.i * 256 AS BIGINT) AS byte_offset FROM documents, LATERAL (SELECT unnest(range(0, greatest(CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT), 1))) AS i) x ORDER BY doc_id, frame_idx", (s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.attachBinary(t(s, dir, "documents"), "doc_id", "text"), 256)
        .orderBy("doc_id", "frame_idx")),

    // funnel analysis: per-user event-type sequence in event-time order,
    // conversion = view .. click .. purchase subsequence (ordered collect
    // via array_sort over (ts, event_id) structs — collect_list alone has
    // no deterministic order)
    Query("q34_funnel",
      "SELECT CAST(count(*) AS BIGINT) AS total, CAST(count(CASE WHEN regexp_matches(s, '(^| )view click purchase( |$)') THEN 1 END) AS BIGINT) AS converted FROM (SELECT user_id, string_agg(event_type, ' ' ORDER BY ts, event_id) AS s FROM events GROUP BY user_id)", (s, dir) => {
      val seqs = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")), " ").as("__seq"))
      // strict funnel (adjacent view->click->purchase) — the loose
      // "anywhere in the sequence" form converts ~everyone on 67-event users
      Stats.counts(seqs, Seq("converted" -> col("__seq").rlike("(^| )view click purchase( |$)")))
    }),

    // canonicalization: near-dup pairs -> connected components -> smallest
    // doc id per duplicate cluster (the actual dedup decision)
    Query("q33_dedup_canonical",
      """WITH RECURSIVE tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), tri AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts)-1), i -> ts[i]||' '||ts[i+1]||' '||ts[i+2])) AS gs FROM tok WHERE len(ts) >= 3), pairs AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM tri a JOIN tri b ON a.doc_id <> b.doc_id WHERE len(list_intersect(a.gs, b.gs)) * 10 >= len(list_distinct(list_concat(a.gs, b.gs))) * 7), reach AS (SELECT doc_id AS id, doc_id AS r FROM documents UNION SELECT p.dst, reach.r FROM reach JOIN pairs p ON p.src = reach.id) SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS canon FROM reach GROUP BY id ORDER BY doc_id""", (s, dir) => {
      val docs = tw(s, dir, "documents")
      val pairs = Dedup.minhashNearDupsHashed(docs, "doc_id", "text",
        Dedup.hashedWordNgrams(_, 3), num = 7, den = 10, numHashes = 256, bands = 64)
      Dedup.connectedComponents(docs, "doc_id", pairs)
        .select(col("id").as("doc_id"), col("canon"))
        .orderBy("doc_id")
    }),

    // sequence packing (concat-and-cut): per-source token streams cut into
    // 64-token training windows — each doc's start offset and first/last
    // window; one keyed window shuffle (a GLOBAL pack would funnel the
    // prefix sum through one partition — grouped streams are the scale
    // shape and what production packing does anyway)
    Query("q66_packing",
      """WITH t AS (SELECT doc_id, source, CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tok FROM documents), s AS (SELECT doc_id, source, n_tok, CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok FROM t) SELECT doc_id, source, n_tok, start_tok, start_tok // 64 AS first_win, CASE WHEN n_tok = 0 THEN start_tok // 64 ELSE (start_tok + n_tok - 1) // 64 END AS last_win FROM s ORDER BY doc_id""", (s, dir) =>
      TextAnalysis.packedSpans(t(s, dir, "documents"), Seq("source"),
          "doc_id", "text", windowSize = 64)
        .select(col("doc_id"), col("source"), col("n_tok"),
          col("start_tok"), col("first_win"), col("last_win"))
        .orderBy("doc_id")),

    // SQL-surface parity: the SAME packed SimHash computed through the
    // registered SQL functions (GraftExtensions) and through the DataFrame
    // API must agree row-for-row — the graded proof that spark.sql users
    // get the identical codegen'd primitives
    Query("q65_sql_parity", InvariantOracleSql, (s, dir) => {
      GraftExtensions.register(s)
      val docs = t(s, dir, "documents")
      docs.createOrReplaceTempView("graft_docs_v")
      val viaSql = s.sql(
        """SELECT doc_id, graft_simhash_packed(
          |  array_sort(transform(array_distinct(
          |    regexp_extract_all(lower(text), '[a-z0-9]+', 0)), t -> xxhash64(t)))) AS sig
          |FROM graft_docs_v""".stripMargin)
      val viaDf = docs.select(col("doc_id"),
        Dedup.simhashPacked(Dedup.hashedShingles(TextAnalysis.tokenSet(col("text")))).as("sig2"))
      viaSql.join(viaDf, Seq("doc_id"), "full_outer")
        .agg(sum(when(col("sig").isNull || col("sig2").isNull || col("sig") =!= col("sig2"), 1)
          .otherwise(0)).cast(LongType).as("violations"))
    }),

    // keep-BEST canonicalization: same pair mining + CC as q33, but each
    // cluster keeps its highest-token-count member (id tie-break) — the
    // production dedup decision (keep the best duplicate, not the first);
    // the added step is one keyed window over the label table
    Query("q64_dedup_keep_best",
      """WITH RECURSIVE tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), tri AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts)-1), i -> ts[i]||' '||ts[i+1]||' '||ts[i+2])) AS gs FROM tok WHERE len(ts) >= 3), pairs AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM tri a JOIN tri b ON a.doc_id <> b.doc_id WHERE len(list_intersect(a.gs, b.gs)) * 10 >= len(list_distinct(list_concat(a.gs, b.gs))) * 7), reach AS (SELECT doc_id AS id, doc_id AS r FROM documents UNION SELECT p.dst, reach.r FROM reach JOIN pairs p ON p.src = reach.id), canon AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS canon FROM reach GROUP BY id), sc AS (SELECT c.canon, c.doc_id, CAST(len(t.ts) AS BIGINT) AS nt FROM canon c JOIN tok t USING (doc_id)), w AS (SELECT canon, doc_id, nt, row_number() OVER (PARTITION BY canon ORDER BY nt DESC, doc_id) AS rn FROM sc) SELECT canon, doc_id AS kept_id, nt AS n_tokens FROM w WHERE rn = 1 ORDER BY canon""", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDupsHashed(docs, "doc_id", "text",
        Dedup.hashedWordNgrams(_, 3), num = 7, den = 10, numHashes = 256, bands = 64)
      val labels = Dedup.connectedComponents(docs, "doc_id", pairs)
      val scores = docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      Dedup.keepBest(labels, scores, "doc_id", "n_tokens")
        .select(col("canon"), col("id").as("kept_id"), col("n_tokens"))
        .orderBy("canon")
    }),

    // sketch invariant: HLL++ approximate distinct (the 100 TB path — no
    // shuffle of distinct values, fixed-size sketch) must land within 15%
    // of the exact count (default rsd = 5%)
    Query("q31_approx_distinct", InvariantOracleSql, (s, dir) =>
      t(s, dir, "documents")
        .agg(approx_count_distinct(col("text")).as("approx"),
          countDistinct(col("text")).as("exact"))
        .select(when(abs(col("approx") - col("exact")) * 100 <= col("exact") * 15, lit(0L))
          .otherwise(lit(1L)).as("violations"))),

    // IVF index invariants (bit-deterministic: iterations=0 keeps centroids
    // exactly the hash-seeded sample vectors — no distributed float sums):
    //  (a) probing ALL cells must reproduce brute-force top-10 exactly (the
    //      index round-trip loses nothing), and
    //  (b) probing ONE cell must find a planted exact twin of the query
    //      vector (identical vector -> identical cell, so the pruned search
    //      is guaranteed to see it)
    Query("q36_ivf_recall", InvariantOracleSql, (s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val twinId = 1000000L
      val corpus = emb.unionByName(emb.filter(col("vec_id") === 0L)
        .select(lit(twinId).as("vec_id"), col("embedding")))
      val idx = Similarity.ivfIndex(corpus, "vec_id", "embedding",
        numCentroids = 16, iterations = 0)
      val full = Similarity.ivfTopK(idx, "vec_id", "embedding", 0L, 10, nprobe = 16)
      val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", 0L, 10)
      val exactness = full.except(brute).unionByName(brute.except(full))
        .agg(count(lit(1)).as("__d1"))
      val pruned = Similarity.ivfTopK(idx, "vec_id", "embedding", 0L, 1, nprobe = 1)
        .agg((count(when(col("vec_id") =!= twinId, 1))
          + abs(count(lit(1)) - 1)).as("__d2"))
      exactness.crossJoin(pruned)
        .select((col("__d1") + col("__d2")).cast(LongType).as("violations"))
    }),

    // SRP-LSH pair-mining recall invariant: plant one exact twin for each of
    // the first 50 vectors — an identical vector lands in the SAME bucket of
    // EVERY hash table, so candidate generation is guaranteed (not
    // probabilistic) to surface each twin pair, and the exact dot-product
    // verify rejects everything else (max natural pair cosine ~0.6 << 0.999)
    Query("q37_lsh_pair_recall", InvariantOracleSql, (s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val twins = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val found = Similarity.lshNearDupPairs(emb.unionByName(twins),
        "vec_id", "embedding", 0.999)
      // violations = (pairs found that are not planted) + (planted missed)
      val planted = col("vec_b") === col("vec_a") + 1000000L && col("vec_a") < 50
      found.agg(count(lit(1)).as("__n"), count(when(planted, 1)).as("__good"))
        .select(((col("__n") - col("__good")) + (lit(50) - col("__good")))
          .cast(LongType).as("violations"))
    }),

    // the composed LLM-corpus-cleaning pipeline — quality gate -> language
    // filter -> exact dedup, the canonical "what survives into training"
    // query; every stage is a narrow codegen'd expression except the one
    // dedup hash-agg shuffle
    Query("q39_corpus_clean",
      """WITH f AS (SELECT doc_id, text, len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok, len(regexp_extract_all(lower(text), '\b(the|a|an|of|and|to|in|is|it|for)\b')) AS n_stop, len(regexp_extract_all(lower(text), '\b(the|of|and|is|to)\b')) AS s_en, len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS s_de, len(regexp_extract_all(lower(text), '\b(el|la|los|las|es|y|de)\b')) AS s_es, len(regexp_extract_all(lower(text), '\b(le|les|des|est|et|une)\b')) AS s_fr FROM documents), k AS (SELECT doc_id, text FROM f WHERE n_tok >= 5 AND n_stop * 2 <= n_tok AND s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr) SELECT min(doc_id) AS doc_id, text FROM k GROUP BY text ORDER BY doc_id""", (s, dir) => {
      val docs = t(s, dir, "documents")
      val kept = docs.filter(TextAnalysis.qualityOk(col("text")) === 1
        && TextAnalysis.langId(col("text")) === "en")
      Dedup.exact(kept, "text", "doc_id").orderBy("doc_id")
    }),

    // vocabulary building: explode tokens -> count -> top 100; partial
    // (map-side) aggregation absorbs the token explosion before the shuffle,
    // so hot tokens never skew a partition
    Query("q40_vocab_topk",
      "SELECT token, CAST(count(*) AS BIGINT) AS n FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token FROM documents) GROUP BY token ORDER BY n DESC, token LIMIT 100", (s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(100)),

    // as-of join: each purchase gains the latest prior (inclusive) view of
    // the same user — the union+window formulation, one keyed shuffle,
    // never a range-join explosion (events.ts is bigint nanos from the
    // Tables boundary normalizer; the oracle compares via epoch_us)
    Query("q41_asof_join",
      "SELECT p.event_id, epoch_us(v.ts) AS view_us FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v ON p.user_id = v.user_id AND p.ts >= v.ts ORDER BY p.event_id", (s, dir) => {
      val ev = t(s, dir, "events")
      // times truncated to MICROS before the MATCH, not just the output
      // projection (mirrors q43): DuckDB reads TIMESTAMP_NS at microsecond
      // precision, so its ASOF compares micros — sub-microsecond
      // view/purchase adjacency would otherwise pick a different match
      // cross-engine. The truncated value is also what's emitted, and
      // pandas renders null-bearing int64 as float64 (exact only below
      // 2^53 — micros fit, nanos don't); integer `div` so the nanos never
      // round-trip through a double
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts_us"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), expr("ts div 1000").as("view_us"))
      AsOfJoin.backward(purchases, views, Seq("user_id"), "ts_us", "view_us")
        .select(col("event_id"), col("view_us"))
        .orderBy("event_id")
    }),

    // banded range join: per-user count of event pairs within one hour —
    // candidates from an equi-join on (user, time bucket) with the earlier
    // side exploded to adjacent buckets, exact window verify after; the
    // oracle runs the naive inequality join the banded plan replaces.
    // Times truncated to MICROS before joining: DuckDB reads TIMESTAMP_NS
    // at microsecond precision, so a pair within 1 us of the exact 1-hour
    // boundary would otherwise classify differently across engines
    Query("q43_range_pairs",
      "SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_pairs FROM events a JOIN events b ON a.user_id = b.user_id AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id)) AND b.ts - a.ts <= INTERVAL 1 HOUR GROUP BY a.user_id ORDER BY a.user_id", (s, dir) =>
      RangeJoin.pairsWithin(
          t(s, dir, "events").select(col("user_id"), col("event_id"),
            expr("ts div 1000").as("ts_us")),
          Seq("user_id"), "ts_us", "event_id",
          window = 3600L * 1000 * 1000)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")),

    // quantile sketch invariant: approximate median (GK sketch — fixed-size
    // state, the 100 TB path) within 5% + one-cent slack of the exact
    // median over integer cents
    Query("q42_percentile_sketch", InvariantOracleSql, (s, dir) =>
      t(s, dir, "events")
        .select(round(col("value") * 100).cast(LongType).as("c"))
        .agg(percentile_approx(col("c"), lit(0.5), lit(10000)).as("approx"),
          expr("percentile(c, 0.5D)").as("exact"))
        .select(when(abs(col("approx") - col("exact")) * 100 <= abs(col("exact")) * 5 + lit(100),
          lit(0L)).otherwise(lit(1L)).as("violations"))),

    // token-window chunking: 32-token chunks with 8 tokens of overlap
    // (sized so the 10-99-token synthetic docs exercise the multi-chunk
    // path, 1-4 chunks each) — the pre-tokenization explode of every
    // training pipeline; the per-chunk token count double-checks the ceil
    // and slice arithmetic cross-engine
    Query("q47_chunking",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), k AS (SELECT doc_id, ts, CASE WHEN len(ts) <= 8 THEN 1 ELSE CAST(ceil((len(ts) - 8) / 24.0) AS BIGINT) END AS nk FROM tok WHERE len(ts) > 0) SELECT doc_id, CAST(x.i AS BIGINT) AS chunk_idx, CAST(len(ts[x.i*24+1 : x.i*24+32]) AS BIGINT) AS n_chunk_tokens FROM k, LATERAL (SELECT unnest(range(0, nk)) AS i) x ORDER BY doc_id, chunk_idx""", (s, dir) =>
      TextAnalysis.chunked(tw(s, dir, "documents"), "doc_id", "text",
          chunkSize = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_idx"),
          TextAnalysis.tokenCount(col("chunk")).as("n_chunk_tokens"))
        .orderBy("doc_id", "chunk_idx")),

    // incremental-ingest novelty gate: batch docs (doc_id >= 250) with no
    // unigram-Jaccard >= 0.9 near-dup in the existing corpus (doc_id < 250)
    // — cross-corpus LSH probe + anti-join, the corpus is never self-joined
    // corpus side restricted to non-empty token sets (empty sets generate no
    // band keys in the Spark plan); batch docs with empty token sets are
    // novel by definition on both sides
    Query("q46_novel_docs",
      """WITH tok AS (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ts FROM documents), c AS (SELECT * FROM tok WHERE doc_id < 250 AND len(ts) > 0), b AS (SELECT * FROM tok WHERE doc_id >= 250) SELECT b.doc_id FROM b WHERE NOT EXISTS (SELECT 1 FROM c WHERE len(list_intersect(b.ts, c.ts)) * 10 >= len(list_distinct(list_concat(b.ts, c.ts))) * 9) ORDER BY b.doc_id""", (s, dir) => {
      val docs = tw(s, dir, "documents")
      Dedup.novelAgainst(
          docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
          "doc_id", "text", c => Dedup.hashedShingles(TextAnalysis.tokenSet(c)),
          num = 9, den = 10, numHashes = 125, bands = 25)
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // deterministic hash train/test split (stable membership under corpus
    // growth — no rand()): ~80/20 within 5 points, splits disjoint and
    // exhaustive by construction, both non-empty
    Query("q44_hash_split", InvariantOracleSql, (s, dir) => {
      val split = Sampling.hashSplit(t(s, dir, "documents"), "doc_id", 80)
      split.agg(count(lit(1)).as("__n"),
          count(when(col("split") === "train", 1)).as("__tr"))
        .select(when(
          abs(col("__tr") * 100 - col("__n") * 80) <= col("__n") * 5
            && col("__tr") > 0 && col("__tr") < col("__n"),
          lit(0L)).otherwise(lit(1L)).as("violations"))
    }),

    // per-source curation cap: keep the 5 smallest doc_ids per source — the
    // "at most N documents per domain" sampling stage, one keyed window
    Query("q45_cap_per_source",
      "SELECT doc_id, source FROM (SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn FROM documents) WHERE rn <= 5 ORDER BY doc_id", (s, dir) =>
      Sampling.capPerKey(t(s, dir, "documents"), Seq("source"),
          Seq(col("doc_id").asc), 5)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // SimHash banded near-dup mining must find EXACTLY the all-pairs
    // hamming<=3 set: the pigeonhole band split guarantees 100% recall over
    // signatures and bit_count verify kills band-collision false positives,
    // so the symmetric difference vs brute force is 0 by construction —
    // violated only if the banding or verify plumbing is wrong
    Query("q38_simhash_neardup", InvariantOracleSql, (s, dir) => {
      val docs = tw(s, dir, "documents")
      val found = Dedup.simhashNearDups(docs, "doc_id", "text",
        TextAnalysis.tokenSet, maxHamming = 3)
      val sigs = docs.select(col("doc_id"),
        Dedup.simhashPacked(Dedup.hashedShingles(TextAnalysis.tokenSet(col("text")))).as("__sig"))
      val a = sigs.select(col("doc_id").as("id_a"), col("__sig").as("__sa"))
      val b = sigs.select(col("doc_id").as("id_b"), col("__sig").as("__sb"))
      val brute = a.join(b, col("id_a") < col("id_b"))
        .filter(Dedup.hammingPacked(col("__sa"), col("__sb")) <= 3)
        .select("id_a", "id_b")
      found.except(brute).unionByName(brute.except(found))
        .agg(count(lit(1)).cast(LongType).as("violations"))
    }),

    // Gopher-style repetition signal: distinct vs total word bigrams per
    // document; a doc whose distinct-bigram fraction drops below 0.95 is
    // flagged repetitive (loops on itself — a strong low-quality marker).
    // Integer cross-multiplication, so the flag is bit-identical
    // cross-engine; one narrow codegen'd pass, no shuffle
    Query("q48_repetition",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), g AS (SELECT doc_id, greatest(len(ts) - 1, 0) AS n2, CASE WHEN len(ts) >= 2 THEN len(list_distinct([ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))])) ELSE 0 END AS d2 FROM tok) SELECT doc_id, CAST(n2 AS BIGINT) AS n2, CAST(d2 AS BIGINT) AS d2, CAST(CASE WHEN n2 > 0 AND d2 * 20 < n2 * 19 THEN 1 ELSE 0 END AS BIGINT) AS repetitive FROM g ORDER BY doc_id""", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.ngramCount(col("text"), 2).as("n2"),
          TextAnalysis.distinctNgramCount(col("text"), 2).as("d2"))
        .withColumn("repetitive",
          when(col("n2") > 0 && col("d2") * 20 < col("n2") * 19, lit(1L))
            .otherwise(lit(0L)))
        .orderBy("doc_id")),

    // benchmark decontamination: corpus docs (doc_id >= 250) sharing ANY
    // word 13-gram with the benchmark half (doc_id < 250) — hashed n-gram
    // explode + distinct semi join; the GPT-3-style containment gate
    Query("q49_decontaminate",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), g AS (SELECT doc_id, unnest([array_to_string(ts[i:i+12], ' ') for i in range(1, len(ts) - 11)]) AS g FROM tok WHERE len(ts) >= 13) SELECT DISTINCT b.doc_id FROM g b WHERE b.doc_id >= 250 AND EXISTS (SELECT 1 FROM g c WHERE c.doc_id < 250 AND c.g = b.g) ORDER BY doc_id""", (s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.contaminatedIds(
          docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
          "doc_id", "text", n = 13)
        .orderBy("doc_id")
    }),

    // relational pivot: per-user wide counts over the ENUMERATED event-type
    // domain (explicit values — never the two-pass domain-discovery form,
    // which scans everything once just to learn the columns); count cells,
    // absent combinations filled with 0
    Query("q50_pivot_counts",
      "SELECT user_id, CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_view, CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_click, CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchase, CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS n_signup, CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_error FROM events GROUP BY user_id ORDER BY user_id", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnsRenamed(Map("view" -> "n_view", "click" -> "n_click",
          "purchase" -> "n_purchase", "signup" -> "n_signup", "error" -> "n_error"))
        .orderBy("user_id")),

    // per-user event ordering: row_number + gap to the previous event in
    // microseconds (lag) — one keyed shuffle shared by both window
    // functions. Times truncated to MICROS before differencing (the q41
    // lesson): DuckDB's TIMESTAMP_NS is micro-precision, so a nano-level
    // floor of the DIFFERENCE can land one below the difference of floors
    Query("q51_event_lag",
      "SELECT event_id, CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn, CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS gap_us FROM events ORDER BY event_id", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts_us"))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .withColumn("__prev", lag(col("ts_us"), 1).over(w))
        .select(col("event_id"), col("rn"), (col("ts_us") - col("__prev")).as("gap_us"))
        .orderBy("event_id")
    }),

    // fixed-width histogram over integer cents (500-cent buckets) — the
    // data-profiling pass of a curation pipeline; output size = range/width
    // regardless of input size, one hash-agg shuffle
    Query("q52_histogram",
      "SELECT CAST(round(value * 100) AS BIGINT) // 500 AS bucket, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY bucket ORDER BY bucket", (s, dir) =>
      Stats.histogram(
          t(s, dir, "events").select(round(col("value") * 100).cast(LongType).as("c")),
          "c", 500L)
        .orderBy("bucket")),

    // Bloom-filter membership sketch: the purchaser set compressed to fixed
    // bits (bloom_filter_agg) must report ZERO false negatives
    // (might_contain is exact for members by construction) — the pre-join
    // filter that prunes a 100 TB probe side before it shuffles
    Query("q53_bloom_filter", InvariantOracleSql, (s, dir) => {
      val ev = t(s, dir, "events")
      // the sketch is FIXED-SIZE regardless of input scale — collecting its
      // one row and probing via a foldable literal is the intended shape
      // (Sketches.mightContain documents why)
      val bfBytes = ev.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct()
        .agg(graft.functions.Sketches.bloomAgg(col("user_id"), 100000L, 800000L).as("bf"))
        .head.getAs[Array[Byte]](0)
      // no members -> null sketch; no members also means no possible false
      // negative, so the invariant holds vacuously
      if (bfBytes == null)
        ev.sparkSession.range(1).select(lit(0L).as("violations"))
      else
        ev.groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase", 1).otherwise(0)).as("__isp"))
          .select(col("__isp"),
            graft.functions.Sketches.mightContain(bfBytes, col("user_id")).as("__hit"))
          .agg(sum(when(col("__isp") === 1 && !col("__hit"), 1).otherwise(0))
            .cast(LongType).as("violations"))
    }),

    // streaming parity: the SAME windowed aggregation as a batch group-by,
    // executed as a real Structured Streaming query (file source ->
    // watermarked 1h tumbling windows -> Trigger.AvailableNow -> memory
    // sink). Complete output mode, so the final table equals the batch
    // answer exactly — the graded proof that the streaming surface computes
    // batch semantics; at scale the same query runs unbounded with state
    // pruned by the watermark
    Query("q54_stream_windows",
      "SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS w_us, event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY w_us, event_type ORDER BY w_us, event_type", (s, dir) => {
      // RAW on-disk schema: the stream re-reads the driver's own files, so
      // the declared schema must match the physical type; ts is normalized
      // to bigint nanos on the stream itself (same boundary rule as t())
      val schema = Tables.raw(s, dir, "events").schema
      // glob, not the bare file path — FileStreamSource derives its
      // basePath from the glob's directory and rejects a file basePath
      val stream = Tables.withTsNanos(
          s.readStream.schema(schema).parquet(s"$dir/events*.parquet"))
        .withColumn("__ts", timestamp_micros(expr("ts div 1000")))
      val counts = IncrementalStream.windowedCounts(
        stream, "__ts", "event_type", "1 hour", "10 minutes")
      val sink = s"q54_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = counts.writeStream.format("memory").queryName(sink)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      drainSink(s, sink, s.table(sink)
        .select(unix_micros(col("window_start")).as("w_us"), col("event_type"), col("n"))
        .orderBy("w_us", "event_type"))
    }),

    // streaming dedup parity: dropDuplicatesWithinWatermark over the event
    // stream must yield exactly the batch DISTINCT key set. Only the KEY is
    // emitted — which duplicate row wins within a microbatch is a task
    // race, so payload columns would be nondeterministic, but the key set
    // is exact; state expires with the watermark (bounded at 100 TB).
    // Exact-DISTINCT parity RELIES on AvailableNow reading the single
    // events.parquet as ONE microbatch (initial watermark 0, no state
    // evicted mid-run): were the source sharded past maxFilesPerTrigger,
    // keys recurring > 10 min apart in event time could be emitted twice.
    // Multi-file corpora must dedup the batch output (or widen the
    // watermark to the corpus' full event-time span) before grading.
    Query("q61_stream_dedup",
      "SELECT DISTINCT user_id FROM events ORDER BY user_id", (s, dir) => {
      val schema = Tables.raw(s, dir, "events").schema
      val stream = Tables.withTsNanos(
          s.readStream.schema(schema).parquet(s"$dir/events*.parquet"))
        .withColumn("__ts", timestamp_micros(expr("ts div 1000")))
      val deduped = IncrementalStream.streamingDedup(stream, "__ts", Seq("user_id"), "10 minutes")
        .select(col("user_id"))
      val sink = s"q61_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = deduped.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      drainSink(s, sink, s.table(sink).orderBy("user_id"))
    }),

    // product-quantization recall invariant: 64-dim float vectors
    // compressed to 8 sub-centroid codes (64 centroids per subspace,
    // iterations=0 so the codebooks are bit-deterministic — seed vectors
    // only, no float-averaging); the ADC code scan shortlists 100
    // candidates, exact rescore picks 10, and the result must recover
    // >= 7 of the exact cosine top-10 (measured 8-10 at sf0.001/sf0.01)
    Query("q55_pq_recall", InvariantOracleSql, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
        dim = 64, m = 8, k = 64, iterations = 0)
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      val qvec = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head.getSeq[Float](0).toArray
      val approx = Similarity.pqTopK(enc, emb, cb, "vec_id", "embedding", qvec, 0L, 10)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      approx.join(exact, Seq("vec_id"), "left_semi")
        .agg(when(count(lit(1)) >= 7, lit(0L)).otherwise(lit(1L)).as("violations"))
    }),

    // IVF-PQ composed ANN (the production billion-vector shape): coarse
    // quantizer -> ADC over the probed cells' codes -> exact rescore. ALL
    // THREE knobs scale with the corpus, exactly as production indexes do:
    // cells ~ sqrt(n) (the IVF rule of thumb), nprobe ~ 3/4 of cells
    // (seed-only centroids are deliberately coarse — the price of
    // bit-determinism — so probing stays wide), shortlist >= 10% of n.
    // Recall >= 6 of the exact top-10 pinned; deterministic, measured
    // 7/9/8 at sf0.001/0.01/0.1
    Query("q57_ivfpq_recall", InvariantOracleSql, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val n = emb.count()
      val cells = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
      val nprobe = math.max(12, (cells * 3) / 4)
      val shortlist = math.max(100L, n / 10).toInt
      val index = Similarity.ivfIndex(emb, "vec_id", "embedding",
        numCentroids = cells, iterations = 0)
      val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
        dim = 64, m = 8, k = 64, iterations = 0)
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      val approx = Similarity.ivfPqTopK(index, enc, emb, cb,
        "vec_id", "embedding", 0L, 10, nprobe = nprobe, shortlist = shortlist)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      approx.join(exact, Seq("vec_id"), "left_semi")
        .agg(when(count(lit(1)) >= 6, lit(0L)).otherwise(lit(1L)).as("violations"))
    }),

    // rarest token per document (lowest document frequency, token
    // tie-break) — the integer-exact core of TF-IDF ranking and the
    // hapax/keyword-extraction primitive; tf = one (doc, token) hash-agg,
    // df = vocabulary-sized table AQE-broadcast into the join, then one
    // keyed window (the float tfidf column itself is spec-tested, not
    // oracle-hashed — cross-engine ln() is not bit-stable)
    Query("q58_rare_terms",
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token FROM documents), tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, token), dfx AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY token), r AS (SELECT tf.doc_id, tf.token, tf.tf, dfx.df, row_number() OVER (PARTITION BY tf.doc_id ORDER BY dfx.df, tf.token) AS rn FROM tf JOIN dfx USING (token)) SELECT doc_id, token, tf, df FROM r WHERE rn = 1 ORDER BY doc_id""", (s, dir) =>
      graft.text.TfIdf.rarestTokens(t(s, dir, "documents"), "doc_id", "text", k = 1)
        .orderBy("doc_id")),

    // data-mixture sampling invariants: src0 pinned at rate 1.0 (all kept),
    // src1 at 0.0 (none kept), everything else at the default rate — and
    // the EXACT nesting property (kept@0.25 ⊆ kept@0.5, true by
    // construction: same hash, lower threshold) plus a 10-point envelope
    // on the default-rate fraction
    Query("q59_mixture_sample", InvariantOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents")
      val rates = Map("src0" -> 1.0, "src1" -> 0.0)
      val half = Sampling.mixtureSample(docs, "doc_id", "source", rates, defaultRate = 0.5)
      val quarter = Sampling.mixtureSample(docs, "doc_id", "source", rates, defaultRate = 0.25)
      val joined = docs.select(col("doc_id"), col("source"))
        .join(quarter.select(col("doc_id"), lit(1).as("__inq")), Seq("doc_id"), "left")
        .join(half.select(col("doc_id"), lit(1).as("__inh")), Seq("doc_id"), "left")
      joined.agg(
          sum(when(col("__inq") === 1 && col("__inh").isNull, 1).otherwise(0)).as("__nest"),
          sum(when(col("source") === "src0" && col("__inh").isNull, 1).otherwise(0)).as("__s0"),
          sum(when(col("source") === "src1" && col("__inh") === 1, 1).otherwise(0)).as("__s1"),
          sum(when(col("source") =!= "src0" && col("source") =!= "src1" && col("__inh") === 1, 1)
            .otherwise(0)).as("__dk"),
          sum(when(col("source") =!= "src0" && col("source") =!= "src1", 1).otherwise(0)).as("__dt"))
        .select((col("__nest") + col("__s0") + col("__s1") +
          when(abs(col("__dk") * 100 - col("__dt") * 50) > col("__dt") * 10, 1).otherwise(0))
          .cast(LongType).as("violations"))
    }),

    // token frequency-of-frequencies (the Zipf profile): how many
    // vocabulary types occur k times — two chained hash-aggs, the second
    // over a vocabulary-sized input; the corpus-health profile a curation
    // run reads before choosing cutoffs
    Query("q60_freq_spectrum",
      "SELECT occ, CAST(count(*) AS BIGINT) AS n_tokens FROM (SELECT token, CAST(count(*) AS BIGINT) AS occ FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token FROM documents) GROUP BY token) GROUP BY occ ORDER BY occ", (s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("occ"))
        .groupBy(col("occ")).agg(count(lit(1)).as("n_tokens"))
        .orderBy("occ")),

    // Count-Min heavy hitters: the frequency sketch (eps=1%, fixed seed)
    // must bound every true top-5 token count from above within eps·N —
    // the fixed-size "what are the hot keys" pass that replaces an exact
    // top-k shuffle when only magnitudes matter. Estimates are
    // deterministic (seeded) and NEVER undercount by construction
    Query("q62_cms_heavy_hitters", InvariantOracleSql, (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      val top = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(5).collect()
      // sketch and total ride ONE pass (the exact top-5 truth side above is
      // the only other scan)
      val sketchRow = toks
        .agg(expr("count_min_sketch(token, 0.01d, 0.99d, 42)").as("s"),
          count(lit(1)).as("n"))
        .head
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(sketchRow.getAs[Array[Byte]](0)))
      val slack = math.ceil(0.01 * sketchRow.getLong(1)).toLong
      val violations = top.count { r =>
        val est = cms.estimateCount(r.getString(0))
        est < r.getLong(1) || est > r.getLong(1) + slack
      }
      s.range(1).select(lit(violations.toLong).as("violations"))
    }),

    // per-source curation dashboard: doc count, quality passes, token
    // volume, repetitive count — the text metrics composed into ONE
    // grouped pass (every signal is a narrow expression; one shuffle on
    // source); integer sums only, so the report hashes cross-engine
    Query("q63_source_quality",
      """WITH f AS (SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts, len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS nt, len(regexp_extract_all(lower(text), '\b(the|a|an|of|and|to|in|is|it|for)\b')) AS nstop FROM documents), g AS (SELECT source, nt, CASE WHEN nt >= 5 AND nstop * 2 <= nt THEN 1 ELSE 0 END AS ok, greatest(len(ts) - 1, 0) AS n2, CASE WHEN len(ts) >= 2 THEN len(list_distinct([ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))])) ELSE 0 END AS d2 FROM f) SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(ok) AS BIGINT) AS n_quality_ok, CAST(sum(nt) AS BIGINT) AS total_tokens, CAST(sum(CASE WHEN n2 > 0 AND d2 * 20 < n2 * 19 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive FROM g GROUP BY source ORDER BY source""", (s, dir) => {
      val n2 = TextAnalysis.ngramCount(col("text"), 2)
      val d2 = TextAnalysis.distinctNgramCount(col("text"), 2)
      t(s, dir, "documents")
        .select(col("source"),
          TextAnalysis.tokenCount(col("text")).as("__nt"),
          TextAnalysis.qualityOk(col("text")).as("__ok"),
          when(n2 > 0 && d2 * 20 < n2 * 19, 1L).otherwise(0L).as("__rep"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__ok")).cast(LongType).as("n_quality_ok"),
          sum(col("__nt")).cast(LongType).as("total_tokens"),
          sum(col("__rep")).cast(LongType).as("n_repetitive"))
        .orderBy("source")
    }),

    // the salted two-phase aggregation must equal the plain one — the skew
    // machinery is semantics-preserving by construction; violated only if
    // the salt fold-back drops or double-counts rows
    Query("q56_skew_salted_agg", InvariantOracleSql, (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"))
      val salted = SkewJoin.saltedCount(ev, Seq("user_id"), buckets = 8)
      val plain = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n0"))
      salted.join(plain, Seq("user_id"), "full_outer")
        .agg(sum(when(col("n").isNull || col("n0").isNull || col("n") =!= col("n0"), 1)
          .otherwise(0)).cast(LongType).as("violations"))
    }),

    // OLAP CUBE: counts for every (event_type × hour-of-day) cell PLUS
    // both marginals and the grand total, from ONE scan (Expand + a
    // single hash aggregate — never 4 separate scans). Rolled-up dims are
    // sentinel-coalesced ('<all>' / -1, both outside the real domains) so
    // the output is null-free for stable cross-engine hashing; gid keeps
    // the grouping-set id the sentinels encode
    Query("q67_cube_counts",
      """WITH e AS (SELECT event_type, (epoch_ns(ts) // 3600000000000) % 24 AS h FROM events) SELECT coalesce(event_type, '<all>') AS event_type, CAST(coalesce(h, -1) AS BIGINT) AS h, CAST(count(*) AS BIGINT) AS n, CAST(GROUPING(event_type) * 2 + GROUPING(h) AS BIGINT) AS gid FROM e GROUP BY CUBE(event_type, h) ORDER BY gid, event_type, h""", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), expr("(ts div 3600000000000) % 24").as("h"))
      Stats.cubeCounts(ev, Seq(col("event_type"), col("h")))
        .select(coalesce(col("event_type"), lit("<all>")).as("event_type"),
          coalesce(col("h"), lit(-1L)).as("h"),
          col("n"), col("gid").cast(LongType).as("gid"))
        .orderBy("gid", "event_type", "h")
    }),

    // the TPC-H-shape star join: fact orders against two broadcast
    // dimensions — customer and nation ship to every executor, so the
    // fact table joins with ZERO shuffle (the only exchange is the final
    // per-nation aggregate); revenue integerized to cents before summing
    // so group totals are order-independent and hash cross-engine
    Query("q68_star_revenue",
      "SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY n_name ORDER BY n_name", (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast(LongType)).as("revenue_cents"))
        .orderBy("n_name")
    }),

    // quantile-stratified sampling: rank docs into 4 length quartiles
    // (exact SQL-ntile membership — bit-stable) and keep the first 10 of
    // each, sampling the whole length distribution instead of its head.
    // The rank runs bucket-decomposed (n_chars div 8 is order-consistent
    // with the (n_chars, doc_id) order — the PrefixSum contract): per-
    // bucket parallel windows + a |buckets|-sized offsets broadcast,
    // never a SinglePartition global sort (the q153/q162 discipline)
    Query("q69_strata_sample",
      "SELECT doc_id, n_chars, stratum FROM (SELECT doc_id, n_chars, stratum, row_number() OVER (PARTITION BY stratum ORDER BY n_chars, doc_id) AS rn FROM (SELECT doc_id, n_chars, CAST(ntile(4) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS stratum FROM documents)) WHERE rn <= 10 ORDER BY doc_id", (s, dir) =>
      Sampling.strataSample(t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          order = Seq(col("n_chars"), col("doc_id")), nStrata = 4, perStratum = 10,
          bucket = Some(expr("n_chars div 8")))
        .select(col("doc_id"), col("n_chars"), col("stratum"))
        .orderBy("doc_id")),

    // PII-style scrub of the event payload: mask emails then digit runs
    // (ordered — an email's digits belong to the email mask), with
    // per-pattern audit counts; one narrow regexp pass, RE2-safe patterns
    // so the redaction is bit-identical across engines
    Query("q70_scrub",
      """SELECT event_id, regexp_replace(regexp_replace(props, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'), '[0-9]{2,}', '<NUM>', 'g') AS scrubbed, CAST(len(regexp_extract_all(props, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_email, CAST(len(regexp_extract_all(props, '[0-9]{2,}')) AS BIGINT) AS n_num FROM events ORDER BY event_id""", (s, dir) =>
      Scrub.scrubbed(t(s, dir, "events").select(col("event_id"), col("props")), "props",
          Seq(("n_email", Scrub.EmailRe, "<EMAIL>"),
            ("n_num", Scrub.digitRunRe(2), "<NUM>")))
        .select(col("event_id"), col("scrubbed"), col("n_email"), col("n_num"))
        .orderBy("event_id")),

    // bigram LM head: top-3 continuations of every token by in-document
    // adjacency count — posexplode + per-doc lead window + (w1,w2) count,
    // all relational (no interpreted HOFs), vocabulary-bounded output
    Query("q71_bigram_lm",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), bg AS (SELECT unnest([ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))]) AS b FROM tok WHERE len(ts) >= 2), c AS (SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2, CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY w1, w2) SELECT w1, w2, n, rn FROM (SELECT w1, w2, n, CAST(row_number() OVER (PARTITION BY w1 ORDER BY n DESC, w2) AS BIGINT) AS rn FROM c) WHERE rn <= 3 ORDER BY w1, rn""", (s, dir) =>
      NgramStats.nextTokenTopK(t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy("w1", "rn")),

    // incremental-ingest dedup: the NEW half of the corpus (doc_id >= 250)
    // probed against the EXISTING half only — band keys cross-joined
    // new-vs-old, never old-vs-old (the 100 TB corpus is never
    // self-joined; its band table is the reusable index of a production
    // ingest loop). Same trigram/J>=0.7 regime as q22, so the oracle is
    // q22's all-pairs restricted to cross pairs
    Query("q72_incr_dedup",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), tri AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts)-1), i -> ts[i]||' '||ts[i+1]||' '||ts[i+2])) AS gs FROM tok WHERE len(ts) >= 3) SELECT a.doc_id AS doc_new, b.doc_id AS doc_old FROM tri a JOIN tri b ON a.doc_id >= 250 AND b.doc_id < 250 WHERE len(list_intersect(a.gs, b.gs)) * 10 >= len(list_distinct(list_concat(a.gs, b.gs))) * 7 ORDER BY doc_new, doc_old""", (s, dir) => {
      val docs = tw(s, dir, "documents")
      Dedup.crossNearDupsHashed(
          docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
          "doc_id", "text", Dedup.hashedWordNgrams(_, 3),
          num = 7, den = 10, numHashes = 256, bands = 64)
        .select(col("id_a").as("doc_new"), col("id_b").as("doc_old"))
        .orderBy("doc_new", "doc_old")
    }),

    // streaming sessionization parity: flatMapGroupsWithState sessions
    // (explicit per-key state, event-time timeouts) must aggregate to
    // EXACTLY the batch q32 session stats. A sentinel event per user, one
    // full gap after the corpus' last event, closes every real session
    // inside the batch — the graded output never depends on
    // timeout-at-termination semantics (AvailableNow does not flush live
    // state on exit). Sentinel-opened sessions stay in state / are
    // filtered by session_start; session arithmetic is micros, so the
    // gap compare cannot diverge from the batch nanosecond compare
    // (event nanos are all micro-exact). Bounded-state divergence
    // (sessionizeStream scaladoc): gap-preceding stragglers close as
    // singletons — can't occur here, the corpus arrives as ONE ordered
    // microbatch, so parity with batch q32 is exact
    Query("q73_stream_sessions",
      "SELECT user_id, count(*) AS n_events, CAST(1 + sum(brk) AS BIGINT) AS n_sessions FROM (SELECT user_id, CASE WHEN prev IS NULL OR ts - prev <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS brk FROM (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events)) GROUP BY user_id ORDER BY user_id", (s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"), col("ts"))
      val maxTs = ev.agg(max(col("ts"))).head.getLong(0)
      withTempDir("q73src") { srcDir =>
        ev.coalesce(1).write.mode("append").parquet(srcDir)
        ev.select(col("user_id")).distinct()
          .select(col("user_id"), lit(-1L).as("event_id"),
            lit(maxTs + 7200L * 1000 * 1000 * 1000).as("ts"))
          .coalesce(1).write.mode("append").parquet(srcDir)
        val stream = s.readStream.schema(ev.schema).parquet(s"$srcDir/*.parquet")
          .select(col("user_id"), col("event_id"),
            timestamp_micros(expr("ts div 1000")).as("ts"))
          .as[IncrementalStream.SessionEvent]
        val sessions = IncrementalStream.sessionizeStream(
          stream, gapUs = 1800L * 1000 * 1000, watermarkDelay = "10 minutes")
        val sink = s"q73_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val q = sessions.writeStream.format("memory").queryName(sink)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        drainSink(s, sink, s.table(sink)
          .filter(col("session_start") <= maxTs / 1000)
          .groupBy("user_id")
          .agg(sum(col("n_events")).cast(LongType).as("n_events"),
            count(lit(1)).cast(LongType).as("n_sessions"))
          .orderBy("user_id"))
      }
    }),

    // anti-entropy checksum invariant: the table fingerprint must be
    // IDENTICAL under a completely different layout (repartitioned 7-way —
    // different partition count, order, and task schedule) and must CHANGE
    // when a single row is dropped. This is the property that lets a sync
    // engine compare source and destination content with one narrow scan
    // per side and no sort — counts alone cannot catch drifted values
    Query("q74_sync_checksum", InvariantOracleSql, (s, dir) => {
      import graft.sync.Checksum
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val o = t(s, dir, "orders").select(cols.map(col): _*)
      def fp(df: DataFrame) = {
        val r = Checksum.tableChecksum(df, cols).head
        (r.getLong(0), r.getLong(1), r.getDecimal(2))
      }
      val plain = fp(o)
      val relaid = fp(o.repartition(7, col("o_custkey")))
      val dropped = fp(o.filter(col("o_orderkey") =!= 1L))
      val violations = (if (plain == relaid) 0L else 1L) + (if (plain == dropped) 1L else 0L)
      s.range(1).select(lit(violations).as("violations"))
    }),

    // Bloom-pruned join parity: pre-filtering the 100 TB probe side with
    // the dimension's fixed-size sketch BEFORE the shuffle (Spark's own
    // runtime row-level filtering pattern, here explicit) must leave the
    // join result bit-identical — no false negatives means pruning only
    // discards rows the join would reject anyway
    Query("q75_bloom_pruned_join", InvariantOracleSql, (s, dir) => {
      val ev = t(s, dir, "events")
      val dimUsers = ev.filter(col("event_type") === "signup")
        .select(col("user_id")).distinct()
      def rollup(fact: DataFrame) =
        fact.join(dimUsers, Seq("user_id"), "left_semi")
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast(LongType)).as("cents"))
          .head
      val plain = rollup(ev)
      val bfBytes = dimUsers
        .agg(graft.functions.Sketches.bloomAgg(col("user_id"), 10000L, 80000L).as("bf"))
        .head.getAs[Array[Byte]](0)
      val violations =
        if (bfBytes == null) { if (plain.getLong(0) == 0L) 0L else 1L }
        else if (rollup(ev.filter(
          graft.functions.Sketches.mightContain(bfBytes, col("user_id")))) == plain) 0L
        else 1L
      s.range(1).select(lit(violations).as("violations"))
    }),

    // stream-stream interval join parity: the streaming temporal-pair join
    // (both sides watermarked, range condition in the state-cleanup-
    // recognized form) must aggregate to EXACTLY the batch range join's
    // per-user pair counts (q43's oracle). AvailableNow processes the one
    // events file in a single microbatch, so both sides see the full
    // corpus and every in-window pair joins in that batch
    Query("q77_stream_join",
      "SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_pairs FROM events a JOIN events b ON a.user_id = b.user_id AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id)) AND b.ts - a.ts <= INTERVAL 1 HOUR GROUP BY a.user_id ORDER BY a.user_id", (s, dir) => {
      val schema = Tables.raw(s, dir, "events").schema
      val stream = Tables.withTsNanos(
          s.readStream.schema(schema).parquet(s"$dir/events*.parquet"))
        .select(col("user_id"), col("event_id"),
          timestamp_micros(expr("ts div 1000")).as("__ts"))
      val pairs = IncrementalStream.streamPairsWithin(
        stream, "user_id", "event_id", "__ts", "INTERVAL 1 HOUR", "2 hours")
      val sink = s"q77_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = pairs.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      drainSink(s, sink, s.table(sink)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id"))
    }),

    // hierarchical ROLLUP over the geography dimension chain: revenue at
    // nation, region, and grand-total levels from ONE scan (Expand + a
    // single aggregate, like q67's CUBE but hierarchy-ordered subtotals);
    // three broadcast dims keep the fact table shuffle-free pre-agg
    Query("q76_rollup_geo",
      """WITH j AS (SELECT r.r_name, n.n_name, o.o_totalprice FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey JOIN nation n ON c.c_nationkey = n.n_nationkey JOIN region r ON n.n_regionkey = r.r_regionkey) SELECT coalesce(r_name, '<all>') AS r_name, coalesce(n_name, '<all>') AS n_name, CAST(count(*) AS BIGINT) AS n_orders, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents, CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT) AS gid FROM j GROUP BY ROLLUP(r_name, n_name) ORDER BY gid, r_name, n_name""", (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast(LongType)).as("revenue_cents"),
          grouping_id().cast(LongType).as("gid"))
        .select(coalesce(col("r_name"), lit("<all>")).as("r_name"),
          coalesce(col("n_name"), lit("<all>")).as("n_name"),
          col("n_orders"), col("revenue_cents"), col("gid"))
        .orderBy("gid", "r_name", "n_name")
    }),

    // NATIVE session_window parity: Spark's in-aggregate session merging
    // must equal the lag-window sessionization (q32). The merge boundary
    // is INCLUSIVE on both sides (an event at exactly session-end merges;
    // `ts - prev <= gap` keeps) — exact-boundary agreement is pinned by
    // SessionizeSpec, so a plain 30-minute gap is the correct parity gap
    Query("q78_session_window",
      "SELECT user_id, count(*) AS n_events, CAST(1 + sum(brk) AS BIGINT) AS n_sessions FROM (SELECT user_id, CASE WHEN prev IS NULL OR ts - prev <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS brk FROM (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events)) GROUP BY user_id ORDER BY user_id", (s, dir) =>
      Sessionize.sessionStatsNative(
          t(s, dir, "events")
            .select(col("user_id"), timestamp_micros(expr("ts div 1000")).as("__ts")),
          "user_id", "__ts", "30 minutes")
        .orderBy("user_id")),

    // exact discrete percentiles per event type: median and p90 of the
    // cents-integerized value at rank ceil(p*n) — integer rank arithmetic
    // (never float p*n), one shared window pass for both percentiles
    Query("q79_group_percentiles",
      "SELECT event_type, CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY CAST(round(value*100) AS BIGINT)) AS BIGINT) AS med_cents, CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY CAST(round(value*100) AS BIGINT)) AS BIGINT) AS p90_cents FROM events GROUP BY event_type ORDER BY event_type", (s, dir) =>
      Stats.percentileDisc(
          t(s, dir, "events")
            .select(col("event_type"), round(col("value") * 100).cast(LongType).as("cents")),
          Seq("event_type"), "cents",
          Seq(("med_cents", 1, 2), ("p90_cents", 9, 10)))
        .orderBy("event_type")),

    // the 100 TB LSH plan IN the correctness gate: force the broadcast
    // threshold to 0 so the pre-bucketed shuffle strategy (the plan a
    // corpus too big to broadcast must take) runs the full trigram
    // pipeline — output must equal q22's broadcast-plan output exactly.
    // The gate is read EAGERLY while the plan is built (fitsBroadcast),
    // so restoring the conf in finally cannot race the execution
    Query("q81_lsh_shuffle_parity",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), tri AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts)-1), i -> ts[i]||' '||ts[i+1]||' '||ts[i+2])) AS gs FROM tok WHERE len(ts) >= 3) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM tri a JOIN tri b ON a.doc_id < b.doc_id WHERE len(list_intersect(a.gs, b.gs)) * 10 >= len(list_distinct(list_concat(a.gs, b.gs))) * 7 ORDER BY doc_a, doc_b""", (s, dir) => {
      val key = Dedup.BroadcastThresholdKey
      val prev = s.conf.getOption(key)
      s.conf.set(key, "0")
      try {
        Dedup.minhashNearDupsHashed(tw(s, dir, "documents"), "doc_id", "text",
            Dedup.hashedWordNgrams(_, 3), num = 7, den = 10, numHashes = 256, bands = 64)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
          .orderBy("doc_a", "doc_b")
      } finally {
        prev match { case Some(v) => s.conf.set(key, v); case None => s.conf.unset(key) }
      }
    }),

    // salted fact-dim join parity: spreading the skewed fact key over salt
    // buckets and replicating the dim must reproduce the plain join's
    // aggregate exactly (completes q56's salted-AGGREGATE invariant with
    // the salted-JOIN one)
    Query("q82_salted_join", InvariantOracleSql, (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"))
      val dim = ev.groupBy(col("user_id")).agg(count(lit(1)).as("w"))
      def roll(df: DataFrame) =
        df.agg(count(lit(1)).as("n"), sum(col("w")).as("s")).head
      val salted = roll(SkewJoin.saltedJoin(ev, dim, "user_id", buckets = 8))
      val plain = roll(ev.join(dim, "user_id"))
      s.range(1).select(lit(if (salted == plain) 0L else 1L).as("violations"))
    }),

    // SRP-LSH retrieval invariant: a planted TWIN of the query vector
    // (identical direction -> identical hyperplane signs -> same bucket,
    // cosine 1) MUST be retrieved, and the result must be exactly k rows.
    // This grades the guarantee SRP actually makes — directionally-close
    // vectors collide — where raw recall against brute-force top-10 is
    // corpus-dependent (random vectors have no directional clusters;
    // measured 0-2/10 here), which is exactly why q26 grades contract
    // parity (top-k within the probed buckets) rather than raw recall
    Query("q86_srp_twin", InvariantOracleSql, (s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val twinId = 1000000L
      val corpus = emb.unionByName(emb.filter(col("vec_id") === 0L)
        .select(lit(twinId).as("vec_id"), col("embedding")))
      Similarity.annTopK(corpus, "vec_id", "embedding", 0L, 10)
        .agg((when(count(when(col("vec_id") === twinId, 1)) === 1, 0L).otherwise(1L)
          + when(count(lit(1)) === 10, 0L).otherwise(1L)).as("violations"))
    }),

    // REAL image decode graded end-to-end: every doc_id becomes a true
    // PNG/BMP payload (dims derived from the id) ENCODED ON EXECUTORS —
    // payload bytes never touch the driver, the 100 TB shape — then
    // decoded by the sniffing ImageIO path. Decoded (width, height) must
    // equal the formula for every row. The metadata fallback cannot fake
    // a pass: its dims are always >= 64 while the planted dims are <= 37,
    // so a silent fallback (or any header mis-parse) counts as violations
    Query("q87_image_decode", InvariantOracleSql, (s, dir) => {
      import s.implicits._
      implicit val session: SparkSession = s
      def expW(id: Column) = lit(1L) + id % 37L
      def expH(id: Column) = lit(1L) + id % 23L
      val media = t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val (w, h) = (1 + (id % 37).toInt, 1 + (id % 23).toInt)
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            img.setRGB(0, 0, (id & 0xffffff).toInt)
            val bos = new java.io.ByteArrayOutputStream()
            // alternate formats so both the PNG and BMP readers are graded
            javax.imageio.ImageIO.write(img, if (id % 2 == 0) "png" else "bmp", bos)
            Multimodal.MediaRecord(id, bos.toByteArray)
          }
        }.toDF()
      Multimodal.decode(media).toDF()
        .agg(violations(col("width") =!= expW(col("doc_id"))
          || col("height") =!= expH(col("doc_id"))
          || col("n_bytes") <= 0L))
    }),

    // PCM16 audio decode graded end-to-end: every doc becomes a planted
    // square wave (alternating +A/-A, little-endian int16) whose features
    // are EXACT integers — RMS of a square wave is its amplitude, and
    // sqrt(A*A) is exact in doubles for A <= 32767 — so decode must
    // reproduce (n, 1000*A, A) bit-for-bit; an endianness or sign bug
    // cannot pass (A >= 256 makes byte order visible, negatives make
    // sign extension visible)
    Query("q101_audio_decode", InvariantOracleSql, (s, dir) => {
      import s.implicits._
      implicit val session: SparkSession = s
      val media = t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = 100 + (id % 50).toInt
            val amp = (256 + id % 1000).toInt
            val bytes = new Array[Byte](2 * n)
            var i = 0
            while (i < n) {
              val s16 = if (i % 2 == 0) amp else -amp
              bytes(2 * i) = (s16 & 0xff).toByte
              bytes(2 * i + 1) = ((s16 >> 8) & 0xff).toByte
              i += 1
            }
            Multimodal.MediaRecord(id, bytes)
          }
        }.toDF()
      Multimodal.decodeAudio(media).toDF()
        .agg(violations(col("n_samples") =!= lit(100L) + col("doc_id") % 50L
          || col("rms_milli") =!= (lit(256L) + col("doc_id") % 1000L) * 1000L
          || col("peak") =!= lit(256L) + col("doc_id") % 1000L))
    }),

    // WAV container decode graded end-to-end: planted RIFF/WAVE payloads
    // (fmt chunk + square-wave PCM16 data chunk; every other doc gets an
    // odd-sized JUNK chunk before data, so the chunk WALK — not a fixed
    // offset — is what passes). All expectations are exact integers
    Query("q103_wav_decode", InvariantOracleSql, (s, dir) => {
      import s.implicits._
      implicit val session: SparkSession = s
      val media = t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = 100 + (id % 50).toInt
            val amp = (256 + id % 1000).toInt
            val rate = (8000 + (id % 8) * 1000).toInt
            val bos = new java.io.ByteArrayOutputStream()
            def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
            def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >> 16) & 0xffff) }
            def tag(t: String): Unit = bos.write(t.getBytes("US-ASCII"))
            tag("RIFF"); le32(0); tag("WAVE")
            tag("fmt "); le32(16); le16(1); le16(1); le32(rate)
            le32(rate * 2); le16(2); le16(16)
            if (id % 2 == 0) { tag("JUNK"); le32(3); bos.write(Array[Byte](9, 9, 9)); bos.write(0) }
            tag("data"); le32(n * 2)
            (0 until n).foreach(i => le16(if (i % 2 == 0) amp else -amp))
            Multimodal.MediaRecord(id, bos.toByteArray)
          }
        }.toDF()
      Multimodal.decodeWavs(media).toDF()
        .agg(violations(col("sample_rate") =!= lit(8000L) + (col("doc_id") % 8L) * 1000L
          || col("channels") =!= 1L
          || col("n_samples") =!= lit(100L) + col("doc_id") % 50L
          || col("rms_milli") =!= (lit(256L) + col("doc_id") % 1000L) * 1000L
          || col("peak") =!= lit(256L) + col("doc_id") % 1000L))
    }),

    // RIFF/AVI video header decode — completes the multimodal triple
    // (image q87, audio q101/q103, video here). avih lives one level down
    // inside LIST hdrl, so the walker must DESCEND, and the planted
    // payloads force both walks: even ids carry a top-level JUNK chunk
    // before the header list, ids %3==0 a JUNK inside hdrl before avih —
    // a fixed-offset parser fails both ways; only the real chunk walker
    // recovers every planted (width, height, frames, rate, streams) tuple
    Query("q107_avi_decode", InvariantOracleSql, (s, dir) => {
      import s.implicits._
      implicit val session: SparkSession = s
      val media = t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val bos = new java.io.ByteArrayOutputStream()
            def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
            def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >> 16) & 0xffff) }
            def tag(t: String): Unit = bos.write(t.getBytes("US-ASCII"))
            tag("RIFF"); le32(0); tag("AVI ")
            if (id % 2 == 0) { tag("JUNK"); le32(3); bos.write(Array[Byte](9, 9, 9)); bos.write(0) }
            val innerJunk = id % 3 == 0
            // hdrl content: 4-byte list type + optional JUNK + avih(56)
            tag("LIST"); le32(4 + (if (innerJunk) 12 else 0) + 8 + 56); tag("hdrl")
            if (innerJunk) { tag("JUNK"); le32(4); le32(0) }
            tag("avih"); le32(56)
            le32(33333 + (id % 3).toInt * 8334)       // dwMicroSecPerFrame
            le32(0); le32(0); le32(0)                 // maxBytesPerSec, padding, flags
            le32(24 + (id % 100).toInt)               // dwTotalFrames
            le32(0)                                   // dwInitialFrames
            le32(1 + (id % 2).toInt)                  // dwStreams
            le32(0)                                   // dwSuggestedBufferSize
            le32(160 + (id % 8).toInt * 16)           // dwWidth
            le32(120 + (id % 5).toInt * 24)           // dwHeight
            le32(0); le32(0); le32(0); le32(0)        // dwReserved[4]
            tag("LIST"); le32(4); tag("movi")         // empty frame list
            Multimodal.MediaRecord(id, bos.toByteArray)
          }
        }.toDF()
      Multimodal.decodeAvis(media).toDF()
        .agg(violations(col("width") =!= lit(160L) + (col("doc_id") % 8L) * 16L
          || col("height") =!= lit(120L) + (col("doc_id") % 5L) * 24L
          || col("n_frames") =!= lit(24L) + col("doc_id") % 100L
          || col("us_per_frame") =!= lit(33333L) + (col("doc_id") % 3L) * 8334L
          || col("n_streams") =!= lit(1L) + col("doc_id") % 2L))
    }),

    // Unicode NFC normalization (codegen'd NfcNormalize expression): the
    // canonicalize-before-hash step real corpora need — "e"+COMBINING ACUTE
    // and precomposed "é" are one text to a reader but different bytes to
    // every fingerprint. The gate PLANTS decomposed sequences (the synthetic
    // docs are pure ASCII, where NFC is the identity and a broken
    // normalizer would pass unnoticed): every 'e' gains U+0301, so the
    // engine must compose them back and the codepoint counts must shrink by
    // exactly the planted amount — both compared against DuckDB's
    // utf8proc-backed nfc_normalize
    Query("q108_nfc_normalize",
      "WITH d AS (SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS t FROM documents) SELECT doc_id, nfc_normalize(t) AS t_nfc, CAST(length(t) AS BIGINT) AS len_dec, CAST(length(nfc_normalize(t)) AS BIGINT) AS len_nfc FROM d ORDER BY doc_id", (s, dir) => {
      val dec = t(s, dir, "documents").select(col("doc_id"),
        // "e" + U+0301 COMBINING ACUTE, written as an escape so the source
        // cannot silently hold the precomposed form instead
        regexp_replace(col("text"), "e", "e\u0301").as("t"))
      dec.select(col("doc_id"),
          Normalize.nfc(col("t")).as("t_nfc"),
          length(col("t")).cast(LongType).as("len_dec"),
          length(Normalize.nfc(col("t"))).cast(LongType).as("len_nfc"))
        .orderBy("doc_id")
    }),

    // edit-distance-1 fuzzy matching via the deletion-neighborhood
    // (SymSpell) blocking scheme: a COMPLETE candidate generator (equal /
    // substitution / indel pairs provably share a deletion variant) +
    // codegen'd levenshtein verify — vs the oracle's O(n²) levenshtein
    // cross join. The corpus is the document vocabulary plus planted
    // first-char-dropped misspellings, so the pair set is nontrivial
    Query("q109_fuzzy_join",
      "WITH tok AS (SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents), corpus AS (SELECT w FROM tok UNION SELECT substr(w, 2) FROM tok WHERE len(w) >= 4) SELECT a.w AS w_a, b.w AS w_b FROM corpus a JOIN corpus b ON a.w < b.w WHERE levenshtein(a.w, b.w) <= 1 ORDER BY w_a, w_b", (s, dir) =>
      FuzzyJoin.neighborPairs(fuzzyCorpus(s, dir), "w").orderBy("w_a", "w_b")),

    // q163: the DEPTH-2 deletion neighborhood — edit distance <= 2, the
    // common spell-correction radius. Same blocking + levenshtein-verify
    // shape as q109, graded against the same O(n²) cross-join oracle at
    // the wider bound: the SymSpell depth-2 completeness claim (every
    // distance-2 pair shares a double-deletion variant) sits IN the
    // correctness gate, so a blocking recall loss cannot pass
    // q163: the same corpus CTE at the distance-2 radius
    Query("q163_fuzzy_join_d2",
      "WITH tok AS (SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents), corpus AS (SELECT w FROM tok UNION SELECT substr(w, 2) FROM tok WHERE len(w) >= 4) SELECT a.w AS w_a, b.w AS w_b FROM corpus a JOIN corpus b ON a.w < b.w WHERE levenshtein(a.w, b.w) <= 2 ORDER BY w_a, w_b", (s, dir) =>
      FuzzyJoin.neighborPairs(fuzzyCorpus(s, dir), "w", maxDist = 2)
        .orderBy("w_a", "w_b")),

    // entity resolution composed end-to-end: fuzzy pairs (q109's blocking)
    // -> connected components (q33's machinery over hashed word ids) ->
    // longest-word representative per cluster (lexicographic tie-break —
    // chosen on the WORDS so the oracle can mirror it; the internal canon
    // label is hash-valued and never escapes). Output: every corpus word
    // mapped to its cluster's canonical form — the record-linkage shape
    Query("q111_entity_resolution",
      """WITH RECURSIVE tok AS (SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents), corpus AS (SELECT w FROM tok UNION SELECT substr(w, 2) FROM tok WHERE len(w) >= 4), pairs AS (SELECT a.w AS src, b.w AS dst FROM corpus a JOIN corpus b ON a.w <> b.w AND levenshtein(a.w, b.w) <= 1), reach AS (SELECT w AS id, w AS r FROM corpus UNION SELECT p.dst, reach.r FROM reach JOIN pairs p ON p.src = reach.id), canon AS (SELECT id AS w, min(r) AS c FROM reach GROUP BY id), rep AS (SELECT c, w AS rep FROM (SELECT c, w, row_number() OVER (PARTITION BY c ORDER BY len(w) DESC, w) AS rn FROM canon) WHERE rn = 1) SELECT canon.w, rep.rep FROM canon JOIN rep USING (c) ORDER BY w""", (s, dir) => {
      val corpus = fuzzyCorpus(s, dir)
      // the vocabulary derivation (scan + explode + two distinct shuffles)
      // feeds FIVE plan branches (both sides of the blocking self-join, two
      // pid joins, the members join) and the members branch re-executes
      // AFTER the CC driver loop — materialize it once, like CC does its
      // edge list
      val ids = corpus.select(col("w"), xxhash64(col("w")).as("id"))
        .localCheckpoint()
      val pairs = FuzzyJoin.neighborPairs(ids.select("w"), "w")
      val pid = pairs
        .join(ids.select(col("w").as("w_a"), col("id").as("id_a")), "w_a")
        .join(ids.select(col("w").as("w_b"), col("id").as("id_b")), "w_b")
        .select("id_a", "id_b")
      val members = Dedup.connectedComponents(ids.select("id"), "id", pid)
        .join(ids, "id").select(col("canon"), col("w"))
      val wRep = Window.partitionBy(col("canon"))
        .orderBy(length(col("w")).desc, col("w"))
      members.select(col("w"), first(col("w")).over(wRep).as("rep"))
        .orderBy("w")
    }),

    // incremental aggregate maintenance: per-customer order stats merged
    // from TWO epoch states (orderkey <= 4000 base, > 4000 delta) must
    // equal the direct aggregate over all orders — the materialized-view
    // maintenance property; the merge touches state-sized inputs only
    Query("q114_incr_stats",
      "SELECT o_custkey, CAST(count(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS n, CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_v, CAST(min(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS min_v, CAST(max(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS max_v FROM orders GROUP BY o_custkey ORDER BY o_custkey", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast(LongType).as("cents"))
      val base = Stats.mergeableStats(o.filter(col("o_orderkey") <= 4000),
        Seq("o_custkey"), "cents")
      val delta = Stats.mergeableStats(o.filter(col("o_orderkey") > 4000),
        Seq("o_custkey"), "cents")
      Stats.mergeStats(base, delta, Seq("o_custkey")).orderBy("o_custkey")
    }),

    // batch EXACT k-NN join — the production retrieval shape (every query
    // row gets its top-k corpus neighbors): query side broadcast, corpus
    // scanned once, only (query, neighbor, score) triples shuffle into the
    // per-query top-k window — vs the oracle's cross join + rank
    Query("q112_knn_join",
      "WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 25), s AS (SELECT q.query_id, e.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.query_id ORDER BY list_cosine_similarity(e.embedding, q.qv) DESC, e.vec_id) AS rn FROM embeddings e, q WHERE e.vec_id <> q.query_id) SELECT query_id, neighbor_id FROM s WHERE rn <= 5 ORDER BY query_id, neighbor_id", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnJoin(emb.filter(col("vec_id") < 25), emb,
          "vec_id", "embedding", k = 5)
        .orderBy("query_id", "neighbor_id")
    }),

    // IVF-blocked batch k-NN at FULL probe must equal the exact join
    // row-for-row: grades the cell assignment + per-query probe explode +
    // equi-join candidate plumbing (the scale path) against the exact
    // contract — candidate sets, not scoring, are what can drift
    Query("q113_ivf_knn_parity", InvariantOracleSql, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 25)
      val exact = Similarity.knnJoin(queries, emb, "vec_id", "embedding", 5)
      val index = Similarity.ivfIndex(emb, "vec_id", "embedding", numCentroids = 8)
      val ivf = Similarity.knnJoinIvf(index, queries, "vec_id", "embedding", 5, nprobe = 8)
      parity(exact, ivf, Seq("query_id", "neighbor_id"))
    }),

    // IMAGE near-dup graded end-to-end (the dedup story's third modality):
    // each doc_id pair (2g, 2g+1) gets a planted 9x8 RGB image whose
    // horizontal gradient signs encode a pseudo-random 64-bit pattern per
    // GROUP — the odd member's pattern is the even member's with exactly 2
    // bits flipped (a "slightly edited rendition"), so dHash(even) and
    // dHash(odd) sit at Hamming 2 <= 3 and MUST pair through the banded
    // join, while distinct groups sit near Hamming 32 and MUST NOT. The
    // 9x8 size makes the dHash exactly derivable (no resample); encoding
    // happens on executors (pixels never touch the driver). Expected pairs
    // are computed from the data (groups with both members present), so
    // the gate is exact-set equality: a constant/broken hash floods false
    // pairs, a noisy hash loses twins — both count as violations
    Query("q115_image_neardup", InvariantOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id").cast(LongType).as("doc_id"))
      val media = plantedImageMedia(s, docs)
      val pairs = Dedup.imageNearDups(media, maxHamming = 3)
      val expected = plantedPairExpectation(docs)
      parity(expected, pairs, Seq("id_a", "id_b"))
    }),

    // opt-in schema evolution in the sync pipeline (the reference
    // re-introspects the source schema per run, so a column ADDED upstream
    // flows in automatically — our strict mode instead fails loudly; this
    // grades BOTH behaviors): sync docs (doc_id, n_chars), then the source
    // gains a src_tag column + new rows. Strict re-sync must refuse;
    // evolving re-sync must converge to: every doc row present, src_tag
    // NULL for rows synced before the column existed (id <= the first
    // run's watermark), populated for rows extracted after — compared
    // null-safely against the expectation derived from the raw table
    Query("q116_schema_evolution", InvariantOracleSql, (s, dir) => {
      import graft.config.{CheckType, TableConfig}
      import graft.sync.{ParquetStore, SyncJob}
      val docs = t(s, dir, "documents").select(col("doc_id").cast(LongType).as("doc_id"),
        col("n_chars").cast(LongType).as("n_chars"), col("source"))
      withTempDir("q116") { tmp =>
        val src = new ParquetStore(s, s"$tmp/src")
        val dst = new ParquetStore(s, s"$tmp/dst")
        val cfg = TableConfig("docs", Some("doc_id"), Some(CheckType.Id), Seq.empty)
        val v1 = docs.filter(col("doc_id") < 300).select("doc_id", "n_chars")
        src.write(v1, "docs")
        SyncJob.run(src, dst, cfg, Seq("doc_id"))
        val wm = v1.agg(max("doc_id")).head.getLong(0) // the run-1 watermark
        src.write(docs.select(col("doc_id"), col("n_chars"), col("source").as("src_tag")), "docs")
        val strictRefused =
          try { SyncJob.run(src, dst, cfg, Seq("doc_id")); false }
          catch { case scala.util.control.NonFatal(_) => true }
        SyncJob.run(src, dst, cfg, Seq("doc_id"), allowSchemaEvolution = true)
        val out = dst.read("docs").get
        val expected = docs.select(col("doc_id"), col("n_chars").as("e_chars"),
          when(col("doc_id") > wm, col("source")).as("e_tag"))
        val mismatches = out.join(expected, Seq("doc_id"), "full_outer")
          .filter(!(col("n_chars") <=> col("e_chars")) || !(col("src_tag") <=> col("e_tag")))
          .count()
        val v = mismatches +
          (if (strictRefused) 0L else 1L) +
          (if (out.columns.toSeq == Seq("doc_id", "n_chars", "src_tag")) 0L else 1L)
        s.range(1).select(lit(v).as("violations"))
      }
    }),

    // batch PQ/ADC retrieval graded two ways: (a) at a keep-everything
    // shortlist the ADC funnel degrades to exactly knnJoin (row-for-row
    // full-outer parity — grades the per-query LUT plumbing + rescore
    // tail), and (b) at a TIGHT shortlist each query's planted twin
    // (identical vector -> identical codes -> maximal ADC score) must
    // still be retrieved top-k — the clause a broken ADC ordering cannot
    // pass even though (a) would (a garbage score still "keeps
    // everything" when nothing is cut)
    Query("q117_pq_knn_parity", InvariantOracleSql, (s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val queries = emb.filter(col("vec_id") < 25)
      val twinBase = 1000000L
      val corpus = emb.unionByName(
        queries.select((col("vec_id") + twinBase).as("vec_id"), col("embedding")))
      val cb = Similarity.pqTrain(corpus, "vec_id", "embedding", dim = 64, m = 8, k = 16)
      val encoded = Similarity.pqEncode(corpus, "vec_id", "embedding", cb)
      val exact = Similarity.knnJoin(queries, corpus, "vec_id", "embedding", 5)
      val full = Similarity.knnJoinPq(encoded, corpus, cb, queries,
        "vec_id", "embedding", k = 5, shortlist = 1 << 20)
      val parityViol = exact.withColumn("__x", lit(1))
        .join(full.withColumn("__y", lit(1)),
          Seq("query_id", "neighbor_id"), "full_outer")
        .filter(col("__x").isNull || col("__y").isNull)
        .count()
      val tight = Similarity.knnJoinPq(encoded, corpus, cb, queries,
        "vec_id", "embedding", k = 5, shortlist = 40)
      val twinHits = tight
        .filter(col("neighbor_id") === col("query_id") + twinBase)
        .count()
      s.range(1).select(lit(parityViol + (25L - twinHits)).as("violations"))
    }),

    // IVF-PQ batch retrieval — the full production funnel (coarse cells ⊃
    // ADC shortlist ⊃ exact k) in batch form, graded the same two ways as
    // q117: full probe + keep-everything shortlist must equal the exact
    // join row-for-row (grades the cell equi-join + code join + LUT + tail
    // plumbing), and a TIGHT probe/shortlist must still retrieve each
    // query's planted twin (identical vector -> own top cell, identical
    // codes -> maximal ADC) — binding both funnel stages
    Query("q118_ivfpq_knn_parity", InvariantOracleSql, (s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val queries = emb.filter(col("vec_id") < 25)
      val twinBase = 1000000L
      val corpus = emb.unionByName(
        queries.select((col("vec_id") + twinBase).as("vec_id"), col("embedding")))
      val index = Similarity.ivfIndex(corpus, "vec_id", "embedding", numCentroids = 8)
      val cb = Similarity.pqTrain(corpus, "vec_id", "embedding", dim = 64, m = 8, k = 16)
      val encoded = Similarity.pqEncode(corpus, "vec_id", "embedding", cb)
      val exact = Similarity.knnJoin(queries, corpus, "vec_id", "embedding", 5)
      val full = Similarity.knnJoinIvfPq(index, encoded, corpus, cb, queries,
        "vec_id", "embedding", k = 5, nprobe = 8, shortlist = 1 << 20)
      val parityViol = exact.withColumn("__x", lit(1))
        .join(full.withColumn("__y", lit(1)),
          Seq("query_id", "neighbor_id"), "full_outer")
        .filter(col("__x").isNull || col("__y").isNull)
        .count()
      val tight = Similarity.knnJoinIvfPq(index, encoded, corpus, cb, queries,
        "vec_id", "embedding", k = 5, nprobe = 2, shortlist = 40)
      val twinHits = tight
        .filter(col("neighbor_id") === col("query_id") + twinBase)
        .count()
      s.range(1).select(lit(parityViol + (25L - twinHits)).as("violations"))
    }),

    // STREAMING decontamination parity: the ingest-time gate (arrival
    // stream exploded to hashed 13-grams, stream-static broadcast semi
    // join against the benchmark gram set, watermark-bounded per-doc
    // distinct) must emit EXACTLY the batch q49 contaminated set — same
    // oracle, streaming plan, the q81-style "the scale deployment is in
    // the correctness gate" pairing. Arrivals come in TWO real micro-
    // batches (2-file copy, maxFilesPerTrigger=1): the gate's state and
    // emission carry across batch boundaries, not just within one batch.
    // Ids are unique across the corpus, so the multi-file same-id
    // re-emission caveat cannot trigger; constant day-1 arrival (the
    // epoch-0 late-filter pitfall, see contaminatedIdsStream)
    // q119 grades the STREAMING plan against the SAME contaminated-set
    // oracle as batch q49 (the q81 pairing pattern)
    Query("q119_stream_decontaminate",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), g AS (SELECT doc_id, unnest([array_to_string(ts[i:i+12], ' ') for i in range(1, len(ts) - 11)]) AS g FROM tok WHERE len(ts) >= 13) SELECT DISTINCT b.doc_id FROM g b WHERE b.doc_id >= 250 AND EXISTS (SELECT 1 FROM g c WHERE c.doc_id < 250 AND c.g = b.g) ORDER BY doc_id""", (s, dir) => {
      val docs = t(s, dir, "documents")
      val arrivals = docs.filter(col("doc_id") >= 250)
      withTempDir("q119src") { srcDir =>
        val stream = fileStream(s, arrivals, 2, srcDir)
        val flagged = Decontaminate.contaminatedIdsStream(
          stream, docs.filter(col("doc_id") < 250), "doc_id", "text",
          eventTimeCol = timestamp_micros(lit(86400000000L)), n = 13)
        val sink = s"q119_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val q = flagged.writeStream.format("memory").queryName(sink)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        drainSink(s, sink, s.table(sink).orderBy("doc_id"))
      }
    }),

    // STREAMING ingest near-dup gate through a PERSISTED index: the corpus
    // band index + shingle sets are built once (buildNearDupIndex — one
    // text pass), written to parquet, read back, and the serving query
    // probes ONLY the persisted tables (the 100 TB deployment shape: the
    // index survives executor loss and service restarts; the corpus text
    // is never re-shingled per start or per batch). Arrivals (doc_id >=
    // 250) probe with the IDENTICAL deterministic MinHash family as batch
    // q46 and exact-verify on shingle sets — the emitted reject list must
    // be EXACTLY the complement of q46's novel set (same tokenSet
    // shingler, same 9/10 threshold, same 125/25 banding), graded against
    // the inverted q46 oracle. TWO real micro-batches (2-file copy,
    // maxFilesPerTrigger=1) so the per-doc distinct is exercised across
    // batch boundaries; ids unique, so no re-emission caveat. Day-1
    // arrival (late-filter pitfall)
    // q121 is the EXISTS inverse of q46's novel-docs oracle: the streaming
    // reject list = arrivals WITH a J>=0.9 token-set near-dup in the corpus
    Query("q121_stream_ingest_dedup",
      """WITH tok AS (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ts FROM documents), c AS (SELECT * FROM tok WHERE doc_id < 250 AND len(ts) > 0), b AS (SELECT * FROM tok WHERE doc_id >= 250) SELECT b.doc_id FROM b WHERE EXISTS (SELECT 1 FROM c WHERE len(list_intersect(b.ts, c.ts)) * 10 >= len(list_distinct(list_concat(b.ts, c.ts))) * 9) ORDER BY b.doc_id""", (s, dir) => {
      // fanned scan: the index build minhashes 2 500 docs (125 hashes/doc)
      // and would otherwise run in the single-split scan task (fanOut
      // scaladoc); signatures are per-row deterministic, so the exchange
      // is result-neutral
      val docs = tw(s, dir, "documents")
      val arrivals = docs.filter(col("doc_id") >= 250)
      withTempDir("q121src") { srcDir => withTempDir("q121idx") { idxDir =>
        val built = Dedup.buildNearDupIndex(docs.filter(col("doc_id") < 250),
          "doc_id", "text", c => Dedup.hashedShingles(TextAnalysis.tokenSet(c)),
          numHashes = 125, bands = 25)
        val idxStore = new graft.sync.ParquetStore(s, idxDir)
        idxStore.write(built.bandIndex, "band_index")
        idxStore.write(built.shingleSets, "shingle_sets")
        val index = Dedup.NearDupIndex(
          idxStore.read("band_index").get, idxStore.read("shingle_sets").get)
        val stream = fileStream(s, arrivals, 2, srcDir)
        val dups = Dedup.duplicateIdsStream(
          stream, index, "doc_id", "text",
          c => Dedup.hashedShingles(TextAnalysis.tokenSet(c)),
          num = 9, den = 10, numHashes = 125, bands = 25,
          eventTimeCol = timestamp_micros(lit(86400000000L)),
          watermarkDelay = "10 minutes")
        val sink = s"q121_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val q = dups.writeStream.format("memory").queryName(sink)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        drainSink(s, sink, s.table(sink).orderBy("doc_id"))
      } }
    }),

    // STREAMING maintained materialized view: per-customer order stats
    // fold batch-by-batch (THREE micro-batches, maxFilesPerTrigger=1)
    // through the q114 merge algebra, and the final state must equal the
    // direct aggregate over all orders (q114's SAME full SQL oracle) —
    // the continuously-maintained-dashboard deployment. The atomic
    // state+__last_batch marker write makes replayed batches skip instead
    // of double-counting (maintainStats scaladoc)
    // q123 grades the streaming maintained view against q114's batch oracle
    Query("q123_stream_maintained_view",
      "SELECT o_custkey, CAST(count(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS n, CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_v, CAST(min(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS min_v, CAST(max(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS max_v FROM orders GROUP BY o_custkey ORDER BY o_custkey", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast(LongType).as("cents"))
      withTempDir("q123") { tmp =>
        val (srcDir, ckDir, outDir) = (s"$tmp/src", s"$tmp/ck", s"$tmp/out")
        val stream = fileStream(s, o, 3, srcDir)
        val store = new graft.sync.ParquetStore(s, outDir)
        IncrementalStream.maintainStats(stream, Seq("o_custkey"), "cents",
          store, "stats", checkpointDir = ckDir).awaitTermination()
        store.read("stats").get.drop("__last_batch")
          .select(col("o_custkey"), col("n"), col("sum_v"), col("min_v"), col("max_v"))
          .orderBy("o_custkey").localCheckpoint()
      }
    }),

    // STREAMING retrieval serving: the 25 query vectors arrive across TWO
    // micro-batches (maxFilesPerTrigger=1 over a 2-file copy) and each
    // batch fetches its exact top-5 from the static corpus via foreachBatch
    // knnJoin — the accumulated serving log must equal batch q112
    // row-for-row (SAME full SQL oracle): per-query independence makes the
    // result batch-partitioning-invariant, and grading across a real
    // 2-batch split is what proves it
    // q122 grades the streaming serving loop against q112's batch oracle
    Query("q122_stream_knn_serve",
      "WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 25), s AS (SELECT q.query_id, e.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.query_id ORDER BY list_cosine_similarity(e.embedding, q.qv) DESC, e.vec_id) AS rn FROM embeddings e, q WHERE e.vec_id <> q.query_id) SELECT query_id, neighbor_id FROM s WHERE rn <= 5 ORDER BY query_id, neighbor_id", (s, dir) => {
      import graft.sync.ParquetStore
      val emb = t(s, dir, "embeddings")
      withTempDir("q122") { tmp =>
        val (srcDir, ckDir, outDir) = (s"$tmp/src", s"$tmp/ck", s"$tmp/out")
        val stream = fileStream(s, emb.filter(col("vec_id") < 25), 2, srcDir)
        val store = new ParquetStore(s, outDir)
        val q = IncrementalStream.knnServe(stream, emb, "vec_id", "embedding",
          k = 5, store, "served", checkpointDir = ckDir)
        q.awaitTermination()
        store.read("served").get
          .select(col("query_id"), col("neighbor_id"))
          .orderBy("query_id", "neighbor_id").localCheckpoint()
      }
    }),

    // CONTINUOUS ANN index maintenance — the third side of the serving
    // triangle (q121 ingest gate, q122 query serving, THIS keeps the
    // served index fresh): the full embedding table arrives across THREE
    // micro-batches, each assigned to the FIXED coarse quantizer and
    // appended to the persisted assigned table; the accumulated index
    // must be ROW-IDENTICAL (vec_id, __centroid) to a from-scratch batch
    // ivfIndex build over the same vectors — full-outer parity, graded as
    // a violations contract. Per-batch cost is the batch's own rows
    // against numCentroids literals; the accumulated index is never
    // re-scanned for assignment
    // q124: incremental-vs-batch index build parity is a Spark-side
    // full-outer contract (the q113 pattern)
    Query("q124_stream_index_ingest", InvariantOracleSql, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      withTempDir("q124") { tmp =>
        val (srcDir, ckDir, outDir) = (s"$tmp/src", s"$tmp/ck", s"$tmp/out")
        val batchIdx = Similarity.ivfIndex(emb, "vec_id", "embedding", numCentroids = 8)
        val stream = fileStream(s, emb, 3, srcDir)
        val store = new graft.sync.ParquetStore(s, outDir)
        IncrementalStream.indexIngest(stream, batchIdx.cents, "vec_id", "embedding",
          store, "assigned", checkpointDir = ckDir).awaitTermination()
        val inc = store.read("assigned").get.select(col("vec_id"), col("__centroid"))
        // row-count equality alongside the full-outer parity (the q120
        // pattern): a duplicate (vec_id, __centroid) row in the ingested
        // index — the exact failure the retry guard exists to prevent —
        // matches both sides of the full outer and would otherwise be
        // invisible to the null check, while double-serving neighbors
        val nBatch = batchIdx.assigned.count()
        parity(batchIdx.assigned.select(col("vec_id"), col("__centroid")), inc,
          Seq("vec_id", "__centroid"), rows = Some(nBatch)).localCheckpoint()
      }
    }),

    // CCNet-style LM-surprise quality partition through a PERSISTED bigram
    // model: the reference half (doc_id < 250) trains bigramCounts once,
    // the model table round-trips through parquet (train-once/score-many,
    // the q121 index pattern), and every scored doc (doc_id >= 250, >= 1
    // bigram) gets its integer-exact out-of-model rate and head/middle/
    // tail bucket (head <= 1/10, middle <= 1/2). Integer (n_oov,
    // n_bigrams) instead of float log-prob sums: bucket boundaries are
    // bit-identical across engines, which a last-ulp perplexity rank is
    // not
    // q125: reference LM = DISTINCT bigram types of doc_id < 250; per
    // scored doc, bigram occurrences and out-of-model occurrences, with
    // the integer-threshold head(<=1/10)/middle(<=1/2)/tail bucketing
    Query("q125_lm_quality_buckets",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), bg AS (SELECT doc_id, unnest([ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))]) AS b FROM tok WHERE len(ts) >= 2), ref AS (SELECT DISTINCT b FROM bg WHERE doc_id < 250), sc AS (SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, CAST(sum(CASE WHEN ref.b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov FROM bg LEFT JOIN ref ON bg.b = ref.b WHERE bg.doc_id >= 250 GROUP BY bg.doc_id) SELECT doc_id, n_bigrams, n_oov, CASE WHEN n_oov * 10 <= n_bigrams THEN 'head' WHEN n_oov * 2 <= n_bigrams THEN 'middle' ELSE 'tail' END AS bucket FROM sc ORDER BY doc_id""", (s, dir) => {
      val docs = tw(s, dir, "documents")
      withTempDir("q125") { tmp =>
        val store = new graft.sync.ParquetStore(s, tmp)
        store.write(NgramStats.bigramCounts(
          docs.filter(col("doc_id") < 250), "doc_id", "text"), "lm")
        NgramStats.oovBuckets(docs.filter(col("doc_id") >= 250),
            store.read("lm").get, "doc_id", "text")
          .orderBy("doc_id").localCheckpoint()
      }
    }),

    // The SAME quality partition deployed at ingest: arrivals (doc_id >=
    // 250) stream across TWO micro-batches through the persisted bigram
    // model and their verdicts accumulate under the lineage-stamped retry
    // guard — the accumulated table must equal batch q125 row-for-row
    // (SAME full SQL oracle), proving the gate is batch-partitioning-
    // invariant and the curation decision does not depend on how arrivals
    // were split
    // q126 grades the streaming gate against q125's SAME oracle (the
    // q122/q112 pairing pattern)
    Query("q126_stream_quality_gate",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), bg AS (SELECT doc_id, unnest([ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))]) AS b FROM tok WHERE len(ts) >= 2), ref AS (SELECT DISTINCT b FROM bg WHERE doc_id < 250), sc AS (SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, CAST(sum(CASE WHEN ref.b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov FROM bg LEFT JOIN ref ON bg.b = ref.b WHERE bg.doc_id >= 250 GROUP BY bg.doc_id) SELECT doc_id, n_bigrams, n_oov, CASE WHEN n_oov * 10 <= n_bigrams THEN 'head' WHEN n_oov * 2 <= n_bigrams THEN 'middle' ELSE 'tail' END AS bucket FROM sc ORDER BY doc_id""", (s, dir) => {
      val docs = t(s, dir, "documents")
      withTempDir("q126") { tmp =>
        val (srcDir, ckDir, outDir) = (s"$tmp/src", s"$tmp/ck", s"$tmp/out")
        val store = new graft.sync.ParquetStore(s, outDir)
        val lmStore = new graft.sync.ParquetStore(s, s"$tmp/lm")
        lmStore.write(NgramStats.bigramCounts(
          docs.filter(col("doc_id") < 250), "doc_id", "text"), "lm")
        val arrivals = docs.filter(col("doc_id") >= 250)
        val stream = fileStream(s, arrivals, 2, srcDir)
        IncrementalStream.qualityGate(stream, lmStore.read("lm").get,
          "doc_id", "text", store, "verdicts", checkpointDir = ckDir)
          .awaitTermination()
        store.read("verdicts").get
          .select(col("doc_id"), col("n_bigrams"), col("n_oov"), col("bucket"))
          .orderBy("doc_id").localCheckpoint()
      }
    }),

    // REAL pixel resize graded end-to-end: planted PNGs with a per-pixel
    // integer formula, resized to the fixed 8x6 vision-encoder shape by
    // nearest-neighbor (src = dst * srcDim / dstDim, floor — pure integer
    // math), PNG re-encoded (lossless both ways), re-decoded, and EVERY
    // output pixel must equal the formula at its mapped source index.
    // Sources span 1x1..37x23, so both up- and down-scaling paths and the
    // degenerate single-pixel image are all exercised; a filtering kernel,
    // an index off-by-one, or a lossy re-encode cannot pass
    Query("q120_image_resize", InvariantOracleSql, (s, dir) => {
      import s.implicits._
      implicit val session: SparkSession = s
      val (tw, th) = (8, 6)
      def pix(id: Long, x: Int, y: Int): Int =
        (((id * 2654435761L) + x * 31L + y * 67L) & 0xffffffL).toInt
      val media = t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val (w, h) = (1 + (id % 37).toInt, 1 + (id % 23).toInt)
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { img.setRGB(x, y, pix(id, x, y)); x += 1 }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            Multimodal.MediaRecord(id, bos.toByteArray)
          }
        }.toDF()
      val bad = Multimodal.resizeImages(media, tw, th).mapPartitions { it =>
        it.map { r =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.media))
          val (w, h) = (1 + (r.doc_id % 37).toInt, 1 + (r.doc_id % 23).toInt)
          var n = 0L
          if (img == null || img.getWidth != tw || img.getHeight != th) n = 1L
          else {
            var y = 0
            while (y < th) {
              var x = 0
              while (x < tw) {
                if ((img.getRGB(x, y) & 0xffffff) != pix(r.doc_id, x * w / tw, y * h / th))
                  n += 1
                x += 1
              }
              y += 1
            }
          }
          n
        }
      }.toDF("bad")
      // row-count equality, not just per-surviving-row checks: resizeImages
      // DROPS undecodable rows, so a decode/encode regression losing a
      // subset of images would otherwise leave only passing rows behind
      // (every planted PNG is decodable by construction, so output must be
      // exactly one row per document). Subsumes violations()'s empty guard.
      val nIn = t(s, dir, "documents").count()
      bad.agg((coalesce(sum(when(col("bad") > 0L, 1L).otherwise(0L)), lit(0L))
        + when(count(lit(1)) =!= nIn, 1L).otherwise(0L)).as("violations"))
    }),

    // SPAN-LEVEL (surgical) decontamination: instead of q49's drop-the-
    // document gate, count exactly the token positions covered by at
    // least one contaminated 13-gram window (union of overlapping
    // windows) — the Lee-et-al-style removal accounting that keeps a
    // mostly-clean document's other tokens. Every corpus doc (>= 250)
    // appears, clean ones with n_removed = 0; the benchmark side is the
    // same doc_id < 250 split as q49/q119 so the three decontamination
    // deployments grade against one data story
    // q129: covered-position union of contaminated 13-gram windows, per
    // corpus doc (1-based positions in SQL, 0-based in Spark — counts
    // are index-base-invariant)
    Query("q129_decontaminate_spans",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), g AS (SELECT doc_id, pos, array_to_string(ts[pos:pos+12], ' ') AS g FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 11)) AS pos FROM tok WHERE len(ts) >= 13)), bench AS (SELECT DISTINCT g FROM g WHERE doc_id < 250), hit AS (SELECT doc_id, pos FROM g WHERE doc_id >= 250 AND g IN (SELECT g FROM bench)), cov AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 13)) AS p FROM hit), rem AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed FROM cov GROUP BY doc_id) SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens, coalesce(rem.n_removed, CAST(0 AS BIGINT)) AS n_removed FROM tok t LEFT JOIN rem USING (doc_id) WHERE t.doc_id >= 250 ORDER BY t.doc_id""", (s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.contaminatedSpanStats(
          docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    // q130: q129's surgical scrub deployed AT INGEST — arrivals are span-
    // scrubbed per micro-batch against the persisted benchmark under the
    // lineage-stamped retry guard; graded across a real 2-micro-batch
    // arrival against the batch oracle's clean-text reconstruction
    // (batch-partitioning invariance of the scrub)
    // q130 grades the streaming span-scrub gate against the batch scrub's
    // clean-text reconstruction: q129's covered-position CTE, then each
    // doc's tokens with covered 1-based positions removed, re-joined with
    // single spaces (base-invariant — Spark filters 0-based positions)
    Query("q130_stream_scrub_spans",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), g AS (SELECT doc_id, pos, array_to_string(ts[pos:pos+12], ' ') AS g FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 11)) AS pos FROM tok WHERE len(ts) >= 13)), bench AS (SELECT DISTINCT g FROM g WHERE doc_id < 250), hit AS (SELECT doc_id, pos FROM g WHERE doc_id >= 250 AND g IN (SELECT g FROM bench)), cov AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 13)) AS p FROM hit), cv AS (SELECT doc_id, list(p) AS ps FROM cov GROUP BY doc_id) SELECT t.doc_id, coalesce(array_to_string([t.ts[i] for i in range(1, len(t.ts) + 1) if NOT list_contains(coalesce(cv.ps, []), i)], ' '), '') AS clean_text FROM tok t LEFT JOIN cv USING (doc_id) WHERE t.doc_id >= 250 ORDER BY t.doc_id""", (s, dir) => {
      val docs = t(s, dir, "documents")
      withTempDir("q130") { tmp =>
        val (srcDir, ckDir, outDir) = (s"$tmp/src", s"$tmp/ck", s"$tmp/out")
        val store = new graft.sync.ParquetStore(s, outDir)
        val benchStore = new graft.sync.ParquetStore(s, s"$tmp/bench")
        benchStore.write(docs.filter(col("doc_id") < 250), "bench")
        val arrivals = docs.filter(col("doc_id") >= 250)
        val stream = fileStream(s, arrivals, 2, srcDir)
        IncrementalStream.spanScrubGate(stream, benchStore.read("bench").get,
          "doc_id", "text", store, "clean", checkpointDir = ckDir)
          .awaitTermination()
        store.read("clean").get
          .select(col("doc_id"), array_join(col("clean_tokens"), " ").as("clean_text"))
          .orderBy("doc_id").localCheckpoint()
      }
    }),

    // q131: SQ8 completes the quantization matrix (PQ q117, IVF-PQ q118,
    // THIS): the keep-everything shortlist must equal exact knnJoin
    // pair-for-pair AND the tight funnel must still retrieve each query's
    // planted exact twin — the q117 violations contract verbatim
    // q131: full-shortlist parity with exact knnJoin + tight-funnel twin
    // retrieval, both Spark-side (the q117 violations contract)
    Query("q131_sq_knn_parity", InvariantOracleSql, (s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val queries = emb.filter(col("vec_id") < 25)
      val twinBase = 1000000L
      val corpus = emb.unionByName(
        queries.select((col("vec_id") + twinBase).as("vec_id"), col("embedding")))
      val p = Similarity.sqTrain(corpus, "embedding", dim = 64)
      val encoded = Similarity.sqEncode(corpus, "vec_id", "embedding", p)
      val exact = Similarity.knnJoin(queries, corpus, "vec_id", "embedding", 5)
      val full = Similarity.knnJoinSq(encoded, corpus, p, queries,
        "vec_id", "embedding", k = 5, shortlist = 1 << 20)
      val parityViol = exact.withColumn("__x", lit(1))
        .join(full.withColumn("__y", lit(1)),
          Seq("query_id", "neighbor_id"), "full_outer")
        .filter(col("__x").isNull || col("__y").isNull)
        .count()
      val tight = Similarity.knnJoinSq(encoded, corpus, p, queries,
        "vec_id", "embedding", k = 5, shortlist = 40)
      val twinHits = tight
        .filter(col("neighbor_id") === col("query_id") + twinBase)
        .count()
      s.range(1).select(lit(parityViol + (25L - twinHits)).as("violations"))
    }),

    // q132: leakage-safe split over the q33 near-dup components — a
    // near-dup cluster moves as a unit, so paraphrases of training docs
    // can never land in val/test; the FULL per-doc assignment is graded
    // (q33's recursive-CTE canon + an md5-hex-prefix bucket both engines
    // compute from the same digest)
    // q132: q33's recursive-CTE component canon + the md5-hex-prefix
    // bucket — both engines derive the split from the same string digest
    Query("q132_leakage_safe_split",
      """WITH RECURSIVE tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), tri AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts)-1), i -> ts[i]||' '||ts[i+1]||' '||ts[i+2])) AS gs FROM tok WHERE len(ts) >= 3), pairs AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM tri a JOIN tri b ON a.doc_id <> b.doc_id WHERE len(list_intersect(a.gs, b.gs)) * 10 >= len(list_distinct(list_concat(a.gs, b.gs))) * 7), reach AS (SELECT doc_id AS id, doc_id AS r FROM documents UNION SELECT p.dst, reach.r FROM reach JOIN pairs p ON p.src = reach.id), canon AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS canon FROM reach GROUP BY id) SELECT doc_id, canon, CASE WHEN md5('graft-split:' || CAST(canon AS VARCHAR)) < 'c0' THEN 'train' WHEN md5('graft-split:' || CAST(canon AS VARCHAR)) < 'e0' THEN 'val' ELSE 'test' END AS split FROM canon ORDER BY doc_id""", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDupsHashed(docs, "doc_id", "text",
        Dedup.hashedWordNgrams(_, 3), num = 7, den = 10, numHashes = 256, bands = 64)
      Sampling.groupSplit(docs.select(col("doc_id")), "doc_id", pairs)
        .select(col("doc_id"), col("canon"), col("split"))
        .orderBy("doc_id")
    }),

    // q133: hard-negative mining for contrastive training — each of the
    // first 25 vectors retrieves its 5 most-similar CROSS-label corpus
    // rows below the 0.95 near-dup ceiling (q112's plan shape with the
    // label predicate and ceiling fused into the scan). The ceiling is
    // inert on the graded data by MEASURED margin — max cross-label
    // cosine is 0.493 at sf0.01 / 0.480 at sf0.1, 0.45+ below the
    // ceiling — so the brute-force DuckDB oracle cannot flip on float
    // association; the ceiling's exclusion semantics are graded in
    // SimilaritySpec with planted cross-label twins at cosine exactly 1.0
    // q133: q112's brute-force ranking oracle plus the cross-label
    // predicate and the (measured-inert on this data) near-dup ceiling
    Query("q133_hard_negatives",
      "WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql FROM embeddings WHERE vec_id < 25), s AS (SELECT q.query_id, e.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.query_id ORDER BY list_cosine_similarity(e.embedding, q.qv) DESC, e.vec_id) AS rn FROM embeddings e, q WHERE e.vec_id <> q.query_id AND e.label <> q.ql AND list_cosine_similarity(e.embedding, q.qv) < 0.95) SELECT query_id, neighbor_id FROM s WHERE rn <= 5 ORDER BY query_id, neighbor_id", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb.filter(col("vec_id") < 25), emb,
          "vec_id", "embedding", "label", k = 5)
        .orderBy("query_id", "neighbor_id")
    }),

    // q134: nearest-centroid label audit (confident-learning screening) —
    // per-label mean centroids in one aggregate pass, every vector
    // assigned to its most-similar centroid as literals in a NARROW scan
    // (no join/window/shuffle on the corpus side); rows whose nearest
    // centroid differs from their own label are the mislabel candidates.
    // The FULL per-vector assignment is graded; the best-vs-second
    // centroid margin in this data is >= 2.7e-5 at both SFs (measured),
    // ten orders above the ~1e-15 summation-order difference between
    // engines
    // q134: per-label mean centroids (double, like Spark's avg), then
    // argmax-cosine assignment with the same (score DESC, label ASC)
    // tie-break; generate_subscripts is 1-based vs posexplode's 0-based —
    // positions only ORDER the centroid lists, so the base cancels
    Query("q134_centroid_audit",
      "WITH dims AS (SELECT label, pos, avg(v) AS c FROM (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS pos FROM embeddings) GROUP BY label, pos), cents AS (SELECT label AS clabel, list(c ORDER BY pos) AS cv FROM dims GROUP BY label), scored AS (SELECT e.vec_id, e.label, c.clabel, list_cosine_similarity(e.embedding, c.cv) AS s FROM embeddings e, cents c), ranked AS (SELECT vec_id, label, clabel, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, clabel) AS rn FROM scored) SELECT vec_id, CAST(label AS BIGINT) AS label, CAST(clabel AS BIGINT) AS centroid_label FROM ranked WHERE rn = 1 ORDER BY vec_id", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.centroidAudit(emb, "vec_id", "embedding", "label")
        .orderBy("vec_id")
    }),

    // q135: the distributed core of BPE tokenizer training — adjacent
    // char-pair counts over the word-frequency table (|vocab| weighted
    // rows, never |corpus| token occurrences), top 50 by count with a
    // full deterministic (cnt DESC, pair ASC) tie-break; integer counts,
    // so the two engines cannot drift
    // q135: same two-stage count — word frequencies, then len-1 adjacent
    // char pairs per distinct word weighted by frequency
    Query("q135_bpe_pair_counts",
      "WITH words AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents), wf AS (SELECT w, count(*) AS c FROM words GROUP BY w), pairs AS (SELECT unnest([w[i:i+1] for i in range(1, len(w))]) AS pair, c FROM wf WHERE len(w) >= 2) SELECT pair, CAST(sum(c) AS BIGINT) AS cnt FROM pairs GROUP BY pair ORDER BY cnt DESC, pair LIMIT 50", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.bpePairCounts(docs, "text")
        .orderBy(col("cnt").desc, col("pair")).limit(50)
    }),

    // q139: continuously maintained approximate-distinct view — HLL state
    // through the maintainStats skip-or-merge machinery. Two-sided
    // contract: (a) MERGE-ORDER INVARIANCE — the streamed sequential fold
    // must equal a one-shot hll_union_agg over the same per-file partials
    // (register-max union is commutative/associative; a direct
    // sketch-of-the-union is deliberately NOT the comparator — past
    // sparse mode DataSketches' union promotes through a dense target
    // type and the estimates differ, measured 1488 vs 1494 at sf0.1);
    // (b) ACCURACY — the estimate within 5% of the exact per-key distinct
    // (default lgK=12 is ~1.6% rel. error; measured 0.8% at sf0.1)
    // q139: engine-internal sketch bits — graded as the Spark-side parity
    // + accuracy contract (maintained == batch sketch; estimate within 5%)
    Query("q139_stream_distinct_view", InvariantOracleSql, (s, dir) => {
      val e = t(s, dir, "events").select(col("event_type"), col("user_id"))
      withTempDir("q139") { tmp =>
        val (srcDir, ckDir, outDir) = (s"$tmp/src", s"$tmp/ck", s"$tmp/out")
        val stream = fileStream(s, e, 3, srcDir)
        val store = new graft.sync.ParquetStore(s, outDir)
        IncrementalStream.maintainDistinct(stream, Seq("event_type"), "user_id",
          store, "distinct", checkpointDir = ckDir).awaitTermination()
        val maintained = store.read("distinct").get
          .select(col("event_type"), hll_sketch_estimate(col("hll")).as("est"))
        // the same per-file partials the stream saw, unioned in ONE agg
        val files = new java.io.File(srcDir).listFiles
          .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
        val oneShot = files.map(f =>
            s.read.parquet(f).groupBy("event_type")
              .agg(hll_sketch_agg(col("user_id")).as("hll")))
          .reduce(_ unionByName _)
          .groupBy("event_type")
          .agg(hll_sketch_estimate(hll_union_agg(col("hll"))).as("best"))
        val exact = e.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact"))
        maintained.join(oneShot, Seq("event_type"), "full_outer")
          .join(exact, Seq("event_type"), "full_outer")
          .agg(violations(
            col("est").isNull || col("best").isNull || col("est") =!= col("best") ||
              abs(col("est") - col("exact")) > col("exact") * 0.05))
          .localCheckpoint()
      }
    }),

    // q137: temperature-flattened mixture rates over the skewed lang
    // column (en ~2.8x the tail) — the multilingual alpha=0.5 rebalance,
    // graded bit-exactly (integer counts through correctly-rounded
    // division + sqrt; see Sampling.temperatureRates determinism note)
    // q137: (n/n_max) and sqrt are correctly-rounded IEEE ops on exact
    // integer counts — the alpha=0.5 rate is bit-identical across engines
    Query("q137_temperature_mix",
      "WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang) SELECT lang, CAST(n AS BIGINT) AS n_docs, sqrt(CAST(n AS DOUBLE) / (SELECT CAST(max(n) AS DOUBLE) FROM c)) AS rate FROM c ORDER BY lang", (s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.temperatureRates(docs, "lang").orderBy("lang")
    }),

    // q138: deterministic epoch expansion — en dropped (0 epochs), de
    // walked 3x with a 0-based epoch index, everything else once; the
    // full (doc_id, epoch) replication table is graded
    // q138: per-source replication with a 0-based epoch index; zero
    // repeats drop the source, absent sources default to 1
    Query("q138_epoch_expand",
      "SELECT doc_id, unnest(range(CASE WHEN lang = 'en' THEN 0 WHEN lang = 'de' THEN 3 ELSE 1 END)) AS epoch FROM documents ORDER BY doc_id, epoch", (s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.epochExpand(docs, "lang", Map("en" -> 0, "de" -> 3))
        .select(col("doc_id"), col("epoch"))
        .orderBy("doc_id", "epoch")
    }),

    // q140: BM25 top-10 lexical retrieval for three fixed query strings —
    // graded on the integer rank skeleton (query_id, rank, doc_id,
    // n_terms); the float score column is dropped (the q58 tf-idf
    // precedent: ranking-only float compares). Exact-duplicate docs score
    // bit-equal WITHIN each engine (sorted-token contribution fold — see
    // TfIdf.bm25TopK's determinism note), so the (score DESC, doc_id)
    // tie-break agrees cross-engine; distinct-doc adjacent-rank margins
    // measured >= 3.87e-5 at sf0.01 and >= 9.1e-5 at sf0.1 (no exact ties
    // in any top-11), ten orders above ln() last-ulp noise
    // q140: same BM25 formula shape and constant spellings as the Spark
    // side (k1=1.2 written "1.2", k1+1 written "(1.2 + 1)" — the Scala
    // double add, NOT the literal 2.2, which is a different double);
    // contributions fold in token order (list ORDER BY token, sequential
    // list_aggregate) mirroring the Spark sorted-fold, so exact-twin docs
    // tie exactly and break by doc_id identically
    Query("q140_bm25_topk", Bm25OracleSql, (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.TfIdf.bm25TopK(docs, "doc_id", "text", Bm25Queries,
          k = 10, corpusSize = docs.count())
        .select(col("query_id"), col("rank"), col("doc_id"), col("n_terms"))
        .orderBy("query_id", "rank")
    }),

    // q143: the SAME BM25 retrieval deployed as a serving loop — the three
    // index relations round-trip through parquet (build-once/serve-many,
    // the q121/q125 persisted-artifact pattern), the three queries arrive
    // across TWO micro-batches, and the accumulated served log must equal
    // batch q140 row-for-row (SAME full SQL oracle): retrieval is batch-
    // partitioning-invariant because collection statistics are fixed at
    // index build, not recomputed per batch
    Query("q143_stream_bm25_serve", Bm25OracleSql, (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      withTempDir("q143") { tmp =>
        val (srcDir, ckDir, outDir) = (s"$tmp/src", s"$tmp/ck", s"$tmp/out")
        val idxStore = new graft.sync.ParquetStore(s, s"$tmp/idx")
        val built = graft.text.TfIdf.buildBm25Index(docs, "doc_id", "text",
          docs.count())
        idxStore.write(built.postings, "postings")
        idxStore.write(built.docLens, "dl")
        idxStore.write(built.docFreqs, "df")
        // by-name: every batch re-reads the persisted relations; the
        // scalars are index-build constants by contract
        def idx = graft.text.TfIdf.Bm25Index(idxStore.read("postings").get,
          idxStore.read("dl").get, idxStore.read("df").get,
          built.corpusSize, built.avgdl)
        val qdf = Bm25Queries.toDF("query_id", "qtext")
        val stream = fileStream(s, qdf, 2, srcDir)
        val store = new graft.sync.ParquetStore(s, outDir)
        IncrementalStream.bm25Serve(stream, idx, "doc_id", k = 10,
          store, "served", checkpointDir = ckDir).awaitTermination()
        store.read("served").get
          .select(col("query_id"), col("rank"), col("doc_id"), col("n_terms"))
          .orderBy("query_id", "rank").localCheckpoint()
      }
    }),

    // q144: corpus-SELF surgical span removal — every 8-gram window shared
    // by >1 documents is a globally duplicated passage and its covered
    // positions are scrubbed corpus-wide (the RefinedWeb-style boilerplate
    // rule; q129's machinery pointed at the corpus itself). Graded as the
    // per-doc clean-text reconstruction (the q130 precedent)
    // q141/q142: winnowing selects the min md5-hex 3-gram hash per
    // 4-window, rightmost position on ties (max(gpos) among window rows
    // equal to the window min); short docs (1..3 grams) keep their single
    // truncated window via greatest(ng - 4, 0)
    // q144: the q130 clean-text reconstruction shape with the corpus
    // itself as the contamination source (df > 1 over distinct docs)
    Query("q144_self_scrub_spans",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), g AS (SELECT doc_id, pos, array_to_string(ts[pos:pos+7], ' ') AS g FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 6)) AS pos FROM tok WHERE len(ts) >= 8)), hot AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM g) GROUP BY g HAVING count(*) > 1), hit AS (SELECT doc_id, pos FROM g WHERE g IN (SELECT g FROM hot)), cov AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS p FROM hit), cv AS (SELECT doc_id, list(p) AS ps FROM cov GROUP BY doc_id) SELECT t.doc_id, coalesce(array_to_string([t.ts[i] for i in range(1, len(t.ts) + 1) if NOT list_contains(coalesce(cv.ps, []), i)], ' '), '') AS clean_text FROM tok t LEFT JOIN cv USING (doc_id) ORDER BY t.doc_id""", (s, dir) =>
      Decontaminate.selfScrubSpans(tw(s, dir, "documents"), "doc_id", "text",
          n = 8, maxDf = 1)
        .select(col("doc_id"), array_join(col("clean_tokens"), " ").as("clean_text"))
        .orderBy("doc_id")),

    // q145: vocabulary build + token-id encoding — ids 1..200 by (count
    // DESC, token ASC), OOV = 0; the encoded corpus is graded as the full
    // exploded (doc_id, pos, token_id) table. Integer end to end; the
    // truncation-boundary tie-break is a total order in both engines
    // q145: rank the vocabulary by (count DESC, token), truncate to 200,
    // re-walk each doc positionally with OOV -> 0
    Query("q145_vocab_encode", VocabEncodeOracleSql, (s, dir) => {
      val docs = tw(s, dir, "documents")
      val vocab = graft.text.Vocab.build(docs, "text", topN = 200)
      graft.text.Vocab.encode(docs, "doc_id", "text", vocab)
        .select(col("doc_id"), posexplode(col("ids")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").as("token_id"))
        .orderBy("doc_id", "pos")
    }),

    // q146: the SAME encoding deployed at ingest — the vocabulary persists
    // (build-once), arrivals stream across TWO micro-batches through the
    // FIXED collected map, and the accumulated (doc_id, ids) log exploded
    // must equal batch q145 row-for-row (SAME full SQL oracle): encoding
    // is batch-partitioning-invariant because ids are pinned at gate start
    Query("q146_stream_encode_gate", VocabEncodeOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents")
      withTempDir("q146") { tmp =>
        val (srcDir, ckDir, outDir) = (s"$tmp/src", s"$tmp/ck", s"$tmp/out")
        val store = new graft.sync.ParquetStore(s, outDir)
        val vocabStore = new graft.sync.ParquetStore(s, s"$tmp/vocab")
        vocabStore.write(graft.text.Vocab.build(docs, "text", topN = 200), "vocab")
        val stream = fileStream(s, docs, 2, srcDir)
        IncrementalStream.encodeGate(stream, vocabStore.read("vocab").get,
          "doc_id", "text", store, "encoded", checkpointDir = ckDir)
          .awaitTermination()
        store.read("encoded").get
          .select(col("doc_id"), posexplode(col("ids")))
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            col("col").as("token_id"))
          .orderBy("doc_id", "pos").localCheckpoint()
      }
    }),

    // q147: hybrid retrieval — BM25 "more-like-this" (query = each of the
    // first 5 docs' own text, self excluded then re-ranked on the retained
    // score; k+1 fetch since self displaces at most one slot) fused with
    // exact vector k-NN by Reciprocal Rank Fusion. The FUSED score is
    // graded exactly (integer-reciprocal sums, no transcendental — see
    // Fusion.rrf); per-source ranks carry the q140/q112 margin arguments
    // (lexical adjacent-rank margins for THESE doc-text queries measured
    // >= 1.3e-4 at both graded SFs, zero ties; fused nonzero margins >=
    // 2.5e-4, and the 15 exact fused ties are bit-equal reciprocals
    // breaking by doc id identically in both engines)
    // q147: BM25 CTEs follow the q140 shapes (doc-text queries, self
    // excluded before ranking); vector CTE is q112's cosine ranking; the
    // fusion folds 1.0/(60+rank) (DOUBLE division in both engines) in
    // sorted source order and the fused score is hash-graded exactly
    Query("q147_hybrid_rrf",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), tu AS (SELECT doc_id, unnest(ts) AS token FROM tok), tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tu GROUP BY 1, 2), dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1), st AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n, CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl), dfx AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM (SELECT DISTINCT doc_id, token FROM tu) GROUP BY 1), qt AS (SELECT doc_id AS query_id, unnest(list_distinct(ts)) AS token FROM tok WHERE doc_id < 5), m AS (SELECT qt.query_id, tf.doc_id, tf.token, ln(1 + (st.n - dfx.df + 0.5) / (dfx.df + 0.5)) * ((tf.tf * (1.2 + 1)) / (tf.tf + 1.2 * ((1 - 0.75) + 0.75 * (dl.dl / st.avgdl)))) AS c FROM qt JOIN dfx USING (token) JOIN tf USING (token) JOIN dl USING (doc_id), st), sL AS (SELECT query_id, doc_id, list_aggregate(list(c ORDER BY token), 'sum') AS score FROM m GROUP BY 1, 2), lex AS (SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM sL WHERE doc_id <> query_id), vq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5), vs AS (SELECT vq.query_id, e.vec_id AS doc_id, row_number() OVER (PARTITION BY vq.query_id ORDER BY list_cosine_similarity(e.embedding, vq.qv) DESC, e.vec_id) AS rank FROM embeddings e, vq WHERE e.vec_id <> vq.query_id), u AS (SELECT query_id, doc_id, 'lex' AS src, 1.0 / (60 + rank) AS c FROM lex WHERE rank <= 10 UNION ALL SELECT query_id, doc_id, 'vec' AS src, 1.0 / (60 + rank) AS c FROM vs WHERE rank <= 10), f AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_sources, list_aggregate(list(c ORDER BY src), 'sum') AS score FROM u GROUP BY 1, 2), r AS (SELECT query_id, doc_id, n_sources, score, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk FROM f) SELECT query_id, CAST(rnk AS BIGINT) AS rank, doc_id, n_sources, score FROM r WHERE rnk <= 5 ORDER BY query_id, rank""", (s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val idx = graft.text.TfIdf.buildBm25Index(docs, "doc_id", "text",
        docs.count())
      val qdf = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text").as("qtext"))
      val wl = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))
      val lex = graft.text.TfIdf.bm25Join(idx, "doc_id", qdf, k = 11)
        .filter(col("doc_id") =!= col("query_id"))
        .withColumn("rank", row_number().over(wl).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val vec = Similarity.knnJoinRanked(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      graft.similarity.Fusion.rrf(Seq(("lex", lex), ("vec", vec)), "doc_id",
          k0 = 60, topK = 5)
        .orderBy("query_id", "rank")
    }),

    // q148: winnowing's overlap detection deployed at ingest — the corpus
    // half (doc_id < 250) fingerprints ONCE into a persisted, hot-gated
    // index; arrivals (doc_id >= 250) stream across TWO micro-batches,
    // each fingerprinting itself and probing the index; (arrival, corpus,
    // n_shared) pairs at >= 2 shared fingerprints accumulate under the
    // retry guard and must equal the batch cross-half overlap (full
    // DuckDB oracle over the same split). Integer counts end to end
    // q148: same winnowing CTEs as q141/q142; the df gate runs over the
    // CORPUS half only (the index's build-time gate), pairs cross halves
    Query("q148_stream_overlap_gate",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS gpos, md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS gh FROM tok, LATERAL unnest(range(1, len(ts) - 1)) AS t(i) WHERE len(ts) >= 3), n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ng FROM g GROUP BY 1), mw AS (SELECT doc_id, gpos, min(gh) OVER (PARTITION BY doc_id ORDER BY gpos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh FROM g), w AS (SELECT mw.doc_id, mw.gpos AS wpos, mw.mh FROM mw JOIN n USING (doc_id) WHERE mw.gpos <= greatest(n.ng - 4, 0)), fpd AS (SELECT DISTINCT w.doc_id, w.mh AS fp FROM w), corpus AS (SELECT * FROM fpd WHERE doc_id < 250), rare AS (SELECT fp FROM corpus GROUP BY fp HAVING count(*) <= 100), ci AS (SELECT c.fp, c.doc_id FROM corpus c JOIN rare USING (fp)), arr AS (SELECT * FROM fpd WHERE doc_id >= 250) SELECT a.doc_id AS id_a, c.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared FROM arr a JOIN ci c ON a.fp = c.fp GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY id_a, id_b""", (s, dir) => {
      val docs = t(s, dir, "documents")
      withTempDir("q148") { tmp =>
        val (srcDir, ckDir, outDir) = (s"$tmp/src", s"$tmp/ck", s"$tmp/out")
        val store = new graft.sync.ParquetStore(s, outDir)
        val idxStore = new graft.sync.ParquetStore(s, s"$tmp/idx")
        idxStore.write(graft.text.Winnow.buildOverlapIndex(
          docs.filter(col("doc_id") < 250), "doc_id", "text"), "fps")
        val arrivals = docs.filter(col("doc_id") >= 250)
        val stream = fileStream(s, arrivals, 2, srcDir)
        IncrementalStream.overlapGate(stream, idxStore.read("fps").get,
          "doc_id", "text", store, "pairs", checkpointDir = ckDir)
          .awaitTermination()
        store.read("pairs").get
          .select(col("id_a"), col("id_b"), col("n_shared"))
          .orderBy("id_a", "id_b").localCheckpoint()
      }
    }),

    // q141: winnowing (MOSS) fingerprints, k=3-gram, window w=4 — the full
    // (doc_id, pos, fp) selected-fingerprint table, md5-hex hashes so both
    // engines order identically (the q132 cross-engine-md5 precedent);
    // shuffle-free array-domain plan pinned in PlanShapeSpec
    Query("q141_winnow_fingerprints",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS gpos, md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS gh FROM tok, LATERAL unnest(range(1, len(ts) - 1)) AS t(i) WHERE len(ts) >= 3), n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ng FROM g GROUP BY 1), mw AS (SELECT doc_id, gpos, min(gh) OVER (PARTITION BY doc_id ORDER BY gpos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh FROM g), w AS (SELECT mw.doc_id, mw.gpos AS wpos, mw.mh FROM mw JOIN n USING (doc_id) WHERE mw.gpos <= greatest(n.ng - 4, 0)), sel AS (SELECT w.doc_id, max(g2.gpos) AS pos, w.mh AS fp FROM w JOIN g g2 ON g2.doc_id = w.doc_id AND g2.gpos BETWEEN w.wpos AND w.wpos + 3 AND g2.gh = w.mh GROUP BY w.doc_id, w.wpos, w.mh) SELECT DISTINCT doc_id, pos, fp FROM sel ORDER BY doc_id, pos, fp""", (s, dir) =>
      graft.text.Winnow.fingerprints(tw(s, dir, "documents"), "doc_id", "text",
          k = 3, w = 4)
        .orderBy("doc_id", "pos", "fp")),

    // q142: MOSS overlap candidates over the q141 fingerprints — doc pairs
    // sharing >= 2 distinct fingerprint hashes after the df<=100 hot-gram
    // gate (pairing on a fingerprint every doc shares is quadratic and
    // identifies nothing); integer counts end to end
    Query("q142_winnow_overlap",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS gpos, md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS gh FROM tok, LATERAL unnest(range(1, len(ts) - 1)) AS t(i) WHERE len(ts) >= 3), n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ng FROM g GROUP BY 1), mw AS (SELECT doc_id, gpos, min(gh) OVER (PARTITION BY doc_id ORDER BY gpos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh FROM g), w AS (SELECT mw.doc_id, mw.gpos AS wpos, mw.mh FROM mw JOIN n USING (doc_id) WHERE mw.gpos <= greatest(n.ng - 4, 0)), fpd AS (SELECT DISTINCT w.doc_id, w.mh AS fp FROM w), rare AS (SELECT fp FROM fpd GROUP BY fp HAVING count(*) <= 100), pr AS (SELECT f.fp, f.doc_id FROM fpd f JOIN rare USING (fp)) SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY id_a, id_b""", (s, dir) => {
      val fps = graft.text.Winnow.fingerprints(tw(s, dir, "documents"),
        "doc_id", "text", k = 3, w = 4)
      graft.text.Winnow.overlapCandidates(fps, "doc_id",
          minShared = 2, maxDocsPerFp = 100)
        .orderBy("id_a", "id_b")
    }),

    // q136: contrastive triplet mining — for each of the first 25
    // vectors, the top same-label neighbor (positive) and top cross-label
    // neighbor below the near-dup ceiling (negative), both picked by ONE
    // corpus scan + one rank window. Ranking-only float compares (the
    // q112 precedent); the ceiling is measured-inert on this data (q133)
    // q136: two ranked CTE sides (same-label top-1, cross-label-below-
    // ceiling top-1) joined per anchor; anchors missing either side drop
    Query("q136_triplet_mining",
      "WITH q AS (SELECT vec_id AS anchor_id, embedding AS qv, label AS ql FROM embeddings WHERE vec_id < 25), s AS (SELECT q.anchor_id, e.vec_id AS nid, e.label = q.ql AS pos, list_cosine_similarity(e.embedding, q.qv) AS sc FROM embeddings e, q WHERE e.vec_id <> q.anchor_id), f AS (SELECT * FROM s WHERE pos OR sc < 0.95), r AS (SELECT anchor_id, nid, pos, row_number() OVER (PARTITION BY anchor_id, pos ORDER BY sc DESC, nid) AS rn FROM f) SELECT p.anchor_id, p.nid AS positive_id, n.nid AS negative_id FROM r p JOIN r n ON p.anchor_id = n.anchor_id AND n.rn = 1 AND NOT n.pos WHERE p.rn = 1 AND p.pos ORDER BY p.anchor_id", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.miningTriplets(emb.filter(col("vec_id") < 25), emb,
          "vec_id", "embedding", "label")
        .orderBy("anchor_id")
    }),

    // STREAMING embedding-dedup gate — the semantic member of the ingest
    // triad (q121 text near-dup, q126 LM quality, THIS): arrivals are 50
    // exact twins of corpus vectors (relabeled +1e6, cosine exactly 1.0)
    // plus 25 negated vectors (+2e6, cosine -1 to their source; nearest
    // corpus cosine measured <= 0.50 at both graded SFs, a wide margin
    // around the 0.95 threshold), streamed across TWO micro-batches; the
    // accumulated reject log must be exactly the twin ids — graded
    // against a brute-force DuckDB cosine oracle (the q96 float-compare
    // precedent). Per batch the arrivals broadcast into ONE corpus scan
    // q128: brute-force cosine membership of the constructed arrivals
    // against the corpus (the q96 precedent for the float compare — the
    // planted margins keep every decision >= 0.45 away from the threshold)
    Query("q128_stream_embed_dedup",
      """WITH arr AS (SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id < 50 UNION ALL SELECT vec_id + 2000000, list_transform(embedding, x -> -x) FROM embeddings WHERE vec_id >= 50 AND vec_id < 75) SELECT DISTINCT a.vec_id AS vec_id FROM arr a JOIN embeddings c ON list_cosine_similarity(a.embedding, c.embedding) >= 0.95 ORDER BY a.vec_id""", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val arrivals = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        .unionByName(emb.filter(col("vec_id") >= 50 && col("vec_id") < 75)
          .select((col("vec_id") + 2000000L).as("vec_id"),
            transform(col("embedding"), x => -x).as("embedding")))
      withTempDir("q128") { tmp =>
        val (srcDir, ckDir, outDir) = (s"$tmp/src", s"$tmp/ck", s"$tmp/out")
        val stream = fileStream(s, arrivals, 2, srcDir)
        val store = new graft.sync.ParquetStore(s, outDir)
        IncrementalStream.embedDupGate(stream, emb, "vec_id", "embedding",
          threshold = 0.95, store, "rejects", checkpointDir = ckDir)
          .awaitTermination()
        store.read("rejects").get.select(col("vec_id"))
          .orderBy("vec_id").localCheckpoint()
      }
    }),

    // REAL audio resample graded end-to-end (q120's PCM twin): planted
    // PCM16-LE payloads with a per-sample integer formula, resampled to
    // the fixed 480-sample encoder window by nearest-sample index math
    // (src = dst * srcN / dstN, floor), and EVERY output sample must equal
    // the formula at its mapped source index. Source lengths span
    // 1..977 samples, so down-sampling, up-sampling, and the degenerate
    // one-sample payload are all exercised; a filter kernel, an index
    // off-by-one, or a byte-order slip cannot pass
    Query("q127_audio_resample", InvariantOracleSql, (s, dir) => {
      import s.implicits._
      implicit val session: SparkSession = s
      val dstN = 480
      def samp(id: Long, k: Int): Int = // signed int16 by construction
        (((id * 2654435761L + k * 977L) & 0xffffL) - 32768L).toInt
      val media = t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val srcN = 1 + (id % 977).toInt
            val b = new Array[Byte](srcN * 2)
            var k = 0
            while (k < srcN) {
              val v = samp(id, k)
              b(2 * k) = (v & 0xff).toByte
              b(2 * k + 1) = ((v >> 8) & 0xff).toByte
              k += 1
            }
            Multimodal.MediaRecord(id, b)
          }
        }.toDF()
      val bad = Multimodal.resampleAudio(media, dstN).mapPartitions { it =>
        it.map { r =>
          val srcN = 1 + (r.doc_id % 977).toInt
          var n = 0L
          if (r.media == null || r.media.length != dstN * 2) n = 1L
          else {
            var i = 0
            while (i < dstN) {
              val got = (((r.media(2 * i + 1): Int) << 8) | (r.media(2 * i) & 0xff)).toShort.toInt
              if (got != samp(r.doc_id, (i.toLong * srcN / dstN).toInt)) n += 1
              i += 1
            }
          }
          n
        }
      }.toDF("bad")
      // row-count equality like q120: resampleAudio DROPS sample-less rows,
      // and every planted payload has >= 1 sample, so output must be
      // exactly one row per document
      val nIn = t(s, dir, "documents").count()
      bad.agg((coalesce(sum(when(col("bad") > 0L, 1L).otherwise(0L)), lit(0L))
        + when(count(lit(1)) =!= nIn, 1L).otherwise(0L)).as("violations"))
    }),

    // GLOBAL 2D proximity join (time ±1h AND amount ±100 cents, no key):
    // grid-cell blocking — 6 cells per build row vs the probe's exact
    // cell, each qualifying pair matched in exactly ONE (x band, y band),
    // so no distinct — vs the oracle's doubly-unhashable inequality join
    Query("q110_box_join",
      "WITH e AS (SELECT event_id, epoch_us(ts) AS t, CAST(round(value*100) AS BIGINT) AS c FROM events) SELECT a.event_id AS id_a, b.event_id AS id_b FROM e a JOIN e b ON (a.t < b.t OR (a.t = b.t AND a.event_id < b.event_id)) AND b.t - a.t <= 3600000000 AND abs(a.c - b.c) <= 100 ORDER BY id_a, id_b", (s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"),
        expr("ts div 1000").as("t_us"),
        round(col("value") * 100).cast(LongType).as("cents"))
      RangeJoin.boxPairsWithin(e, Seq.empty, "t_us", "cents", "event_id",
          xWindow = 3600L * 1000 * 1000, yWindow = 100L)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),

    // small-file compaction graded end-to-end: a 64-file table rewritten
    // to ~5 target-sized files must (a) land exactly
    // max(1, ceil(bytes/target)) files — the operator's sizing contract —
    // and (b) fingerprint identically before and after under the
    // order/layout-independent tableChecksum (count + bit_xor + decimal
    // sum of null-tagged row hashes), i.e. compaction moved bytes and
    // changed NOTHING else
    Query("q88_compaction", InvariantOracleSql, (s, dir) => {
      import graft.files.Compaction
      import graft.sync.Checksum
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      withTempDir("q88") { tmp =>
        val tableDir = s"$tmp/orders.parquet"
        t(s, dir, "orders").select(cols.map(col): _*)
          .repartition(64).write.parquet(tableDir)
        def fp() = {
          val r = Checksum.tableChecksum(s.read.parquet(tableDir), cols).head
          (r.getLong(0), r.getLong(1), r.getDecimal(2))
        }
        val before = fp()
        val (bytes0, _) = Compaction.dirBytesAndFiles(s, tableDir)
        val target = math.max(1L, (bytes0 + 4) / 5) // ceil(bytes/5): ~5 files
        val stats = Compaction.compact(s, tableDir, target)
        val expectedAfter = math.max(1L, (stats.bytesTotal + target - 1) / target)
        val violations =
          (if (stats.filesBefore == 64L) 0L else 1L) +
          (if (stats.filesAfter == expectedAfter) 0L else 1L) +
          (if (stats.filesAfter < stats.filesBefore) 0L else 1L) +
          (if (fp() == before) 0L else 1L)
        s.range(1).select(lit(violations).as("violations"))
      }
    }),

    // deep-chain canonicalization: a planted 50-link duplicate CHAIN
    // (diameter 50 — the shape that defeats plain min-label propagation,
    // which needs one round per link and would blow the 30-round cap)
    // must fully canonicalize to the chain's min id, and every
    // off-chain doc must stay a singleton. This grades the delayed
    // pointer-jumping path (Dedup.connectedComponents engages
    // canon(canon) halving after round 4) end-to-end: without it the
    // require(converged) aborts, with it the chain closes in O(log 50)
    // rounds — the invariant that CC survives adversarial cluster shapes
    Query("q89_cc_deep_chain", InvariantOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id").cast(LongType).as("id"))
      // chain the 51 smallest ids pairwise; 51 rows, so the unpartitioned
      // lead window and the broadcast min are bounded by construction
      val first51 = docs.orderBy("id").limit(51).localCheckpoint()
      val chainW = Window.orderBy("id")
      val pairs = first51.withColumn("__nxt", lead(col("id"), 1).over(chainW))
        .filter(col("__nxt").isNotNull)
        .select(col("id").as("id_a"), col("__nxt").as("id_b"))
      val cc = graft.dedup.Dedup.connectedComponents(docs, "id", pairs)
      cc.join(first51.select(col("id"), lit(1).as("__in_chain")), Seq("id"), "left")
        .crossJoin(broadcast(first51.agg(min(col("id")).as("__chain_min"))))
        .agg(violations(
          (col("__in_chain") === 1 && col("canon") =!= col("__chain_min"))
            || (col("__in_chain").isNull && col("canon") =!= col("id"))))
    }),

    // opt-in delete propagation (SURVEY §2.4-1): the reference never
    // deletes, so destination rows whose key vanished upstream persist
    // forever; Merge.applyDeletes drops them via a KEY-ONLY source scan
    // (column pruning reaches the reader — pk bytes, not the table) +
    // left-semi join, while the row extract stays incremental. Here the
    // destination holds keys <= 4000, the incremental delta covers
    // 2000-6000 (updated totals), and the current source key set starts
    // at 2000 — so < 2000 must disappear, 2000-4000 update, > 4000 insert
    Query("q90_sync_deletes",
      """WITH base AS (SELECT o_orderkey, o_totalprice, 0 AS prec FROM orders WHERE o_orderkey <= 4000), delta AS (SELECT o_orderkey, -o_totalprice AS o_totalprice, 1 AS prec FROM orders WHERE o_orderkey BETWEEN 2000 AND 6000), u AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY prec DESC) AS rn FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)) SELECT o_orderkey, o_totalprice FROM u WHERE rn = 1 AND o_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderkey >= 2000) ORDER BY o_orderkey""", (s, dir) => {
      val orders = t(s, dir, "orders")
      val base = orders.filter(col("o_orderkey") <= 4000)
        .select(col("o_orderkey"), col("o_totalprice"))
      val delta = orders.filter(col("o_orderkey").between(2000, 6000))
        .select(col("o_orderkey"), negate(col("o_totalprice")).as("o_totalprice"))
      val sourceKeys = orders.filter(col("o_orderkey") >= 2000).select("o_orderkey")
      Merge.applyDeletes(Merge.upsert(base, delta, Seq("o_orderkey")),
        sourceKeys, Seq("o_orderkey")).orderBy("o_orderkey")
    }),

    // name-and-hash file sync (SURVEY §2.4-2): the reference's README
    // promises MD5 comparison but gcs_sync.py:36-47 only compares names,
    // so a modified file is never re-copied. compareContent=true is the
    // opt-in fix — identity becomes (name, md5(bytes)). Planted cases:
    // unchanged, source-only, MODIFIED (same name, new bytes), dest-only.
    // Existence-only must see 1 new file (parity: the modification is
    // invisible); content mode must re-copy 2 (new + modified); after the
    // content sync every source (name, hash) exists in dest and the
    // dest-only file survives (no deletes — §2.4-1 parity holds here)
    Query("q91_hash_file_sync", InvariantOracleSql, (s, dir) => {
      import graft.files.FileSync
      withTempDir("q91") { tmp =>
        val (srcDir, dstDir) = (s"$tmp/src", s"$tmp/dst")
        def put(root: String, name: String, body: String): Unit = {
          val p = java.nio.file.Paths.get(root, name)
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p, body.getBytes("UTF-8"))
        }
        put(srcDir, "a/same.txt", "identical bytes")
        put(srcDir, "b/new.txt", "only in source")
        put(srcDir, "c/modified.txt", "source version 2")
        put(dstDir, "a/same.txt", "identical bytes")
        put(dstDir, "c/modified.txt", "dest version 1")
        put(dstDir, "d/dest_only.txt", "kept")
        val byName = FileSync.syncDir(s, srcDir, dstDir, dryRun = true)
        val byHash = FileSync.syncDir(s, srcDir, dstDir, compareContent = true)
        val srcL = FileSync.listFilesWithHash(s, srcDir)
        val dstL = FileSync.listFilesWithHash(s, dstDir)
        val missing = srcL.join(dstL, Seq("name", "hash"), "left_anti").count()
        val destOnly = dstL.filter(col("name") === "d/dest_only.txt").count()
        val violations =
          (if (byName.totalFiles == 3L && byName.newFiles == 1L && byName.existingFiles == 2L) 0L else 1L) +
          (if (byHash.newFiles == 2L && byHash.existingFiles == 1L) 0L else 1L) +
          (if (missing == 0L) 0L else 1L) +
          (if (destOnly == 1L) 0L else 1L)
        s.range(1).select(lit(violations).as("violations"))
      }
    }),

    // stream-static enrichment join: every streaming event picks up its
    // user's dimension row (the lookup-table shape of every event
    // pipeline), dim broadcast — a shuffled stream-static join would
    // re-shuffle EVERY micro-batch. Complete-mode aggregate over the
    // enriched stream must equal the batch join+group-by exactly
    Query("q92_stream_enrich",
      "WITH d AS (SELECT user_id, count(*) AS n_ev FROM events GROUP BY user_id) SELECT e.event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(d.n_ev) AS BIGINT) AS sum_n_ev FROM events e JOIN d ON e.user_id = d.user_id GROUP BY e.event_type ORDER BY e.event_type", (s, dir) => {
      val ev = t(s, dir, "events")
      val dim = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_ev"))
      // raw schema: ev's normalized ts (bigint nanos) differs from the
      // on-disk type; the stream never touches ts, so no normalization
      val stream = s.readStream.schema(Tables.raw(s, dir, "events").schema)
        .parquet(s"$dir/events*.parquet")
      val enriched = IncrementalStream.enrichWithDim(stream, dim, Seq("user_id"))
      val agg = enriched.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("n_ev")).as("sum_n_ev"))
      val sink = s"q92_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      drainSink(s, sink, s.table(sink).orderBy("event_type"))
    }),

    // CONTINUOUS SYNC end-to-end: the reference's nightly
    // watermark/extract/upsert pipeline as one streaming query. The event
    // "CDC feed" is split into FOUR source files consumed one per
    // micro-batch (maxFilesPerTrigger=1 under AvailableNow), each batch
    // foreachBatch-merged into a ParquetStore destination with
    // upsertIfNewer keyed on user_id ordered by (ts, event_id) — so the
    // final table is the latest event per user REGARDLESS of which batch
    // carried which rows (a stale row cannot clobber a fresher one; the
    // determinism is an operator property, not a file-order assumption).
    // The destination is PRE-SEEDED with a user absent from the stream
    // (must survive the whole run) and a stale row for the smallest real
    // user (must be replaced) — proving merge, not just insert
    Query("q93_stream_upsert_sync",
      """WITH src AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_id, CAST(round(value*100) AS BIGINT) AS cents FROM events), latest AS (SELECT user_id, ts_us, event_id, cents, row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn FROM src) SELECT user_id, ts_us, event_id, cents FROM latest WHERE rn = 1 UNION ALL SELECT CAST(-999 AS BIGINT), CAST(0 AS BIGINT), CAST(-1 AS BIGINT), CAST(7 AS BIGINT) ORDER BY user_id""", (s, dir) => {
      import graft.sync.ParquetStore
      import s.implicits._
      // micros, not raw nanos: the oracle's TIMESTAMP carries micro
      // precision, so the precedence column must be micros on BOTH sides
      // or sub-microsecond orderings could pick different winners
      val ev = t(s, dir, "events").select(col("user_id"),
        expr("ts div 1000").as("ts_us"),
        col("event_id"), round(col("value") * 100).cast(LongType).as("cents"))
      withTempDir("q93") { tmp =>
        val (srcDir, ckDir, destDir) = (s"$tmp/src", s"$tmp/ck", s"$tmp/dest")
        val minUser = ev.agg(min(col("user_id"))).head.getLong(0)
        val store = new ParquetStore(s, destDir)
        store.write(Seq((-999L, 0L, -1L, 7L), (minUser, -1L, -1L, -12345L))
          .toDF("user_id", "ts_us", "event_id", "cents"), "t")
        val stream = fileStream(s, ev, 4, srcDir)
        IncrementalStream.upsertSync(stream, store, "t",
          pks = Seq("user_id"), orderCols = Seq("ts_us", "event_id"),
          checkpointDir = ckDir).awaitTermination()
        // localCheckpoint: the returned plan must not read tmp after
        // withTempDir deletes it
        store.read("t").get.orderBy("user_id").localCheckpoint()
      }
    }),

    // passage-level (substring) dedup: longest shared consecutive token run
    // per doc pair — the curation signal whole-document Jaccard cannot see
    // (a 50-token boilerplate paragraph inside otherwise-different docs).
    // Positional 8-gram inverted index, doc-frequency gate [2, 20] (the
    // skew bound: pair fan-out is quadratic in a gram's doc-frequency),
    // diagonal-island run extension in pure window arithmetic — no text
    // re-scan, no all-pairs term anywhere
    Query("q94_passage_dedup",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), tri AS (SELECT doc_id, ts FROM tok WHERE len(ts) >= 8), g AS (SELECT doc_id, pos, ts[pos]||' '||ts[pos+1]||' '||ts[pos+2]||' '||ts[pos+3]||' '||ts[pos+4]||' '||ts[pos+5]||' '||ts[pos+6]||' '||ts[pos+7] AS gram FROM (SELECT doc_id, ts, unnest(range(1, len(ts)-6)) AS pos FROM tri)), keep AS (SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram) WHERE df BETWEEN 2 AND 20), gg AS (SELECT g.doc_id, g.pos, g.gram FROM g JOIN keep USING (gram)), pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, a.pos - b.pos AS diag FROM gg a JOIN gg b ON a.gram = b.gram AND a.doc_id < b.doc_id), runs AS (SELECT da, db, diag, pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa) AS grp FROM pairs), islands AS (SELECT da, db, count(*) AS rl FROM runs GROUP BY da, db, grp, diag) SELECT da AS doc_a, db AS doc_b, CAST(max(rl) + 7 AS BIGINT) AS run_tokens FROM islands GROUP BY da, db HAVING max(rl) + 7 >= 20 ORDER BY doc_a, doc_b""", (s, dir) =>
      Dedup.passagePairs(tw(s, dir, "documents"), "doc_id", "text",
          k = 8, minRunTokens = 20, maxDocFreq = 20)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("run_tokens"))
        .orderBy("doc_a", "doc_b")),

    // per-document duplicated-passage share: how much of each doc's 8-gram
    // set also occurs in at least one other doc — q94's index joined back
    // onto itself instead of paired, so the cost stays linear in corpus
    // size (the down-weight/filter signal for mostly-boilerplate docs)
    Query("q95_dup_gram_share",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), tri AS (SELECT doc_id, ts FROM tok WHERE len(ts) >= 8), g AS (SELECT doc_id, ts[pos]||' '||ts[pos+1]||' '||ts[pos+2]||' '||ts[pos+3]||' '||ts[pos+4]||' '||ts[pos+5]||' '||ts[pos+6]||' '||ts[pos+7] AS gram FROM (SELECT doc_id, ts, unnest(range(1, len(ts)-6)) AS pos FROM tri)), dfq AS (SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram) SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams, CAST(sum(CASE WHEN dfq.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams FROM g JOIN dfq USING (gram) GROUP BY g.doc_id ORDER BY doc_id""", (s, dir) =>
      Dedup.passageDupStats(tw(s, dir, "documents"), "doc_id", "text", k = 8)
        .orderBy("doc_id")),

    // semantic dedup (SemDeDup): k-means cluster, dedup by cosine WITHIN
    // clusters only. Oracle is the GLOBAL greedy rule — they agree here
    // because natural pair cosines top out ~0.6 << 0.95, so only the 50
    // planted identical twins cross the threshold, and a twin co-locates
    // with its original under ANY clustering (identical vector, identical
    // nearest centroid). A cluster split that separated a twin pair would
    // keep both and FAIL the compare — the recall property is load-bearing
    Query("q96_semantic_dedup",
      """WITH corpus AS (SELECT vec_id, embedding FROM embeddings UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 50), removed AS (SELECT DISTINCT b.vec_id FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95) SELECT vec_id FROM corpus WHERE vec_id NOT IN (SELECT vec_id FROM removed) ORDER BY vec_id""", (s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val twins = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      Similarity.semanticDedup(emb.unionByName(twins), "vec_id", "embedding",
          numCentroids = 16, threshold = 0.95)
        .select(col("vec_id")).orderBy("vec_id")
    }),

    // Z-order clustered layout: events written as 16 z-sorted files on
    // (user_id, cents) must (a) be byte-identical under the layout-
    // independent checksum, (b) land exactly 16 files, and (c) give every
    // clustering dimension a mean per-file bounding-box fraction <= 0.45 —
    // measured ~0.22-0.27 at every SF, vs >= 0.67 for a one-column sort,
    // so the bound separates a real z-layout from a lexicographic one
    Query("q97_zorder_layout", InvariantOracleSql, (s, dir) => {
      import graft.files.Layout
      import graft.sync.Checksum
      val cols = Seq("event_id", "user_id", "cents")
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast(LongType).as("cents"))
      withTempDir("q97") { tmp =>
        val tableDir = s"$tmp/events_z"
        def fp(df: org.apache.spark.sql.DataFrame) = {
          val r = Checksum.tableChecksum(df, cols).head
          (r.getLong(0), r.getLong(1), r.getDecimal(2))
        }
        Layout.clusteredWrite(ev, tableDir, Seq("user_id", "cents"), numFiles = 16)
        val back = s.read.parquet(tableDir)
        val m = Layout.bboxFractions(back, Seq("user_id", "cents")).head
        val violations =
          (if (m.getLong(0) == 16L) 0L else 1L) +
          (if (m.getDouble(1) <= 0.45) 0L else 1L) +
          (if (m.getDouble(2) <= 0.45) 0L else 1L) +
          (if (fp(back) == fp(ev)) 0L else 1L)
        s.range(1).select(lit(violations).as("violations"))
      }
    }),

    // stats-index pruned read — the PAYOFF of the q97 layout, graded: a
    // 10%-wide band on cents must (a) return exactly the full-scan filter
    // result through the file-pruned path and (b) touch <= 8 of 16 files
    // (measured 2-3 at every SF; a one-column user_id sort would touch all
    // 16, so the bound separates real 2-D clustering from a linear sort)
    Query("q104_pruned_read", InvariantOracleSql, (s, dir) => {
      import graft.files.Layout
      import graft.sync.Checksum
      val cols = Seq("event_id", "user_id", "cents")
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast(LongType).as("cents"))
      withTempDir("q104") { tmp =>
        val tableDir = s"$tmp/events_z"
        Layout.clusteredWrite(ev, tableDir, Seq("user_id", "cents"), numFiles = 16)
        val idx = Layout.statsIndex(s, tableDir, Seq("user_id", "cents"))
        val b = ev.agg(min("cents").as("lo"), max("cents").as("hi")).head
        val (cmin, cmax) = (b.getLong(0), b.getLong(1))
        val (lo, hi) = (cmin + (cmax - cmin) * 45 / 100, cmin + (cmax - cmin) * 55 / 100)
        val (pruned, nFiles) = Layout.prunedRead(s, tableDir, idx, "cents", lo, hi)
        def fp(df: org.apache.spark.sql.DataFrame) = {
          val r = Checksum.tableChecksum(df, cols).head
          (r.getLong(0), r.getLong(1), r.getDecimal(2))
        }
        val violations =
          (if (fp(pruned) == fp(ev.filter(col("cents").between(lo, hi)))) 0L else 1L) +
          (if (nFiles >= 1L && nFiles <= 8L) 0L else 1L)
        s.range(1).select(lit(violations).as("violations"))
      }
    }),

    // snapshot diff (CDC between two extracts): a derived "after" snapshot
    // with planted removals (keys % 97), in-place changes (% 89), and
    // additions (% 101 copied to new keys) must classify exactly — one
    // full-outer join on the pk, delta-sized output
    Query("q105_snapshot_diff",
      """WITH b AS (SELECT o_orderkey, o_custkey, CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders), a AS (SELECT o_orderkey, o_custkey, CASE WHEN o_orderkey % 89 = 0 THEN cents + 1 ELSE cents END AS cents FROM b WHERE o_orderkey % 97 <> 0 UNION ALL SELECT o_orderkey + 100000000, o_custkey, cents FROM b WHERE o_orderkey % 101 = 0) SELECT o_orderkey, change_type FROM (SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS o_orderkey, CASE WHEN b.o_orderkey IS NULL THEN 'added' WHEN a.o_orderkey IS NULL THEN 'removed' WHEN b.o_custkey IS DISTINCT FROM a.o_custkey OR b.cents IS DISTINCT FROM a.cents THEN 'changed' END AS change_type FROM b FULL OUTER JOIN a ON b.o_orderkey = a.o_orderkey) WHERE change_type IS NOT NULL ORDER BY o_orderkey""", (s, dir) => {
      import graft.sync.Diff
      val base = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast(LongType).as("cents"))
      val after = base.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("cents",
          when(col("o_orderkey") % 89 === 0, col("cents") + 1).otherwise(col("cents")))
        .unionByName(base.filter(col("o_orderkey") % 101 === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            col("o_custkey"), col("cents")))
      Diff.snapshotDiff(base, after, Seq("o_orderkey"), Seq("o_custkey", "cents"))
        .orderBy("o_orderkey")
    }),

    // deterministic global training-order shuffle: md5-seeded permutation →
    // contiguous (global_rank, shard, pos) WITHOUT a single-partition
    // window — 256 hex-prefix range buckets rank in parallel, a 256-row
    // offset join stitches them into the exact global order the oracle
    // computes with the naive (serial) row_number-over-everything form
    Query("q106_shard_shuffle",
      "WITH r AS (SELECT doc_id, row_number() OVER (ORDER BY md5('graft:'||CAST(doc_id AS VARCHAR)), doc_id) - 1 AS global_rank FROM documents) SELECT doc_id, CAST(global_rank AS BIGINT) AS global_rank, CAST(global_rank // 32 AS BIGINT) AS shard, CAST(global_rank % 32 AS BIGINT) AS pos FROM r ORDER BY doc_id", (s, dir) => {
      Sampling.shardedShuffle(t(s, dir, "documents").select(col("doc_id")),
          "doc_id", seed = "graft", rowsPerShard = 32L)
        .orderBy("doc_id")
    }),

    // trailing-interval window (RANGE frame): 1-hour trailing sum + count
    // per user — the rate-limit / rolling-metric shape. RANGE (not ROWS)
    // so timestamp ties share one frame: tie-order-independent by
    // construction, no ordering fudge needed for the hash compare
    Query("q98_trailing_window",
      "SELECT event_id, CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT) AS trail_cents, CAST(count(*) OVER w AS BIGINT) AS trail_n FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) ORDER BY event_id", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600L * 1000000L, 0)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts_us"),
          round(col("value") * 100).cast(LongType).as("cents"))
        .select(col("event_id"),
          sum(col("cents")).over(w).cast(LongType).as("trail_cents"),
          count(lit(1)).over(w).cast(LongType).as("trail_n"))
        .orderBy("event_id")
    }),

    // top-k per group: the per-source "best documents" selection — one
    // rank window per group, filter rk <= 3; partial sort per partition,
    // single shuffle on the group key
    Query("q99_topk_per_group",
      "SELECT source, doc_id, n_chars, rk FROM (SELECT source, doc_id, n_chars, CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk FROM documents) WHERE rk <= 3 ORDER BY source, rk", (s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 3)
        .orderBy("source", "rk")
    }),

    // token-budget mixture assembly: within each source, take documents in
    // doc_id order until the INCLUSIVE running token total would exceed the
    // budget — tokens, not documents, are the unit pretraining mixtures are
    // specified in. Never overshoots; no partial documents
    Query("q100_token_budget",
      "WITH d AS (SELECT source, doc_id, CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens FROM documents), c AS (SELECT source, doc_id, n_tokens, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM d) SELECT source, doc_id, n_tokens FROM c WHERE cum <= 800 ORDER BY source, doc_id", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("source"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      Sampling.tokenBudgetSample(docs, Seq("source"), Seq(col("doc_id")),
          "n_tokens", budget = 800L, bucket = Some(expr("doc_id div 64")))
        .orderBy("source", "doc_id")
    }),

    // the composed curation pipeline end-to-end: quality gate -> language
    // filter -> exact dedup -> per-source token budget — every stage is a
    // graded operator (q18/q19/q16/q100) but THIS grades their composition,
    // the actual "what ships into the training mix" query. Stage order is
    // the cost order: narrow codegen'd filters first, the dedup shuffle on
    // the reduced set, the budget window on the deduped set
    Query("q102_curation_pipeline",
      """WITH f AS (SELECT doc_id, text, source, len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok, len(regexp_extract_all(lower(text), '\b(the|a|an|of|and|to|in|is|it|for)\b')) AS n_stop, len(regexp_extract_all(lower(text), '\b(the|of|and|is|to)\b')) AS s_en, len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS s_de, len(regexp_extract_all(lower(text), '\b(el|la|los|las|es|y|de)\b')) AS s_es, len(regexp_extract_all(lower(text), '\b(le|les|des|est|et|une)\b')) AS s_fr FROM documents), k AS (SELECT doc_id, text, source FROM f WHERE n_tok >= 5 AND n_stop * 2 <= n_tok AND s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr), d AS (SELECT min(doc_id) AS doc_id FROM k GROUP BY text), sv AS (SELECT k.source, k.doc_id, CAST(len(regexp_extract_all(lower(k.text), '[a-z0-9]+')) AS BIGINT) AS n_tokens FROM k JOIN d USING (doc_id)), c AS (SELECT source, doc_id, n_tokens, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM sv) SELECT source, doc_id, n_tokens FROM c WHERE cum <= 500 ORDER BY source, doc_id""", (s, dir) => {
      val docs = t(s, dir, "documents")
      val kept = docs.filter(TextAnalysis.qualityOk(col("text")) === 1
        && TextAnalysis.langId(col("text")) === "en")
      val survivors = kept.join(
        Dedup.exact(kept, "text", "doc_id").select("doc_id"),
        Seq("doc_id"), "left_semi")
      val withTok = survivors.select(col("source"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      Sampling.tokenBudgetSample(withTok, Seq("source"), Seq(col("doc_id")),
          "n_tokens", budget = 500L, bucket = Some(expr("doc_id div 64")))
        .orderBy("source", "doc_id")
    }),

    // bucketed co-located join IN the gate: both sides written bucketed on
    // the join key, the join re-planned with broadcast disabled (so the
    // sort-merge path — the 100 TB shape — actually runs) must produce
    // ZERO shuffle exchanges AND the plain join's aggregate exactly. The
    // conf toggle and both executions complete inside the try; the
    // returned frame is a literal, so the finally-restore cannot race
    Query("q85_bucketed_join", InvariantOracleSql, (s, dir) => {
      val id = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      val (ta, tb) = (s"graft_q85a_$id", s"graft_q85b_$id")
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          round(col("value") * 100).cast(LongType).as("cents"))
      val perUser = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_ev"))
      val bcKey = "spark.sql.autoBroadcastJoinThreshold"
      val prevBc = s.conf.getOption(bcKey)
      // writes INSIDE the try: a throw in the second write must still
      // drop the first table (bench invokes this lambda repeatedly — a
      // partial failure outside the try would leak graft_q85a_* into the
      // session catalog for the rest of the run)
      try {
        Bucketing.writeBucketed(ev, ta, Seq("user_id"), 8)
        Bucketing.writeBucketed(perUser, tb, Seq("user_id"), 8)
        s.conf.set(bcKey, "-1")
        val joined = Bucketing.bucketedJoin(s, ta, tb, Seq("user_id"))
        val shuffles = "Exchange hashpartitioning".r
          .findAllIn(joined.queryExecution.executedPlan.toString).size
        def roll(df: DataFrame) = df
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
            sum(col("n_ev")).as("se")).head
        val bucketed = roll(joined)
        val plain = roll(ev.join(perUser, "user_id"))
        val violations = (if (shuffles == 0) 0L else 1L) +
          (if (bucketed == plain) 0L else 1L)
        s.range(1).select(lit(violations).as("violations"))
      } finally {
        prevBc match { case Some(v) => s.conf.set(bcKey, v); case None => s.conf.unset(bcKey) }
        s.sql(s"DROP TABLE IF EXISTS $ta")
        s.sql(s"DROP TABLE IF EXISTS $tb")
      }
    }),

    // source-format parity: the same relation written to and read back
    // through CSV and JSON (explicit schemas — inference is a second
    // scan and a type lottery) must fingerprint identically to the
    // parquet original. Columns restricted to bigint + string: exact
    // roundtrip types on every text format (floats/timestamps have
    // format-specific rendering risks a sync pipeline should not take
    // through text formats anyway). Empty-string and NULL rows are
    // PLANTED so the fingerprint proves the CSV null/empty contract:
    // Spark's CSV defaults write "" (quoted) for empty and an empty
    // field for NULL, but the reader maps BOTH back to NULL — the
    // roundtrip must pin a distinct null marker (\N) on write+read and
    // emptyValue="" on read to keep the two apart (the null-tagged
    // Checksum.rowHash distinguishes them, so a regression here flips
    // violations to 1, it cannot hide)
    Query("q84_format_roundtrip", InvariantOracleSql, (s, dir) => {
      import graft.sync.Checksum
      import s.implicits._
      val cols = Seq("o_orderkey", "o_orderstatus", "o_orderpriority")
      val planted = Seq((-1L, "", ""), (-2L, null: String, null: String))
        .toDF(cols: _*)
      val o = t(s, dir, "orders").select(cols.map(col): _*).unionByName(planted)
      def fp(df: DataFrame) = {
        val r = Checksum.tableChecksum(df, cols).head
        (r.getLong(0), r.getLong(1), r.getDecimal(2))
      }
      val base = fp(o)
      val (viaCsv, viaJson, viaOrc) = withTempDir("q84") { tmp =>
        val (csvDir, jsonDir, orcDir) = (s"$tmp/csv", s"$tmp/json", s"$tmp/orc")
        o.write.option("header", "true")
          .option("nullValue", "\\N").option("emptyValue", "\"\"").csv(csvDir)
        o.write.json(jsonDir)
        // ORC: the third columnar format (typed nulls/empties survive without
        // the text formats' sentinel gymnastics) — Spark-native, no extra dep
        o.write.orc(orcDir)
        (fp(s.read.schema(o.schema).option("header", "true")
          .option("nullValue", "\\N").option("emptyValue", "").csv(csvDir)),
          fp(s.read.schema(o.schema).json(jsonDir)),
          fp(s.read.schema(o.schema).orc(orcDir)))
      }
      val violations = (if (viaCsv == base) 0L else 1L) +
        (if (viaJson == base) 0L else 1L) + (if (viaOrc == base) 0L else 1L)
      s.range(1).select(lit(violations).as("violations"))
    }),

    // typed Aggregator parity: the Dataset-API custom aggregate (case-
    // class buffer, associative merge -> map-side partials like any
    // built-in) must reproduce the columnar group aggregate exactly —
    // grades the typed-UDAF surface end to end (encoders, buffer
    // serialization, partial merge)
    Query("q83_typed_agg",
      "SELECT user_id, CAST(count(*) AS BIGINT) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents, CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_cents, CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_cents FROM events GROUP BY user_id ORDER BY user_id", (s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .select(col("user_id"), round(col("value") * 100).cast(LongType).as("cents"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(TypedAgg.numStats.toColumn)
        .toDF("user_id", "stats")
        .select(col("user_id"), col("stats.n").as("n"),
          col("stats.sum").as("sum_cents"), col("stats.min").as("min_cents"),
          col("stats.max").as("max_cents"))
        .orderBy("user_id")
    }),

    // time-series densification: per-user hourly grid from first to last
    // event, carrying the latest observed value across empty hours — the
    // resample-and-forward-fill step of every feature pipeline. The
    // per-bucket "last observation" is picked by (ts, event_id) DESC so
    // the fill input is deterministic
    Query("q80_gap_fill",
      """WITH b AS (SELECT user_id, epoch_ns(ts) // 3600000000000 AS bk, CAST(round(value*100) AS BIGINT) AS cents, row_number() OVER (PARTITION BY user_id, epoch_ns(ts) // 3600000000000 ORDER BY ts DESC, event_id DESC) AS rn FROM events), lastb AS (SELECT user_id, bk, cents FROM b WHERE rn = 1), bounds AS (SELECT user_id, min(bk) AS b0, max(bk) AS b1 FROM lastb GROUP BY user_id), grid AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bk FROM bounds), j AS (SELECT g.user_id, g.bk, l.cents FROM grid g LEFT JOIN lastb l ON g.user_id = l.user_id AND g.bk = l.bk) SELECT user_id, CAST(bk AS BIGINT) AS bk, last_value(cents IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bk ROWS UNBOUNDED PRECEDING) AS cents FROM j ORDER BY user_id, bk""", (s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("bk"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val lastPerBucket = t(s, dir, "events")
        .select(col("user_id"), expr("ts div 3600000000000").as("bk"),
          round(col("value") * 100).cast(LongType).as("cents"),
          col("ts"), col("event_id"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("bk"), col("cents"))
      GapFill.forwardFillGrid(lastPerBucket, "user_id", "bk", "cents")
        .orderBy("user_id", "bk")
    }),

    // q149: the LARGE-VOCABULARY encode path — the same build + encode as
    // q145 but through the explode + broadcast-join + positional
    // re-collect formulation (Vocab.encodeJoin, the shape a real 100k–1M
    // entry BPE vocab needs where the literal-map's linear probe stops
    // being free) — graded against q145's SAME full SQL oracle: the two
    // encode plans are row-identical by contract (the q81
    // scale-plan-in-the-correctness-gate pairing)
    // q149 grades the broadcast-join encode path against q145's SAME
    // oracle — the two plans are row-identical by contract
    Query("q149_vocab_encode_join", VocabEncodeOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = graft.text.Vocab.build(docs, "text", topN = 200)
      graft.text.Vocab.encodeJoin(docs, "doc_id", "text", vocab)
        .select(col("doc_id"), posexplode(col("ids")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").as("token_id"))
        .orderBy("doc_id", "pos")
    }),

    // q150: BPE tokenizer training — five full count → merge → re-pair
    // rounds (TextAnalysis.bpeTrain), completing the loop q135's single
    // pair-count pass starts. Graded as a violations contract against an
    // in-query brute-force Scala BPE over the COLLECTED word-frequency
    // table (vocab-bounded, grading-only — the operator itself collects
    // one argmax row per round): merge sequence (pair + count per step)
    // AND the final per-word symbol arrays must both match exactly;
    // integer counts and a total (cnt DESC, left, right) tie-break make
    // the sequence engine-deterministic
    // q150: the merge sequence + final symbol tables are verified
    // in-query against a brute-force Scala BPE over the collected word
    // table (DuckDB cannot express the sequential merge fold)
    Query("q150_bpe_train", InvariantOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents")
      val nMerges = 5
      val (merges, words) = TextAnalysis.bpeTrain(docs, "text", nMerges)
      // brute-force oracle over the collected word table
      val wf = TextAnalysis.bpeWordTable(docs, "text")
        .select(col("__w"), col("__c")).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      var syms: Array[(Vector[String], Long)] =
        wf.map { case (w, c) => (w.map(_.toString).toVector, c) }
      val refMerges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      var continue = true
      while (continue && refMerges.size < nMerges) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        syms.foreach { case (v, c) =>
          v.indices.dropRight(1).foreach { i =>
            counts((v(i), v(i + 1))) = counts.getOrElse((v(i), v(i + 1)), 0L) + c
          }
        }
        if (counts.isEmpty) continue = false
        else {
          val ((a, b), c) = counts.minBy { case ((l, r), n) => (-n, l, r) }
          refMerges += ((a, b, c))
          syms = syms.map { case (v, cc) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < v.length) {
              if (i + 1 < v.length && v(i) == a && v(i + 1) == b) { out += a + b; i += 2 }
              else { out += v(i); i += 1 }
            }
            (out.result(), cc)
          }
        }
      }
      val mergeViolations =
        if (merges.map(m => (m.left, m.right, m.cnt)) != refMerges.toSeq) 1L else 0L
      val refFinal = syms.map { case (v, _) => v.mkString("\u0000") }.toSet
      val gotFinal = words.select(concat_ws("\u0000", col("__syms"))).collect()
        .map(_.getString(0)).toSet
      val symViolations = if (gotFinal != refFinal) 1L else 0L
      // require real progress too: an empty merge list passing trivially
      // against an equally-empty reference would hide a broken count
      val emptyViolation = if (merges.size != nMerges) 1L else 0L
      s.range(1).select(
        lit(mergeViolations + symViolations + emptyViolation).as("violations"))
    }),

    // q151: CONTINUOUS overlap-index maintenance — the q124 ingest pattern
    // applied to the winnowing fingerprint index: the corpus arrives
    // across THREE micro-batches, each batch's RAW distinct (fp, doc)
    // rows append under the retry guard, and the df gate applies AT READ
    // (Winnow.gateIndex) so hotness reflects the WHOLE accumulated corpus
    // — the gated view must be ROW-IDENTICAL to a from-scratch
    // buildOverlapIndex over the same documents (full-outer parity + row
    // count, the q124 violations contract)
    // q151/q152: incremental-vs-batch parity is a Spark-side full-outer
    // contract (the q124 pattern)
    Query("q151_overlap_index_ingest", InvariantOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents")
      withTempDir("q151") { tmp =>
        val (srcDir, ckDir, outDir) = (s"$tmp/src", s"$tmp/ck", s"$tmp/out")
        val stream = fileStream(s, docs, 3, srcDir)
        val store = new graft.sync.ParquetStore(s, outDir)
        IncrementalStream.overlapIndexIngest(stream, "doc_id", "text",
          store, "fps", checkpointDir = ckDir).awaitTermination()
        val served = graft.text.Winnow.gateIndex(
            store.read("fps").get.select(col("fp"), col("doc_id")), "doc_id")
        val batch = graft.text.Winnow.buildOverlapIndex(Tables.fanOut(docs),
          "doc_id", "text")
        val nBatch = batch.count()
        parity(batch, served, Seq("fp", "doc_id"), rows = Some(nBatch)).localCheckpoint()
      }
    }),

    // q153: the GLOBAL running sum q29 deliberately avoided — computed by
    // the q106 range-bucket + offset-join decomposition (hourly buckets
    // are order-consistent with the (ts, event_id) total order; per-
    // bucket windows run in parallel, the exclusive prefix sum over
    // bucket totals is |buckets|-sized and broadcast back), removing the
    // last documented single-partition-window trade. Integer cents;
    // graded against DuckDB's direct one-window formulation
    // q153: DuckDB runs the direct single-window formulation the operator
    // decomposes — same total order, same integer cents
    Query("q153_global_running_sum",
      "SELECT event_id, CAST(sum(CAST(round(value*100) AS BIGINT)) OVER (ORDER BY epoch_ns(ts), event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents FROM events ORDER BY event_id", (s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"), col("ts"),
        round(col("value") * 100).cast(LongType).as("cents"))
      PrefixSum.globalRunningSum(e, "cents",
          expr("ts div 3600000000000"), Seq(col("ts"), col("event_id")))
        .select(col("event_id"), col("running_cents"))
        .orderBy("event_id")
    }),

    // q158: CONTINUOUS near-dup-index maintenance — the MinHash member
    // of the index-ingest family (q124 ANN, q151 winnowing), closing its
    // build-once asymmetry: the corpus arrives across THREE
    // micro-batches, each batch's band rows + shingle sets append under
    // the per-table retry guard, and BOTH accumulated tables must be
    // row-identical to a from-scratch buildNearDupIndex over the same
    // documents (dual full-outer + row-count violations, the q124
    // pattern; id-keyed joins with value equality in the condition —
    // id_b / (id_b, band) are unique per table by construction)
    // q158: incremental-vs-batch dual-table parity is a Spark-side
    // full-outer contract (the q124 pattern)
    Query("q158_dedup_index_ingest", InvariantOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents")
      val shingler: Column => Column =
        c => Dedup.hashedShingles(TextAnalysis.tokenSet(c))
      withTempDir("q158") { tmp =>
        val (srcDir, ckDir, outDir) = (s"$tmp/src", s"$tmp/ck", s"$tmp/out")
        val stream = fileStream(s, docs, 3, srcDir)
        val store = new graft.sync.ParquetStore(s, outDir)
        IncrementalStream.dedupIndexIngest(stream, "doc_id", "text",
          shingler, numHashes = 125, bands = 25, store, checkpointDir = ckDir)
          .awaitTermination()
        // fanOut on this batch arm A/B'd and REVERTED (r19): 3.65 -> 4.24/5.10
        // solo — the MinHash build's explode already re-spreads at its own
        // shuffle, the added exchange only costs here
        val batch = Dedup.buildNearDupIndex(docs, "doc_id", "text",
          shingler, numHashes = 125, bands = 25)
        val nBand = batch.bandIndex.count()
        val bandViol = parity(
          batch.bandIndex.select(col("id_b"), col("band"), col("bh").as("__bha")),
          store.read("band_index").get.select(col("id_b"), col("band"), col("bh").as("__bhb")),
          Seq("id_b", "band"), Some(col("__bha") =!= col("__bhb")), Some(nBand))
        val nSet = batch.shingleSets.count()
        val setViol = parity(batch.shingleSets.select(col("id_b"), col("__sb").as("__sa")),
          store.read("shingle_sets").get.select(col("id_b"), col("__sb")),
          Seq("id_b"), Some(col("__sa") =!= col("__sb")), Some(nSet))
        bandViol.unionByName(setViol)
          .agg(sum(col("violations")).as("violations"))
          .localCheckpoint()
      }
    }),

    // q157: the COMPLETE BPE pipeline tail under a fixed merge list —
    // bpeEncode pieces → piece vocabulary (buildFromTokens, top-200) →
    // piece ids (encodeTokens), graded against a FULL DuckDB oracle that
    // replays the same five merges as an unrolled list_reduce fuse chain
    // (integer ids end to end; merge 1 chains onto merge 0)
    // q157: the same five merges unrolled as a list_reduce fuse chain
    // (list-of-lists accumulator = the exact left-to-right
    // non-overlapping greedy fuse), then the q145 vocab + positional
    // encode shapes over PIECES
    Query("q157_bpe_piece_ids",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), p AS (SELECT doc_id, flatten(list_transform(ts, w -> list_reduce(list_transform(list_reduce(list_transform(list_reduce(list_transform(list_reduce(list_transform(list_reduce(list_transform([w[i] for i in range(1, len(w) + 1)], x -> [x]), (acc, x) -> CASE WHEN acc[-1] = 't' AND x[1] = 'h' THEN list_concat(acc[1:len(acc)-1], ['th']) ELSE list_concat(acc, x) END), x -> [x]), (acc, x) -> CASE WHEN acc[-1] = 'th' AND x[1] = 'e' THEN list_concat(acc[1:len(acc)-1], ['the']) ELSE list_concat(acc, x) END), x -> [x]), (acc, x) -> CASE WHEN acc[-1] = 'a' AND x[1] = 'n' THEN list_concat(acc[1:len(acc)-1], ['an']) ELSE list_concat(acc, x) END), x -> [x]), (acc, x) -> CASE WHEN acc[-1] = 'i' AND x[1] = 'n' THEN list_concat(acc[1:len(acc)-1], ['in']) ELSE list_concat(acc, x) END), x -> [x]), (acc, x) -> CASE WHEN acc[-1] = 'e' AND x[1] = 'r' THEN list_concat(acc[1:len(acc)-1], ['er']) ELSE list_concat(acc, x) END))) AS pieces FROM tok), cnt AS (SELECT piece, CAST(count(*) AS BIGINT) AS n FROM (SELECT unnest(pieces) AS piece FROM p) GROUP BY 1), v AS (SELECT piece, CAST(row_number() OVER (ORDER BY n DESC, piece) AS BIGINT) AS token_id FROM cnt ORDER BY n DESC, piece LIMIT 200), e AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, pieces[i] AS piece FROM p, LATERAL unnest(range(1, len(pieces) + 1)) AS u(i)) SELECT e.doc_id, e.pos, CAST(coalesce(v.token_id, 0) AS BIGINT) AS token_id FROM e LEFT JOIN v USING (piece) ORDER BY doc_id, pos""", (s, dir) => {
      val docs = tw(s, dir, "documents")
      val pieces = docs.select(col("doc_id"),
        TextAnalysis.bpeEncode(col("text"), BpeFixedMerges).as("__pieces"))
      val vocab = graft.text.Vocab.buildFromTokens(pieces, col("__pieces"),
        topN = 200)
      graft.text.Vocab.encodeTokens(pieces, "doc_id", col("__pieces"), vocab)
        .select(col("doc_id"), posexplode(col("ids")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").as("token_id"))
        .orderBy("doc_id", "pos")
    }),

    // q156: weighted sampling without replacement (Efraimidis–Spirakis
    // A-ES) — top-5 per source with selection probability ∝ n_chars,
    // keys u^(1/w) from the md5(seed:id) cross-engine uniform (the q106
    // hash trick), ranked by the monotone-equivalent ln(u)/w. Integer
    // rank skeleton graded; adjacent-key margins measured (see
    // Sampling.weightedSample) — hash-uniform keys never near-tie
    // q156: same md5-uniform, same ln(u)/w ranking — '0x'||hex CAST is
    // DuckDB's conv(hex, 16, 10); the 52-bit numerator is double-exact
    Query("q156_weighted_sample",
      "WITH u AS (SELECT source, doc_id, n_chars AS w, greatest(CAST('0x' || substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) / 4503599627370496.0, 1e-300) AS u FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0), r AS (SELECT source, doc_id, CAST(row_number() OVER (PARTITION BY source ORDER BY ln(u)/w DESC, doc_id) AS BIGINT) AS sample_rank FROM u) SELECT source, doc_id, sample_rank FROM r WHERE sample_rank <= 5 ORDER BY source, sample_rank", (s, dir) =>
      Sampling.weightedSample(t(s, dir, "documents"), Seq("source"), "doc_id",
          col("n_chars"), k = 5, seed = "graft")
        .select(col("source"), col("doc_id"), col("sample_rank"))
        .orderBy("source", "sample_rank")),

    // q162: the GLOBAL (ungrouped) A-ES weighted sample — q156 with
    // keys = none, which must NOT degenerate to one corpus-sized window:
    // rows bucket by the md5 key's first hex byte, each bucket keeps its
    // own k best in a parallel keyed window, and a final sample-sized
    // window re-ranks the <= 256·k survivors (the q106/q153 bucket
    // decomposition; plan pinned multi-partition in PlanShapeSpec).
    // Graded against DuckDB's direct un-partitioned one-window A-ES —
    // same md5-uniform, same ln(u)/w key, same (DESC, doc_id) total order
    // q162: the q156 A-ES oracle un-partitioned — DuckDB runs the direct
    // global one-window formulation the operator decomposes
    Query("q162_global_weighted_sample",
      "WITH u AS (SELECT doc_id, n_chars AS w, greatest(CAST('0x' || substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) / 4503599627370496.0, 1e-300) AS u FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0), r AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY ln(u)/w DESC, doc_id) AS BIGINT) AS sample_rank FROM u) SELECT doc_id, sample_rank FROM r WHERE sample_rank <= 100 ORDER BY sample_rank", (s, dir) =>
      Sampling.weightedSample(t(s, dir, "documents"), Seq.empty, "doc_id",
          col("n_chars"), k = 100, seed = "graft")
        .select(col("doc_id"), col("sample_rank"))
        .orderBy("sample_rank")),

    // q164: the §2.4-11 unicode-whitespace parity knob — Coerce.stripUnicode
    // strips Python str.strip()'s FULL whitespace set. The gate PLANTS
    // exotic-space edges (NBSP + EN QUAD left, NNBSP + IDEOGRAPHIC SPACE
    // right — the synthetic corpus is pure ASCII, where the old ASCII
    // class would pass unnoticed) and compares against DuckDB's trim()
    // with the identical literal chr() character list; the padded/stripped
    // length pair proves exactly the planted edges came off
    // q164: DuckDB pads with the identical chr() edges and trims with the
    // full Python whitespace set as a LITERAL character list — chr codes
    // 9-13, 28-31, 32, 133, 160, 5760, 8192-8202, 8232, 8233, 8239,
    // 8287, 12288 — the exact class Coerce.stripUnicode pins
    Query("q164_unicode_strip",
      ("WITH ws(cs) AS (SELECT chr(9)||chr(10)||chr(11)||chr(12)||chr(13)||chr(28)||chr(29)||chr(30)||chr(31)||chr(32)||chr(133)||chr(160)||chr(5760)||chr(8192)||chr(8193)||chr(8194)||chr(8195)||chr(8196)||chr(8197)||chr(8198)||chr(8199)||chr(8200)||chr(8201)||chr(8202)||chr(8232)||chr(8233)||chr(8239)||chr(8287)||chr(12288)), " +
        "p AS (SELECT doc_id, chr(160)||chr(8192)||' '||text||' '||chr(8239)||chr(12288) AS t FROM documents) " +
        "SELECT doc_id, trim(t, (SELECT cs FROM ws)) AS t_stripped, CAST(len(t) AS BIGINT) AS len_padded, CAST(len(trim(t, (SELECT cs FROM ws))) AS BIGINT) AS len_stripped FROM p ORDER BY doc_id"), (s, dir) => {
      // escapes, not literal characters, so the source cannot silently
      // hold plain spaces instead (the q108 combining-mark precedent)
      val padded = concat(lit("\u00A0\u2000 "), col("text"),
        lit(" \u202F\u3000"))
      t(s, dir, "documents").select(col("doc_id"), padded.as("t"))
        .select(col("doc_id"),
          Coerce.stripUnicode(col("t")).as("t_stripped"),
          length(col("t")).cast(LongType).as("len_padded"),
          length(Coerce.stripUnicode(col("t"))).cast(LongType).as("len_stripped"))
        .orderBy("doc_id")
    }),

    // q155: the LARGE-VOCABULARY encode gate — q146's scale twin through
    // the broadcast-join encode path (vocabulary validated + pinned by
    // localCheckpoint at query start, never driver-collected), arrivals
    // across TWO micro-batches, accumulated log exploded must equal
    // batch q145 row-for-row (SAME full SQL oracle) — the q149 pairing
    // deployed at ingest
    // q155 grades the large-vocab streaming gate against the same batch
    // encoding oracle (the q146 pairing through the join path)
    Query("q155_stream_encode_join_gate", VocabEncodeOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents")
      withTempDir("q155") { tmp =>
        val (srcDir, ckDir, outDir) = (s"$tmp/src", s"$tmp/ck", s"$tmp/out")
        val store = new graft.sync.ParquetStore(s, outDir)
        val vocabStore = new graft.sync.ParquetStore(s, s"$tmp/vocab")
        vocabStore.write(graft.text.Vocab.build(docs, "text", topN = 200), "vocab")
        val stream = fileStream(s, docs, 2, srcDir)
        IncrementalStream.encodeGateJoin(stream, vocabStore.read("vocab").get,
          "doc_id", "text", store, "encoded", checkpointDir = ckDir)
          .awaitTermination()
        store.read("encoded").get
          .select(col("doc_id"), posexplode(col("ids")))
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            col("col").as("token_id"))
          .orderBy("doc_id", "pos").localCheckpoint()
      }
    }),

    // q154: the APPLY side of BPE training — the codegen'd merge-replay
    // expression (BpeApply, reference-object merge table) must reproduce
    // the trained word table's final segmentation for EVERY distinct
    // corpus word: train/apply parity is exact by construction (in-order
    // replay of the same per-word fuse), so the grade is a pure
    // two-implementations contract — JVM loop vs the catalyst array fold
    // training used. Eight full merges; full-outer + merge-count
    // violations (the q124 pattern). Trainer: the full-recount loop —
    // this query grades BpeApply, not the trainer (q150 trains the delta
    // path, q159 pins delta == full), and full recount is the cheaper
    // harness at graded SF (fewer jobs/round), keeping the measurement
    // comparable with the floor seeded before the delta trainer landed
    // q154: train/apply parity is a Spark-side two-implementation
    // contract (DuckDB cannot express the sequential merge replay)
    Query("q154_bpe_encode", InvariantOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents")
      val nMerges = 8
      val (merges, trained) = TextAnalysis.bpeTrainFullRecount(docs, "text", nMerges)
      val pairs = merges.sortBy(_.step).map(m => (m.left, m.right))
      val applied = docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("__w")).distinct()
        .select(col("__w"), concat_ws(" ",
          graft.functions.BpeApply(array(col("__w")), pairs)).as("__ap"))
      val want = trained
        .select(col("__w"), concat_ws(" ", col("__syms")).as("__tr"))
      applied.join(want, Seq("__w"), "full_outer")
        .agg((violations(col("__ap").isNull || col("__tr").isNull ||
            col("__ap") =!= col("__tr"))
          + lit(if (merges.size == nMerges) 0L else 1L)).as("violations"))
        .localCheckpoint()
    }),

    // q152: IVF centroid-retrain reassignment — the offline drift-retrain
    // pass the continuous-ingest contract prescribes: a served 8-cell
    // index re-routes in ONE narrow pass to freshly trained 5-cell
    // centroids (Similarity.reassign — source table never re-read), and
    // must be row-identical to a from-scratch ivfIndex build under the
    // new centroids, whose own deterministic k-means must reproduce the
    // retrained centroids bit-for-bit (full-outer parity + row count +
    // centroid equality, the q124 violations contract)
    Query("q152_ivf_reassign", InvariantOracleSql, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val old = Similarity.ivfIndex(emb, "vec_id", "embedding", numCentroids = 8)
      val newCents = Similarity.ivfCentroids(emb, "vec_id", "embedding", k = 5)
      val re = Similarity.reassign(old, "embedding", newCents)
      val fresh = Similarity.ivfIndex(emb, "vec_id", "embedding", numCentroids = 5)
      val centsMatch = re.cents.map { case (i, a) => (i, a.toSeq) }.toSeq ==
        fresh.cents.map { case (i, a) => (i, a.toSeq) }.toSeq
      val nFresh = fresh.assigned.count()
      parity(re.assigned.select(col("vec_id"), col("__centroid")),
          fresh.assigned.select(col("vec_id"), col("__centroid")), Seq("vec_id", "__centroid"),
          rows = Some(nFresh), extra = Seq(lit(if (centsMatch) 0L else 1L)))
        .localCheckpoint()
    }),

    // q159: the delta-recount BPE trainer (maintained ± pair-count table,
    // per-round cost ∝ the winning pair's support) graded against the
    // full-per-round-recount reference implementation over MORE rounds
    // than q150's brute-force check (seven — enough for a wrong delta to
    // compound visibly): the merge sequence (pair AND selection count at
    // every step) and the final per-word symbol tables must both match
    // exactly, plus a progress guard (all seven merges executed — two
    // trivially-empty trains must not pass vacuously)
    // q159: delta-recount vs full-recount training is a Spark-side
    // two-implementation contract (the q150 sibling — DuckDB cannot
    // express the sequential merge fold)
    Query("q159_bpe_delta_train", InvariantOracleSql, (s, dir) => {
      val docs = tw(s, dir, "documents")
      val nMerges = 7
      val (dm, dw) = TextAnalysis.bpeTrain(docs, "text", nMerges)
      val (fm, fw) = TextAnalysis.bpeTrainFullRecount(docs, "text", nMerges)
      val headViolations =
        (if (dm != fm) 1L else 0L) + (if (dm.size != nMerges) 1L else 0L)
      val nFull = fw.count()
      def table(w: DataFrame) = w.select(col("__w"), concat_ws(" ", col("__syms")).as("__sy"))
      parity(table(dw), table(fw), Seq("__w", "__sy"), rows = Some(nFull),
          extra = Seq(lit(headViolations)))
        .localCheckpoint()
    }),

    // q165: unigram-LM tokenizer TRAINING — the other tokenizer family
    // next to BPE (q150/q159): substring-seed then hard-EM rounds of
    // Viterbi-segment -> recount -> rescore, everything integer (counts
    // exact sums, scores driver-floored milli-log-probs), graded as the
    // q150 contract: the distributed trainer must equal a brute-force
    // driver-Scala trainer over the collected word table — same seed
    // rule, same keep rule, same StrictMath score, but an INDEPENDENT
    // Viterbi reimplementation, so the codegen DP expression is itself
    // under test through every round's segmentations
    // q165: hard-EM unigram training is a Spark-side two-implementation
    // contract (the q150/q159 family — the EM loop is sequential by
    // nature; every round's segmentations ARE cross-checked against an
    // independent Viterbi in-query)
    Query("q165_unigram_train", InvariantOracleSql, (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val (maxLen, keepMulti, rounds) = (3, 12, 3)
      val trained = Unigram.unigramTrain(docs, "text", maxLen, keepMulti, rounds)
      val wf = TextAnalysis.bpeWordTable(docs, "text")
        .select(col("__w"), col("__c")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val ref = Unigram.unigramTrainReference(wf, maxLen, keepMulti, rounds)
      val headViolations =
        (if (trained != ref) 1L else 0L) +
          // coverage invariant: every corpus character stays encodable
          (if (!wf.iterator.flatMap(_._1.toSeq).map(_.toString).toSet
            .subsetOf(trained.map(_.piece).toSet)) 1L else 0L)
      // the apply expression must reproduce the independent Viterbi under
      // the final table for EVERY distinct corpus word (distributed side
      // codegen'd, reference side plain Scala)
      val scores = trained.map(p => p.piece -> p.scoreMilli).toMap
      val refSeg = wf.map { case (w, _) =>
        (w, Unigram.viterbi(w, scores,
          trained.iterator.map(_.piece.length).max).mkString(" "))
      }.toDF("__w", "__ref")
      TextAnalysis.bpeWordTable(docs, "text")
        .select(col("__w"),
          concat_ws(" ", graft.functions.UnigramEncode(array(col("__w")),
            trained.map(p => (p.piece, p.scoreMilli)),
            Unigram.DefaultUnkScoreMilli)).as("__got"))
        .join(refSeg, Seq("__w"), "full_outer")
        .agg((violations(col("__got").isNull || col("__ref").isNull ||
          col("__got") =!= col("__ref")) + lit(headViolations)).as("violations"))
        .localCheckpoint()
    }),

    // q166: unigram-LM tokenizer APPLY under the PINNED piece table
    // (UnigramPinned — hand-set integer milli-log-probs, literal in both
    // engines): every document word Viterbi-segments and the pieces
    // posexplode to (doc_id, pos, piece), graded against a full DuckDB
    // list_reduce DP oracle running the IDENTICAL integer recurrence —
    // same L-ascending >= tie rule (longer piece wins equal totals, the
    // planted t+h == th == t h e chain), same single-char UNK floor
    // (letters b c d j k q y are deliberately out-of-vocab). The Spark
    // side is ONE narrow codegen'd projection — no join, no shuffle, the
    // piece table rides as a reference object; at 100 TB the corpus is
    // scanned once and only (doc_id, pos, piece) moves
    // q166: DuckDB runs the IDENTICAL integer Viterbi recurrence as a
    // list_reduce DP — acc carries one {score, segmentation} cell per
    // prefix, candidates scan piece length L ascending and replace on >=
    // (ties prefer longer), multi-char pieces score via the literal CASE
    // (NULL -> filtered out), single chars fall back to the -100000 UNK
    // floor. The CASE literals are character-identical to UnigramPinned.
    Query("q166_unigram_encode", UnigramEncodeOracleSql, (s, dir) =>
      tw(s, dir, "documents")
        .select(col("doc_id"), posexplode(graft.functions.UnigramEncode(
          TextAnalysis.tokens(col("text")), UnigramPinned,
          Unigram.DefaultUnkScoreMilli)))
        .toDF("doc_id", "pos", "piece")
        .select(col("doc_id"), col("pos").cast(LongType), col("piece"))
        .orderBy("doc_id", "pos")),

    // q167: linear-classifier TRAINING (the fastText-filter role — here a
    // language separator over md5-hashed token-count buckets) — full-batch
    // hinge subgradient, INTEGERS end to end (counts, micro-weights,
    // micro-margins, exact integer gradient sums), so unlike every float
    // trainer the whole 3-round descent replays cross-engine: the DuckDB
    // oracle re-runs training as a CTE chain (generated from the same
    // constants — svmOracleSql) and the weight tables must match to the
    // last micro. lr is sized so margins CROSS the hinge threshold and
    // the violated set genuinely changes round to round (at a timid lr
    // every round degenerates to all-violated and grades nothing)
    // q167: the generated integer-hinge replay — final weights + bias row
    Query("q167_svm_train", svmOracleSql(
      s"SELECT f, w AS w_micros FROM w$SvmRounds UNION ALL " +
        s"SELECT CAST(-1 AS BIGINT) AS f, (SELECT b FROM b$SvmRounds) AS w_micros ORDER BY f"), (s, dir) => {
      val (_, model) = svmTrained(s, dir)
      Classifier.weightsTable(s, model).orderBy("f")
    }),

    // q168: classifier SCORING under the q167-trained model — margins and
    // predictions per document, one narrow pass with the weights as a
    // dims-bounded literal map (no join, no shuffle; at 100 TB the corpus
    // is scanned once — the quality-filter deployment shape). The oracle
    // replays training AND scores, so any scoring-path drift (hash,
    // counts, bias handling, the strict margin>0 sign rule) fails here
    // even if q167 passes
    // q168: the same replay scored under the final weights (m{R+1})
    Query("q168_svm_score", SvmScoreOracleSql, (s, dir) => {
      val (df, model) = svmTrained(s, dir)
      Classifier.score(df, "doc_id", model).orderBy("doc_id")
    }),

    // q169: the classifier DEPLOYED at ingest — the q167 model persists
    // as its weight table (train-once), arrivals stream across two
    // micro-batches through the gate's ONE-PASS text scorer (a pure
    // integer array fold, no feature table at all), and the accumulated
    // (doc_id, margin, pred) log must equal the batch q168 result under
    // the SAME cross-engine training-replay oracle. This grades
    // scoreText's linearity identity (Σ_f w_f·x_f == Σ_tokens w_bucket)
    // AND batch-partitioning invariance in one gate
    // q169: the streaming classifier gate accumulates EXACTLY the batch
    // q168 result — same replay oracle, shared by construction
    Query("q169_stream_classify_gate", SvmScoreOracleSql, (s, dir) => {
      val (_, model) = svmTrained(s, dir)
      val docs = t(s, dir, "documents")
      withTempDir("q169") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/out")
        val wStore = new graft.sync.ParquetStore(s, s"$tmp/w")
        wStore.write(Classifier.weightsTable(s, model), "weights")
        val stream = fileStream(s, docs, 2, s"$tmp/src")
        IncrementalStream.classifierGate(stream, wStore.read("weights").get,
          "doc_id", "text", store, "scored", checkpointDir = s"$tmp/ck")
          .awaitTermination()
        store.read("scored").get
          .select(col("doc_id"), col("margin_micros"), col("pred"))
          .orderBy("doc_id").localCheckpoint()
      }
    }),

    // q170: the unigram tokenizer DEPLOYED at ingest — the pinned piece
    // table persists as its artifact, arrivals stream across two
    // micro-batches through the gate's narrow codegen'd Viterbi, and the
    // accumulated (doc_id, pieces) log exploded must equal batch q166
    // under the SAME DuckDB DP oracle: segmentation is
    // batch-partitioning-invariant because scores are pinned at gate
    // start (the q146 encode-gate contract for the unigram family)
    // q170: the streaming unigram gate accumulates EXACTLY the batch
    // q166 result — same DP oracle, shared by construction
    Query("q170_stream_unigram_gate", UnigramEncodeOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents")
      withTempDir("q170") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/out")
        val pStore = new graft.sync.ParquetStore(s, s"$tmp/p")
        pStore.write(s.createDataFrame(
            UnigramPinned.map(p => Unigram.UnigramPiece(p._1, 0L, p._2)))
          .select(col("piece"), col("cnt"), col("scoreMilli").as("score_milli")),
          "pieces")
        val stream = fileStream(s, docs, 2, s"$tmp/src")
        IncrementalStream.unigramGate(stream, pStore.read("pieces").get,
          "doc_id", "text", store, "pieces", checkpointDir = s"$tmp/ck")
          .awaitTermination()
        store.read("pieces").get
          .select(col("doc_id"), posexplode(col("pieces")))
          .toDF("doc_id", "pos", "piece")
          .select(col("doc_id"), col("pos").cast(LongType), col("piece"))
          .orderBy("doc_id", "pos").localCheckpoint()
      }
    }),

    // q171: the full Gopher quality-rule battery (q18's qualityOk is the
    // two-signal toy) — one narrow integer pass emitting every rule's
    // count AND flag so curation can audit per-rule kill rates. The
    // corpus is clean synthetic prose, so each rule's failure branch is
    // PLANTED by doc_id residue (the q164 convention, identical concat in
    // the oracle): %2 must-have stopwords, %7 symbol soup, %5 bullet
    // lines, %3 ellipsis lines, %11 digit-only words, %13 a 60-line
    // bullet wall (the >90% bullet share) — every r_* splits both ways
    // at sf0.001 and keep is a genuine conjunction (98/500)
    // q171: DuckDB replays the identical planted concat and the identical
    // integer rule battery — whitespace words, milli-scaled mean length
    // (same IEEE divide-then-floor), cross-multiplied ratio tests, the
    // stopword CASE sum GENERATED from Gopher.Stopwords
    Query("q171_gopher_rules", GopherOracleSql, (s, dir) =>
      graft.text.Gopher.quality(gopherPlanted(tw(s, dir, "documents")),
          "doc_id", "text")
        .orderBy("doc_id")),

    // q173: the Gopher battery DEPLOYED at ingest \u2014 the same planted
    // corpus arrives across two micro-batches through the stateless
    // gate and the accumulated verdict log must equal batch q171 under
    // the SAME full oracle (shared by construction). The cheap first
    // filter stage of the serving stack, before the model gates
    // q173: the streaming gate accumulates EXACTLY the batch q171 table
    Query("q173_stream_gopher_gate", GopherOracleSql, (s, dir) => {
      val planted = gopherPlanted(t(s, dir, "documents"))
      withTempDir("q173") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/out")
        val stream = fileStream(s, planted, 2, s"$tmp/src")
        IncrementalStream.gopherGate(stream, "doc_id", "text",
          store, "quality", checkpointDir = s"$tmp/ck").awaitTermination()
        store.read("quality").get.drop("__run", "__batch")
          .orderBy("doc_id").localCheckpoint()
      }
    }),

    // q172: the compression-ratio repetition signal — deflate every doc
    // (round-trip-verified, fail-closed -1) plus two PLANTED comparators
    // per doc: its own 40-char head repeated 20x (boilerplate — must
    // compress below 300 milli; measured max 70 at both SFs, > 4x
    // margin) and an equal-length md5-hex chain (noise — must stay above
    // 400 milli; measured min 557). Violations: any failed round-trip,
    // any size bound breach (0 < size <= bytes + 64), any planted
    // ordering/threshold breach, any real-doc ratio above the
    // overhead-adjusted ceiling (1100 milli + the constant zlib header).
    // A violations contract BY NATURE: no SQL engine exposes a
    // bit-compatible deflate (the q150/q160 family)
    // q172: deflate is JVM-side by nature — planted-comparator violations
    Query("q172_compression_signal", InvariantOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents")
      val rep = repeat(substring(col("text"), 1, 40), 20)
      val noise = concat((0 until 25).map(i =>
        md5(concat(col("doc_id").cast("string"), lit(s":$i")).cast("binary"))): _*)
      val withSizes = docs.select(col("doc_id"), col("text"),
        graft.functions.DeflateSize(col("text")).as("d"),
        octet_length(col("text")).cast(LongType).as("len"),
        graft.functions.DeflateSize(rep).as("a"),
        octet_length(rep).cast(LongType).as("alen"),
        graft.functions.DeflateSize(noise).as("b"),
        octet_length(noise).cast(LongType).as("blen"))
      withSizes.agg(violations(
        col("d") <= 0L || col("d") > col("len") + 64L ||
          // overhead-adjusted ratio ceiling: short docs pay the ~11-byte
          // zlib constant header (a 47-byte doc measured 1127 milli raw)
          col("d") * 1000L > col("len") * 1100L + 64000L ||
          col("a") <= 0L || col("b") <= 0L ||
          col("a") >= col("b") ||
          col("a") * 1000L > col("alen") * 300L ||
          col("b") * 1000L < col("blen") * 400L))
        .localCheckpoint()
    }),

    // q174: accent stripping (NFD -> drop Mn -> NFC) — the dedup-recall
    // normalization one step past q108's NFC ("café" and "cafe" hash
    // apart; accent variants of one word are one word to retrieval).
    // The pure-ASCII corpus gets PLANTED accent edges by residue:
    // precomposed Latin (%2), phrase accents incl. the non-decomposable
    // ß and å (%3, %5), and DECOMPOSED combining marks (%5 — 'e'+U+0301,
    // the form NFC-composed corpora never show but web text does).
    // Graded char-for-char against DuckDB's strip_accents (verified to
    // agree with NFD-Mn-NFC on the whole planted range); the length pair
    // proves exactly the marks came off. ASCII rows take the
    // allocation-free fast path — one scan, input returned untouched
    // q174: DuckDB plants the identical chr() accent edges and strips
    // with its own strip_accents — verified char-for-char equal to
    // NFD-Mn-NFC on this range, so the expression grades cross-engine
    Query("q174_strip_accents",
      ("WITH p AS (SELECT doc_id, text" +
        " || CASE WHEN doc_id % 2 = 0 THEN ' caf' || chr(233) || ' se' || chr(241) || 'or na' || chr(239) || 've' ELSE '' END" +
        " || CASE WHEN doc_id % 3 = 0 THEN ' cr' || chr(232) || 'me br' || chr(251) || 'l' || chr(233) || 'e ' || chr(229) || 'land' ELSE '' END" +
        " || CASE WHEN doc_id % 5 = 0 THEN ' de' || chr(769) || 'ja' || chr(768) || ' vu ' || chr(252) || 'berma' || chr(223) ELSE '' END AS t FROM documents) " +
        "SELECT doc_id, strip_accents(t) AS t_stripped, CAST(len(t) AS BIGINT) AS len_before, " +
        "CAST(len(strip_accents(t)) AS BIGINT) AS len_after FROM p ORDER BY doc_id"), (s, dir) => {
      val plant = concat(col("text"),
        when(col("doc_id") % 2 === 0,
          lit(" caf\u00e9 se\u00f1or na\u00efve")).otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          lit(" cr\u00e8me br\u00fbl\u00e9e \u00e5land")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit(" de\u0301ja\u0300 vu \u00fcberma\u00df")).otherwise(lit("")))
      t(s, dir, "documents").select(col("doc_id"), plant.as("t"))
        .select(col("doc_id"),
          Normalize.stripAccents(col("t")).as("t_stripped"),
          length(col("t")).cast(LongType).as("len_before"),
          length(Normalize.stripAccents(col("t"))).cast(LongType).as("len_after"))
        .orderBy("doc_id")
    }),

    // q175: the data-quality expectation report — Deequ-style declarative
    // validation a sync pipeline runs against every landed table: row
    // checks (ALL in one aggregate pass), key-uniqueness, and referential
    // integrity, each one auditable (check_name, n_rows, n_violations, pass)
    // row. Includes a deliberately failing range check (most orders cost
    // over 100) so nonzero violation COUNTS are graded, not just zeros.
    // Integer counts end to end — full SQL oracle
    // q175: the same counts as plain SQL — per check one row of
    // (check, n_rows, n_violations, pass), unioned and ordered
    Query("q175_data_expectations",
      ("WITH r AS (" +
        "SELECT 'o_custkey_not_null' AS check_name, CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_violations FROM orders" +
        " UNION ALL SELECT 'o_totalprice_positive', CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN coalesce(o_totalprice > 0, false) THEN 0 ELSE 1 END) AS BIGINT) FROM orders" +
        " UNION ALL SELECT 'o_totalprice_under_100', CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN coalesce(o_totalprice < 100, false) THEN 0 ELSE 1 END) AS BIGINT) FROM orders" +
        " UNION ALL SELECT 'l_quantity_range', CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN coalesce(l_quantity >= 1 AND l_quantity <= 50, false) THEN 0 ELSE 1 END) AS BIGINT) FROM lineitem" +
        // uniqueness: n - distinct-over-FULLY-NON-NULL-keys — null-keyed
        // rows each count once (they are not in the distinct), never
        // twice (the uniqueCheck null-skipping contract)
        " UNION ALL SELECT 'o_orderkey_unique', CAST(count(*) AS BIGINT), CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders" +
        " UNION ALL SELECT 'lineitem_pk_unique', CAST(count(*) AS BIGINT), CAST(count(*) - count(DISTINCT CASE WHEN l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL THEN (l_orderkey, l_linenumber) END) AS BIGINT) FROM lineitem" +
        " UNION ALL SELECT 'l_orderkey_in_orders', CAST((SELECT count(*) FROM lineitem) AS BIGINT), CAST((SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)) " +
        "SELECT check_name, n_rows, n_violations, CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass FROM r ORDER BY check_name"), (s, dir) => {
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      Expectations.all(
        Expectations.rowChecks(orders, Seq(
          "o_custkey_not_null" -> col("o_custkey").isNotNull,
          "o_totalprice_positive" -> (col("o_totalprice") > 0),
          "o_totalprice_under_100" -> (col("o_totalprice") < 100))),
        Expectations.rowChecks(li, Seq(
          "l_quantity_range" -> (col("l_quantity") >= 1 && col("l_quantity") <= 50))),
        Expectations.uniqueCheck(orders, "o_orderkey_unique", Seq("o_orderkey")),
        Expectations.uniqueCheck(li, "lineitem_pk_unique",
          Seq("l_orderkey", "l_linenumber")),
        Expectations.refCheck(li, "l_orderkey_in_orders", "l_orderkey",
          orders, "o_orderkey"))
        .orderBy("check_name")
    }),

    // q176: TextRank corpus keywords — integer PageRank (micro-units,
    // floor mass transfer, permille damping) over the bigram word graph,
    // the engine's second graph-iteration family next to connected
    // components (reachability there, stationary mass here). Integer by
    // design so the full 3-round recursion replays cross-engine: the
    // DuckDB oracle is a GENERATED CTE chain (textRankOracleSql, the
    // q167 pattern) and the graded artifact is every kept rank to the
    // last micro under the total (pr DESC, node) order
    // q176: the generated integer-PageRank replay over the same bigram
    // graph — `//` and Spark's `div` agree exactly on the all-positive
    // operands
    Query("q176_textrank_keywords", textRankOracleSql(iters = 3, k = 30), (s, dir) =>
      graft.text.TextRank.keywords(tw(s, dir, "documents"), "text",
          iters = 3, k = 30)
        .orderBy("rank")),

    // q177: the DQ monitor deployed at ingest — per-micro-batch
    // expectation reports, the metrics-over-time shape (a batch whose
    // null rate jumps is its own rows, not averaged into corpus totals).
    // Arrivals split by doc parity into two deterministic micro-batches;
    // the accumulated log must equal the two per-parity SQL reports —
    // 2 rows per check, a FULL oracle (order-free: the compare sorts)
    // q177: two per-parity SQL reports unioned — one row per (check,
    // batch); the compare sorts, so batch arrival order is irrelevant
    Query("q177_stream_expectations", {
      def side(parity: Int): String =
        s"SELECT 'text_not_null' AS check_name, CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(CASE WHEN text IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_violations FROM documents WHERE doc_id % 2 = $parity" +
          s" UNION ALL SELECT 'n_chars_positive', CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN coalesce(n_chars > 0, false) THEN 0 ELSE 1 END) AS BIGINT) FROM documents WHERE doc_id % 2 = $parity" +
          s" UNION ALL SELECT 'n_chars_under_500', CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN coalesce(n_chars < 500, false) THEN 0 ELSE 1 END) AS BIGINT) FROM documents WHERE doc_id % 2 = $parity" +
          s" UNION ALL SELECT 'lang_known', CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN coalesce(lang IN ('en','fr','es','zh','de'), false) THEN 0 ELSE 1 END) AS BIGINT) FROM documents WHERE doc_id % 2 = $parity"
      "WITH r AS (" + side(0) + " UNION ALL " + side(1) + ") " +
        "SELECT check_name, n_rows, n_violations, CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass " +
        "FROM r ORDER BY check_name, n_violations"
    }, (s, dir) => {
      val docs = t(s, dir, "documents")
      val checks = Seq(
        "text_not_null" -> col("text").isNotNull,
        "n_chars_positive" -> (col("n_chars") > 0),
        "n_chars_under_500" -> (col("n_chars") < 500),
        "lang_known" -> col("lang").isin("en", "fr", "es", "zh", "de"))
      withTempDir("q177") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/out")
        docs.filter(col("doc_id") % 2 === 0).coalesce(1)
          .write.mode("append").parquet(s"$tmp/src")
        docs.filter(col("doc_id") % 2 === 1).coalesce(1)
          .write.mode("append").parquet(s"$tmp/src")
        val stream = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
        IncrementalStream.expectationsGate(stream, checks,
          store, "dq", checkpointDir = s"$tmp/ck").awaitTermination()
        store.read("dq").get.drop("__run", "__batch", "__obs")
          .orderBy("check_name", "n_violations").localCheckpoint()
      }
    }),

    // q178: column profiling — the schema-discovery report run BEFORE
    // configuring a sync (which columns key? which are sparse? what id
    // ranges?), the Expectations companion: one row per column with
    // exact null/distinct counts and integral min/max, all from ONE
    // logical aggregation (the multi-distinct Expand rewrite — the
    // documented price of exact counts; the approx mode is the 100-TB
    // path and deliberately NOT the graded one). Full SQL oracle
    // q178: per-column stats as plain SQL — integral columns carry
    // min/max, others NULL (no lossy cross-type string render)
    Query("q178_column_profile", {
      def c(name: String, integral: Boolean): String = {
        val mn = if (integral) s"CAST(min($name) AS BIGINT)" else "CAST(NULL AS BIGINT)"
        val mx = if (integral) s"CAST(max($name) AS BIGINT)" else "CAST(NULL AS BIGINT)"
        s"SELECT '$name' AS col_name, CAST(count(*) AS BIGINT) AS n_rows, " +
          s"CAST(sum(CASE WHEN $name IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, " +
          s"CAST(count(DISTINCT $name) AS BIGINT) AS n_distinct, $mn AS min_long, $mx AS max_long FROM orders"
      }
      Seq(c("o_orderkey", integral = true), c("o_custkey", integral = true),
        c("o_orderstatus", integral = false), c("o_totalprice", integral = false),
        c("o_orderdate", integral = false), c("o_orderpriority", integral = false))
        .mkString("WITH r AS (", " UNION ALL ", ") SELECT * FROM r ORDER BY col_name")
    }, (s, dir) =>
      Profile.profile(t(s, dir, "orders")).orderBy("col_name")),

    // q179: C4/CCNet line-level corpus dedup — drop every exact line
    // whose occurrence count across the corpus exceeds maxDf (navigation
    // boilerplate, cookie banners, footers: the highest-yield cleanup on
    // scraped text) and reassemble each doc from its surviving lines in
    // order. The fixture's documents are single-line, so line structure
    // is PLANTED identically in both engines (the q171 convention):
    // 'merge' becomes a line break, every fifth doc shares a newsletter
    // header (hot), every seventh a copyright footer (hot), and every
    // doc carries a unique tail line (must never drop — the negative
    // control). Dropping is retroactive (first occurrence of a hot line
    // drops with the rest) and every doc survives with audit counts
    Query("q179_line_dedup", LineDedupOracleSql, (s, dir) =>
      graft.dedup.Dedup.lineDedup(linePlanted(t(s, dir, "documents")),
        "doc_id", "text", maxDf = 2).orderBy("doc_id")),

    // q180: WordPiece tokenizer APPLY under the PINNED vocabulary
    // (WordPiecePinned — the third tokenizer family, completing the set
    // next to BPE's merge replay q154 and unigram's Viterbi q166):
    // every document word greedy-segments longest-match-first with ##
    // continuation and the pieces posexplode to (doc_id, pos, piece),
    // graded against a full DuckDB list_reduce greedy-walk oracle over
    // the IDENTICAL generated vocabulary literal — same all-or-nothing
    // UNK rule (the planted no-backtrack trap: dup takes 'du' then dies
    // on the absent ##p), same maxInputChars=7 cap (customer, 8 chars).
    // The Spark side is ONE narrow codegen'd projection — no join, no
    // shuffle, the vocabulary rides as a reference object; at 100 TB the
    // corpus is scanned once and only (doc_id, pos, piece) moves
    Query("q180_wordpiece_encode", WordPieceEncodeOracleSql, (s, dir) =>
      tw(s, dir, "documents")
        .select(col("doc_id"), posexplode(graft.functions.WordPieceEncode(
          TextAnalysis.tokens(col("text")), WordPiecePinned,
          WordPiece.DefaultUnkToken, WordPieceCap)))
        .toDF("doc_id", "pos", "piece")
        .select(col("doc_id"), col("pos").cast(LongType), col("piece"))
        .orderBy("doc_id", "pos")),

    // q181: WordPiece TRAINING — likelihood-gain merges (score =
    // cnt(ab)/(cnt(a)·cnt(b)) as the exact scaled integer quotient, the
    // pair that most increases a unigram LM's corpus likelihood — unlike
    // BPE's raw-count argmax the score DIVIDES by parent frequencies, so
    // rare-but-cohesive pairs win first). Graded as the q150+q159
    // contract in one gate: the delta-recounted trainer, the independent
    // full-recount trainer, and a brute-force BigInt driver reference
    // must produce identical merge sequences (scores and counts
    // included) AND identical final word tables; then the codegen greedy
    // encoder must reproduce the driver reference segmentation for EVERY
    // distinct corpus word under the trained vocabulary — tokenizer
    // train AND apply verified end to end
    // q181 is a three-implementation parity gate (delta trainer ==
    // full-recount trainer == BigInt driver reference, plus codegen-vs-
    // reference greedy apply over every distinct word) — violations
    // contract by nature
    Query("q181_wordpiece_train", InvariantOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents")
      val nMerges = 6
      // ONE word table feeds the reference collect AND the apply-parity
      // scan (checkpointed; released with the trainers' final tables
      // once the violations row materializes below)
      val words = TextAnalysis.bpeWordTable(docs, "text")
        .select(col("__w"), col("__c")).localCheckpoint()
      val (dm, dw) = WordPiece.wordPieceTrain(docs, "text", nMerges)
      val (fm, fw) = WordPiece.wordPieceTrainFullRecount(docs, "text", nMerges)
      val wf = words.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val (rm, rsyms) = WordPiece.wordPieceTrainReference(wf, nMerges)
      val headViolations =
        (if (dm != fm) 1L else 0L) + (if (dm != rm) 1L else 0L) +
          // progress guard: empty trains must not pass vacuously
          (if (dm.size != nMerges) 1L else 0L)
      // final word tables: delta, full and reference must agree row-wise
      val refFinal = rsyms.map { case (v, _) => v.mkString(" ") }.toSet
      val tableViolations =
        (Seq(dw, fw).map(_.select(concat_ws(" ", col("__syms"))).collect()
          .map(_.getString(0)).toSet)
          .count(_ != refFinal)).toLong
      // apply parity: codegen greedy vs driver greedy under the trained
      // vocabulary, every distinct corpus word (the q165 tail pattern)
      val vocab = WordPiece.vocabulary(dw, dm)
      val vocabSet = vocab.toSet
      import s.implicits._
      val refSeg = wf.map { case (w, _) =>
        (w, WordPiece.encodeWordReference(w, vocabSet,
          WordPiece.DefaultUnkToken,
          WordPiece.DefaultMaxInputChars).mkString(" "))
      }.toDF("__w", "__ref")
      val res = words
        .select(col("__w"),
          concat_ws(" ", graft.functions.WordPieceEncode(array(col("__w")),
            vocab, WordPiece.DefaultUnkToken,
            WordPiece.DefaultMaxInputChars)).as("__got"))
        .join(refSeg, Seq("__w"), "full_outer")
        .agg((violations(col("__got").isNull || col("__ref").isNull ||
          col("__got") =!= col("__ref"))
          + lit(headViolations + tableViolations)).as("violations"))
        .localCheckpoint()
      Seq(words, dw, fw).foreach(graft.Checkpoints.release)
      res
    }),

    // q182: the WordPiece tokenizer DEPLOYED at ingest — the pinned
    // vocabulary persists as its artifact (one piece column; WordPiece
    // apply needs no scores, the cheapest of the three tokenizer gates
    // to serve), arrivals stream across two micro-batches through the
    // gate's narrow codegen'd greedy projection, and the accumulated
    // (doc_id, pieces) log exploded must equal batch q180 under the SAME
    // DuckDB greedy-walk oracle: segmentation is batch-partitioning-
    // invariant because the vocabulary is pinned at gate start (the
    // q146/q170 contract for the WordPiece family)
    // q182 accumulates the same corpus through the streaming gate under
    // the same pinned vocabulary — shared oracle by construction
    Query("q182_stream_wordpiece_gate", WordPieceEncodeOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents")
      withTempDir("q182") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/out")
        val vStore = new graft.sync.ParquetStore(s, s"$tmp/v")
        import s.implicits._
        vStore.write(WordPiecePinned.toDF("piece"), "vocab")
        val stream = fileStream(s, docs, 2, s"$tmp/src")
        IncrementalStream.wordPieceGate(stream, vStore.read("vocab").get,
          "doc_id", "text", store, "pieces", checkpointDir = s"$tmp/ck",
          maxInputChars = WordPieceCap)
          .awaitTermination()
        store.read("pieces").get
          .select(col("doc_id"), posexplode(col("pieces")))
          .toDF("doc_id", "pos", "piece")
          .select(col("doc_id"), col("pos").cast(LongType), col("piece"))
          .orderBy("doc_id", "pos").localCheckpoint()
      }
    }),

    // q183: CONTINUOUS line-index maintenance — the C4 line-dedup member
    // of the index-ingest family (q124 ANN, q151 winnowing, q158
    // MinHash): the planted multi-line corpus arrives across THREE
    // micro-batches, each batch's (doc_id, pos, line) occurrence rows
    // append under the (doc_id, pos)-keyed retry guard, and serving the
    // accumulated index through lineDedupFromIndex must equal batch q179
    // under the SAME DuckDB oracle — the hot threshold applies AT READ,
    // so a boilerplate line crossing maxDf mid-stream drops
    // RETROACTIVELY from documents landed before it went hot (the
    // defining semantics an append-time gate cannot provide)
    // q183 accumulates the same planted corpus through the streaming
    // line-index ingest and serves it through lineDedupFromIndex —
    // shared oracle by construction (retroactive hotness over the whole
    // accumulation IS the batch semantics)
    Query("q183_stream_line_index", LineDedupOracleSql, (s, dir) => {
      val docs = linePlanted(t(s, dir, "documents"))
      withTempDir("q183") { tmp =>
        val (srcDir, ckDir, outDir) = (s"$tmp/src", s"$tmp/ck", s"$tmp/out")
        val stream = fileStream(s, docs, 3, srcDir)
        val store = new graft.sync.ParquetStore(s, outDir)
        IncrementalStream.lineIndexIngest(stream, "doc_id", "text",
          store, "lines", checkpointDir = ckDir).awaitTermination()
        graft.dedup.Dedup.lineDedupFromIndex(
            store.read("lines").get.select(col("doc_id"), col("pos"), col("line")),
            "doc_id", maxDf = 2)
          .orderBy("doc_id").localCheckpoint()
      }
    }),

    // q195/q196: snapshot DRIFT reports — the between-runs monitoring
    // pass (a crawler losing a domain or a source flipping defaults
    // shows up as a permille share shift long before a model
    // regression). Exact counts, permille floors via integer div, the
    // full-outer bucket union — graded as plain SQL in both shapes:
    // q195 histogram drift (order price cents, $500 buckets, the two
    // order-status populations as snapshots), q196 category drift
    // (event types split by user parity, NULL-safe categories)
    // q195/q196: exact counts + permille integer-div shares over the
    // full-outer bucket/category union — plain SQL in both shapes
    Query("q195_drift_histogram",
      """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 50000 AS bucket FROM orders WHERE o_orderstatus = 'F'), n AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 50000 AS bucket FROM orders WHERE o_orderstatus = 'O'), oc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_old FROM o GROUP BY 1), nc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_new FROM n GROUP BY 1), j AS (SELECT coalesce(oc.bucket, nc.bucket) AS bucket, coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new FROM oc FULL OUTER JOIN nc ON oc.bucket = nc.bucket), c AS (SELECT bucket, n_old, n_new, sum(n_old) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS co, sum(n_new) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cn FROM j), t AS (SELECT CAST(sum(n_old) AS BIGINT) AS to_, CAST(sum(n_new) AS BIGINT) AS tn FROM j) SELECT bucket, n_old, n_new, CAST(CASE WHEN to_ > 0 THEN (n_old * 1000) // to_ ELSE 0 END AS BIGINT) AS share_old_pm, CAST(CASE WHEN tn > 0 THEN (n_new * 1000) // tn ELSE 0 END AS BIGINT) AS share_new_pm, CAST(abs(CASE WHEN tn > 0 THEN (n_new * 1000) // tn ELSE 0 END - CASE WHEN to_ > 0 THEN (n_old * 1000) // to_ ELSE 0 END) AS BIGINT) AS shift_pm, CAST(abs(CASE WHEN tn > 0 THEN (cn * 1000) // tn ELSE 0 END - CASE WHEN to_ > 0 THEN (co * 1000) // to_ ELSE 0 END) AS BIGINT) AS cum_shift_pm FROM c, t ORDER BY bucket""", (s, dir) => {
      val o = t(s, dir, "orders").select(
        round(col("o_totalprice") * 100).cast(LongType).as("c"),
        col("o_orderstatus"))
      graft.operators.Drift.histogramDrift(
          o.filter(col("o_orderstatus") === "F"),
          o.filter(col("o_orderstatus") === "O"), "c", 50000L)
        .orderBy("bucket")
    }),

    Query("q196_drift_category", CategoryDriftOracleSql, (s, dir) => {
      val e = t(s, dir, "events")
      graft.operators.Drift.categoryDrift(
          e.filter(col("user_id") % 2 === 0),
          e.filter(col("user_id") % 2 === 1), "event_type")
        .orderBy("category")
    }),

    // q200: CROSS-SOURCE overlap matrix — the corpus-composition audit
    // before mixture weighting: per source pair, shared distinct 8-gram
    // counts plus each side's totals (containment shares fall out).
    // Collection-level, which doc-pair dedup cannot see; the pair
    // fan-out is bounded by the SOURCE count squared per gram, so no df
    // gate is needed. Only genuinely overlapping pairs emit (the planted
    // corpus shares boilerplate n-grams across sources)
    // q200: distinct (source, gram) self-join replay on string grams
    Query("q200_source_overlap",
      """WITH tok AS (SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), g AS (SELECT DISTINCT source, array_to_string(ts[pos:pos+7], ' ') AS g FROM (SELECT source, ts, unnest(range(1, len(ts) - 6)) AS pos FROM tok WHERE len(ts) >= 8)), tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY source) SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_shared, ta.n AS n_a, tb.n AS n_b, CAST((count(*) * 1000) // ta.n AS BIGINT) AS cont_a_pm, CAST((count(*) * 1000) // tb.n AS BIGINT) AS cont_b_pm FROM g a JOIN g b ON a.g = b.g AND a.source < b.source JOIN tot ta ON ta.source = a.source JOIN tot tb ON tb.source = b.source GROUP BY a.source, b.source, ta.n, tb.n ORDER BY src_a, src_b""", (s, dir) =>
      Dedup.sourceOverlapMatrix(tw(s, dir, "documents"), "source", "text",
          k = 8)
        .orderBy("src_a", "src_b")),

    // q198: TOKEN-BALANCED training shards — q106's sharding balances
    // ROW counts; training shards want TOKEN mass balance (a shard of
    // long docs stragglers the epoch). Deterministic greedy cut of the
    // doc_id-ordered token stream at ceil(total/8) boundaries, clamped;
    // the global cumulative sum runs through the PrefixSum bucket
    // decomposition (q153's machinery — never a single-partition
    // window). The oracle replays with a plain window cumsum
    // q198: plain window-cumsum replay of the greedy shard cut
    Query("q198_token_shards",
      """WITH d AS (SELECT doc_id, CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens FROM documents), r AS (SELECT doc_id, n_tokens, sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM d), t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM d) SELECT doc_id, n_tokens, CAST(least(7, (cum - n_tokens) // greatest(1, (tot + 7) // 8)) AS BIGINT) AS shard FROM r, t ORDER BY doc_id""", (s, dir) =>
      Sampling.tokenBalancedShards(
          t(s, dir, "documents").select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens")),
          "n_tokens", expr("doc_id div 64"), Seq(col("doc_id")), nShards = 8)
        .orderBy("doc_id")),

    // q199: per-source DATA CARD — the datasheet row a corpus release
    // publishes: doc/token/vocab counts, milli mean length, permille
    // type-token ratio, all integer floors, one posexplode_outer pass
    // (zero-token docs still count as docs)
    // q199: the datasheet aggregate with integer milli/permille floors
    Query("q199_data_card",
      """WITH e AS (SELECT source, doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents), a AS (SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_t, CAST(count(tok) AS BIGINT) AS n_tokens, CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct_tokens FROM e GROUP BY source), docs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source) SELECT d.source, d.n_docs, coalesce(a.n_tokens, 0) AS n_tokens, coalesce(a.n_distinct_tokens, 0) AS n_distinct_tokens, CAST((coalesce(a.n_tokens, 0) * 1000) // d.n_docs AS BIGINT) AS mean_tokens_milli, CAST(CASE WHEN coalesce(a.n_tokens, 0) > 0 THEN (a.n_distinct_tokens * 1000) // a.n_tokens ELSE 0 END AS BIGINT) AS ttr_pm FROM docs d LEFT JOIN a USING (source) ORDER BY d.source""", (s, dir) =>
      TextAnalysis.dataCard(t(s, dir, "documents"), "source", "doc_id", "text")
        .orderBy("source")),

    // q197: the drift monitor DEPLOYED — arrivals stream across two
    // micro-batches into a continuously-maintained per-category count
    // state (#categories rows, raw arrivals never retained — the 100 TB
    // monitoring shape) and the report derived from the maintained
    // counts against the q196 baseline must equal batch categoryDrift
    // under the SAME oracle: count addition is merge-order-invariant,
    // so the report cannot depend on how the stream was batched
    // q197: the maintained-count report must equal batch categoryDrift —
    // the shared-oracle contract
    Query("q197_stream_drift_monitor", CategoryDriftOracleSql, (s, dir) => {
      val e = t(s, dir, "events")
      withTempDir("q197") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/state")
        val arrivals = e.filter(col("user_id") % 2 === 1)
        val stream = fileStream(s, arrivals, 2, s"$tmp/src")
        IncrementalStream.maintainCounts(stream, "event_type",
          store, "counts", checkpointDir = s"$tmp/ck")
          .awaitTermination()
        val baseline = e.filter(col("user_id") % 2 === 0)
          .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        graft.operators.Drift.categoryDriftFromCounts(baseline,
            store.read("counts").get.select(col("event_type"), col("n")),
            "event_type")
          .orderBy("category").localCheckpoint()
      }
    }),

    // q194: TAKEDOWN propagation — the opt-out/right-to-be-forgotten
    // erasure pass: the full planted corpus builds the line index, a
    // takedown list (doc_id >= 400) purges ATOMICALLY through the
    // persisted index, and serving the survivor index must equal a
    // from-scratch line-dedup over exactly the surviving documents —
    // including retroactive RE-COOLING (a line whose count drops back
    // under maxDf because a purged doc carried it returns to the
    // survivors), the erasure guarantee an at-read gate provides and an
    // append-time gate cannot. Oracle: the q179 replay over the
    // filtered corpus
    // q194: the post-takedown serve equals the q179 replay over only the
    // surviving documents — erasure leaves no df residue
    Query("q194_takedown_line_index", lineDedupOracleSqlOver(" WHERE doc_id < 400"), (s, dir) => {
      val docs = linePlanted(t(s, dir, "documents"))
      withTempDir("q194") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/idx")
        store.write(graft.dedup.Dedup.lineIndexRows(docs, "doc_id", "text"),
          "lines")
        val removed = graft.sync.Takedown.purge(store, "lines", "doc_id",
          docs.filter(col("doc_id") >= 400).select(col("doc_id")))
        require(removed > 0L, "q194: the takedown must actually remove rows")
        graft.dedup.Dedup.lineDedupFromIndex(store.read("lines").get,
            "doc_id", maxDf = 2)
          .orderBy("doc_id").localCheckpoint()
      }
    }),

    // q201: ONLINE takedown — the erasure lands BETWEEN micro-batches of
    // a RUNNING line-index ingest (no stream stop, no index rewrite): a
    // tombstone table records the ids, batch 2 keeps appending —
    // including more rows of tombstoned documents — and the serve
    // anti-joins tombstones BEFORE the hotness gate, so df counts never
    // see tombstoned contributions (retroactive re-cooling, the q194
    // erasure guarantee, now with zero downtime; the physical purge
    // defers to the next offline compaction). Output must equal the
    // from-scratch build over exactly the surviving documents — the
    // q194 oracle, shared per the q190/q193 precedent
    // q201: the ONLINE (tombstone, mid-stream) takedown must serve the
    // identical survivor build — the q194 oracle, shared
    Query("q201_online_takedown", lineDedupOracleSqlOver(" WHERE doc_id < 400"), (s, dir) => {
      val docs = linePlanted(t(s, dir, "documents"))
      withTempDir("q201") { tmp =>
        val (srcDir, ckDir) = (s"$tmp/src", s"$tmp/ck")
        val store = new graft.sync.ParquetStore(s, s"$tmp/idx")
        def ingestAvailable(): Unit = {
          val stream = s.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*.parquet")
          IncrementalStream.lineIndexIngest(stream, "doc_id", "text",
            store, "lines", checkpointDir = ckDir).awaitTermination()
        }
        // micro-batch 1: half the corpus (both survivors and
        // to-be-tombstoned docs) folds into the index
        docs.filter(col("doc_id") % 2 === 0).repartition(1)
          .write.parquet(srcDir)
        ingestAvailable()
        // the takedown lands mid-stream: the ingest checkpoint lives on,
        // nothing stops, no index row is touched
        val added = graft.sync.Takedown.tombstone(store,
          docs.filter(col("doc_id") >= 400).select(col("doc_id")))
        require(added > 0L, "q201: the tombstone must actually record ids")
        // micro-batch 2: the other half arrives AFTER the takedown —
        // its tombstoned documents' rows append but must never serve
        docs.filter(col("doc_id") % 2 === 1).repartition(1)
          .write.mode("append").parquet(srcDir)
        ingestAvailable()
        graft.dedup.Dedup.lineDedupFromIndex(
            graft.sync.Takedown.withoutTombstones(
              store.read("lines").get
                .select(col("doc_id"), col("pos"), col("line")),
              "doc_id", store),
            "doc_id", maxDf = 2)
          .orderBy("doc_id").localCheckpoint()
      }
    }),

    // q207: MOJIBAKE repair — the highest-yield ftfy rule (UTF-8 decoded
    // as Latin-1 somewhere in a scrape: "cafÃ©" for "café"), as one
    // codegen'd safe-inverse expression: repair ONLY when every char is
    // Latin-1-representable AND the byte view strictly decodes as UTF-8
    // AND at least one multi-byte sequence was consumed — genuine
    // accented prose (bare 0xE9), curly-quote text (chars >= 0x100), and
    // pure ASCII all pass through unchanged. The oracle's expected
    // outputs are generated from the SAME clean constants the corpus was
    // broken from, so the expectation derives from the construction,
    // never the implementation
    // q207: the expected outputs replay from the SAME clean/broken/
    // passthrough constants the corpus was built from — repair expected
    // exactly on the broken class, identity elsewhere
    Query("q207_fix_mojibake", {
      def sqlLit(s: String) = "'" + s.replace("'", "''") + "'"
      s"""SELECT doc_id, CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN ${sqlLit(MojibakeClean)} WHEN 1 THEN ${sqlLit(MojibakeClean)} WHEN 2 THEN ${sqlLit(MojibakeCurly)} ELSE ${sqlLit(MojibakeAscii)} END || ' v' || CAST(doc_id AS VARCHAR) AS fixed, CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT) AS repaired FROM documents WHERE doc_id < 240 ORDER BY doc_id"""
    }, (s, dir) => {
      val docs = mojibakePlanted(t(s, dir, "documents"))
      docs.select(col("doc_id"),
          graft.functions.FixMojibake(col("text")).as("fixed"),
          when(graft.functions.FixMojibake(col("text")) =!= col("text"), 1L)
            .otherwise(0L).cast(LongType).as("repaired"))
        .orderBy("doc_id")
    }),

    // q206: AUDIO near-duplicate mining — the dedup story's fourth
    // modality (text q21/q38, image q115, video frames q160): PCM16
    // payloads fingerprint with the time-domain energy-delta hash
    // (integer-exact, FFT-free, volume-invariant) and pair through the
    // SAME banded-Hamming join as the image path. Planted: per id-pair
    // group, the amplitude walk encodes a splitmix signature; the odd
    // member re-levels two frames (bits 3 and 40, bands 0 and 2 of the
    // maxHamming=3 split — bands 1 and 3 still agree), so exactly the
    // (2i, 2i+1) pairs must emit; silence and monotone fades are planted
    // as the degenerate negative controls
    // q206: planted-pair audio fingerprint mining is a Spark-side
    // violations contract (the q115 image-dHash precedent — the planted
    // PCM construction and the banded join cannot be expressed in SQL)
    Query("q206_audio_neardup", InvariantOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id").cast(LongType).as("doc_id"))
      val media = plantedAudioMedia(s, docs)
      val pairs = Dedup.audioNearDups(media, maxHamming = 3)
      val expected = plantedPairExpectation(
        docs.filter(col("doc_id") < 500 || col("doc_id") >= 510))
      parity(expected, pairs, Seq("id_a", "id_b"))
    }),

    // q204: the ExactSubstr df gate's SPAN-SPLIT LOSS, measured — q188's
    // gate deliberately splits maximal spans at grams hotter than
    // maxDocFreq; this query QUANTIFIES the divergence from Lee et al.'s
    // exact rule instead of just documenting it: per document, covered
    // positions under the ungated formulation vs the gated one, with the
    // permille loss share, on a planted corpus exercising all three loss
    // classes (interior-gap 169pm, sub-minRun-island 500pm, and
    // pure-boilerplate 1000pm — the last is the gate working as
    // designed). The DuckDB oracle replays BOTH arms of the q188 CTE
    // chain over the identical generated corpus
    // q204: BOTH arms of the q188 diagonal-run chain (ungated / df-gated)
    // over the generated planted corpus, joined per doc with the permille
    // loss floor — generated from the SAME Scala span constants
    Query("q204_span_gate_loss", SpanGateLossOracleSql, (s, dir) =>
      Decontaminate.spanGateLoss(spanLossPlanted(t(s, dir, "documents")),
          "doc_id", "text", k = 8, minRunTokens = 20, maxDocFreq = 20)
        .orderBy("doc_id")),

    // q202: BYTE-LEVEL BPE training — the production GPT-style tokenizer
    // default (GPT-2's 256-entry byte→unicode bijection): the planted
    // multi-byte corpus (2/3/4-byte UTF-8 — text the char-level family's
    // tokens() drops) trains over the byte-unit alphabet with the SAME
    // delta-recounted merge loop as q150, and the merge sequence + final
    // symbol table grade against an in-query brute-force Scala BPE over
    // the collected unit word table (the q150 contract — DuckDB cannot
    // express the sequential fold). Extra gates: the word table must
    // genuinely carry non-ASCII bytes, and at least one selected merge
    // must fuse a high-byte unit — a silently ASCII-only run cannot pass
    // q202/q203: byte-level BPE train + apply are Spark-side contracts
    // (brute-force reference / parity + lossless round-trip) — DuckDB
    // cannot express the sequential merge fold (the q150/q154 precedent)
    Query("q202_byte_bpe_train", InvariantOracleSql, (s, dir) => {
      val docs = bytePlanted(tw(s, dir, "documents"))
      val nMerges = 6
      val (merges, words) = TextAnalysis.byteBpeTrain(docs, "text", nMerges)
      val wf = TextAnalysis.byteBpeWordTable(docs, "text")
        .select(col("__w"), col("__c")).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      var syms: Array[(Vector[String], Long)] =
        wf.map { case (w, c) => (w.map(_.toString).toVector, c) }
      val refMerges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      var continue = true
      while (continue && refMerges.size < nMerges) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        syms.foreach { case (v, c) =>
          v.indices.dropRight(1).foreach { i =>
            counts((v(i), v(i + 1))) = counts.getOrElse((v(i), v(i + 1)), 0L) + c
          }
        }
        if (counts.isEmpty) continue = false
        else {
          val ((a, b), c) = counts.minBy { case ((l, r), n) => (-n, l, r) }
          refMerges += ((a, b, c))
          syms = syms.map { case (v, cc) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < v.length) {
              if (i + 1 < v.length && v(i) == a && v(i + 1) == b) { out += a + b; i += 2 }
              else { out += v(i); i += 1 }
            }
            (out.result(), cc)
          }
        }
      }
      val mergeViolations =
        if (merges.map(m => (m.left, m.right, m.cnt)) != refMerges.toSeq) 1L else 0L
      val refFinal = syms.map { case (v, _) => v.mkString("\u0000") }.toSet
      val gotFinal = words.select(concat_ws("\u0000", col("__syms"))).collect()
        .map(_.getString(0)).toSet
      val symViolations = if (gotFinal != refFinal) 1L else 0L
      val emptyViolation = if (merges.size != nMerges) 1L else 0L
      // the byte-level point: non-ASCII units in the table AND in a merge
      val nonAsciiTable = if (wf.exists(_._1.exists(_ >= 0x80))) 0L else 1L
      val nonAsciiMerge =
        if (merges.exists(m => (m.left + m.right).exists(_ >= 0x80))) 0L else 1L
      s.range(1).select(
        lit(mergeViolations + symViolations + emptyViolation +
          nonAsciiTable + nonAsciiMerge).as("violations"))
    }),

    // q203: BYTE-LEVEL BPE apply — the q154 train/apply-parity theorem
    // over the byte-unit alphabet (same BpeApply replay: unit == char by
    // construction), PLUS the guarantee that makes byte-level the
    // production default: encoding is TOTAL and LOSSLESS — concatenating
    // every document's pieces and decoding the units recovers the exact
    // whitespace-stripped original bytes, emoji and all (nothing is ever
    // OOV/UNK, where the char-level tokens() drops every planted
    // non-ASCII word)
    Query("q203_byte_bpe_encode", InvariantOracleSql, (s, dir) => {
      val docs = bytePlanted(tw(s, dir, "documents"))
      val nMerges = 8
      val (merges, trained) = TextAnalysis.byteBpeTrainFullRecount(docs, "text", nMerges)
      val pairs = merges.sortBy(_.step).map(m => (m.left, m.right))
      val applied = docs
        .select(explode(TextAnalysis.byteUnitWords(col("text"))).as("__w")).distinct()
        .select(col("__w"), concat_ws(" ",
          graft.functions.BpeApply(array(col("__w")), pairs)).as("__ap"))
      val want = trained
        .select(col("__w"), concat_ws(" ", col("__syms")).as("__tr"))
      val parity = applied.join(want, Seq("__w"), "full_outer")
        .agg(violations(col("__ap").isNull || col("__tr").isNull ||
          col("__ap") =!= col("__tr")).as("v")).head.getLong(0)
      // lossless round-trip BOTH ways on EVERY document: pieces
      // concatenate to the unit mapping of the whitespace-stripped text,
      // and the codegen'd DECODE of that concatenation recovers the
      // stripped original bytes exactly (the inverse expression is part
      // of the graded surface, not just a test helper)
      val enc = concat_ws("", TextAnalysis.byteBpeEncode(col("text"), merges))
      val stripped = regexp_replace(col("text"), "\\s+", "")
      val roundTrip = docs.agg(violations(
          enc =!= graft.functions.ByteUnits(stripped) ||
            graft.functions.ByteUnitsDecode(enc).isNull ||
            graft.functions.ByteUnitsDecode(enc) =!= stripped)
          .as("v")).head.getLong(0)
      val emptyViolation = if (merges.size == nMerges) 0L else 1L
      s.range(1).select(
        lit(parity + roundTrip + emptyViolation).as("violations"))
    }),

    // q193: CONTINUOUS positional-gram index + span-scrub SERVING — the
    // q183 index-ingest pattern applied to the duplicated-span family:
    // the corpus arrives across two micro-batches, each batch's
    // (doc_id, pos, gram) rows append under the retry guard, and the
    // arrivals then scrub against the ACCUMULATED index (df gate at
    // read, corpus never re-tokenized at serve time). Output must equal
    // q190's direct corpus scrub — the SAME DuckDB oracle grades both
    // q193: the accumulated-index serve must equal q190's direct scrub —
    // the shared-oracle contract (q179/q183/q186 precedent)
    Query("q193_span_index_serve", DupSpanGateOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents")
      withTempDir("q193") { tmp =>
        val idxStore = new graft.sync.ParquetStore(s, s"$tmp/idx")
        val corpus = docs.filter(col("doc_id") < 250)
        val stream = fileStream(s, corpus, 2, s"$tmp/src")
        IncrementalStream.dupSpanIndexIngest(stream, "doc_id", "text",
          idxStore, "grams", checkpointDir = s"$tmp/ck")
          .awaitTermination()
        Decontaminate.scrubDuplicatedSpansAgainstIndex(
            docs.filter(col("doc_id") >= 250),
            idxStore.read("grams").get.select("doc_id", "pos", "g"),
            "doc_id", "text", k = 8, minRunTokens = 20, maxDocFreq = 20)
          .select(col("doc_id"), array_join(col("clean_tokens"), " ").as("clean_text"))
          .orderBy("doc_id").localCheckpoint()
      }
    }),

    // q205: ONLINE takedown through the SPAN-INDEX family — q201's
    // tombstone contract on a second at-read-gated index: the reference
    // corpus streams into the positional-gram index across two
    // micro-batches, ref docs < 100 tombstone BETWEEN them (nothing
    // stops, no index row touched), and serving scrubs arrivals against
    // withoutTombstones(index) — the df gate recomputes over the
    // SURVIVORS at read, so a gram hot only because tombstoned docs
    // carried it re-cools and erased ref docs leave no span residue.
    // Oracle: the q190 chain with the ref side filtered to survivors
    // q205: the q190 chain with the ref side filtered to the tombstone
    // SURVIVORS (>= 100) — the online-erasure serve must equal the
    // from-scratch scrub against exactly the surviving reference
    Query("q205_takedown_span_index", dupSpanGateOracleSqlOverRef(" AND doc_id >= 100"), (s, dir) => {
      val docs = t(s, dir, "documents")
      withTempDir("q205") { tmp =>
        val (srcDir, ckDir) = (s"$tmp/src", s"$tmp/ck")
        val idxStore = new graft.sync.ParquetStore(s, s"$tmp/idx")
        val corpus = docs.filter(col("doc_id") < 250)
        def ingestAvailable(): Unit = {
          val stream = s.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*.parquet")
          IncrementalStream.dupSpanIndexIngest(stream, "doc_id", "text",
            idxStore, "grams", checkpointDir = ckDir).awaitTermination()
        }
        corpus.filter(col("doc_id") % 2 === 0).repartition(1)
          .write.parquet(srcDir)
        ingestAvailable()
        val added = graft.sync.Takedown.tombstone(idxStore,
          corpus.filter(col("doc_id") < 100).select(col("doc_id")))
        require(added > 0L, "q205: the tombstone must actually record ids")
        corpus.filter(col("doc_id") % 2 === 1).repartition(1)
          .write.mode("append").parquet(srcDir)
        ingestAvailable()
        Decontaminate.scrubDuplicatedSpansAgainstIndex(
            docs.filter(col("doc_id") >= 250),
            graft.sync.Takedown.withoutTombstones(
              idxStore.read("grams").get.select("doc_id", "pos", "g"),
              "doc_id", idxStore),
            "doc_id", "text", k = 8, minRunTokens = 20, maxDocFreq = 20)
          .select(col("doc_id"), array_join(col("clean_tokens"), " ").as("clean_text"))
          .orderBy("doc_id").localCheckpoint()
      }
    }),

    // q192: WATER-FILLING mixture assembly — the Pile/Dolma budget rule
    // q100's per-source cap cannot express: a TOTAL token budget splits
    // across sources by target weights (src0-src4 weighted 10, rest 1),
    // and every source too small for its share takes all it has while
    // the shortfall REDISTRIBUTES to the rest, iterated to fixed point.
    // Budget = half the corpus' tokens, computed from data identically
    // in both engines; the heavyweight sources exhaust (10/65 of B
    // exceeds a uniform source's total) so redistribution genuinely
    // fires at the graded SF. Allocation is driver integer arithmetic
    // on #sources rows (the k-centroids collect shape); selection is
    // q100's greedy-prefix window under the per-source allocations.
    // The DuckDB oracle replays the rounds as a generated CTE chain
    // q192: the generated water-filling CTE chain — 24 rounds covers any
    // exhaustion order over the 20 sources; converged rounds are no-ops
    Query("q192_budget_mixture", budgetMixtureOracleSql(24), (s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val budget = d.agg(sum(col("n_tokens"))).head.getLong(0) / 2
      Sampling.budgetMixture(d, "source", "doc_id", "n_tokens",
          weights = (0 to 4).map(i => s"src$i" -> 10L).toMap,
          budget = budget, defaultWeight = 1L,
          bucket = Some(expr("doc_id div 64")))
        .orderBy("source", "doc_id")
    }),

    // q191: trained language ID on a NON-ASCII corpus — the q187
    // machinery under the PINNED explicit-codepoint lowercase map
    // (translate over literal Latin-1 pair strings, never engine-native
    // lower()), which is what extends the graded cross-engine contract
    // to the operator's actual domain. The corpus is planted from the
    // documents spine: per doc an accent-heavy phrase (uppercase accents
    // included, so the map is load-bearing) plus a doc-varying ASCII
    // tail; train and classify both replay in DuckDB with the same
    // translate literals — profiles, ranks, distances, and ties graded
    // exactly on multi-byte text
    // q191: the q187 CTE chain over the planted corpus, with
    // translate(<pinned pair strings>) in place of lower() — generated
    // from the SAME Scala constants as the Spark side so the map and the
    // phrases cannot drift
    Query("q191_langid_unicode", {
      val uc = graft.text.LangProfile.PinnedUpper
      val lc = graft.text.LangProfile.PinnedLower
      s"""WITH base AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'fr' WHEN 1 THEN 'de' ELSE 'es' END AS lang,
        |    (CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '$LangidFr' WHEN 1 THEN '$LangidDe' ELSE '$LangidEs' END)
        |      || ' v' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents WHERE doc_id < 120),
        |norm AS (
        |  SELECT doc_id, lang,
        |    regexp_replace(translate(text, '$uc', '$lc'), '[ \t\n\f\r]+', '_', 'g') AS t
        |  FROM base),
        |tg AS (
        |  SELECT doc_id, lang, substring(t, CAST(i AS INT), 3) AS g
        |  FROM norm, LATERAL unnest(range(1, len(t) - 1)) AS u(i)
        |  WHERE len(t) >= 3),
        |lp AS (
        |  SELECT lang, g, CAST(row_number() OVER (
        |      PARTITION BY lang ORDER BY count(*) DESC, g) - 1 AS BIGINT) AS r
        |  FROM tg WHERE lang IS NOT NULL GROUP BY lang, g
        |  QUALIFY r < 40),
        |dp AS (
        |  SELECT doc_id, g, CAST(row_number() OVER (
        |      PARTITION BY doc_id ORDER BY count(*) DESC, g) - 1 AS BIGINT) AS dr
        |  FROM tg GROUP BY doc_id, g
        |  QUALIFY dr < 40),
        |dist AS (
        |  SELECT dp.doc_id, l.lang,
        |    CAST(sum(CASE WHEN lp.r IS NULL THEN 40 ELSE abs(dp.dr - lp.r) END) AS BIGINT) AS d
        |  FROM dp CROSS JOIN (SELECT DISTINCT lang FROM lp) l
        |  LEFT JOIN lp ON lp.lang = l.lang AND lp.g = dp.g
        |  GROUP BY dp.doc_id, l.lang)
        |SELECT doc_id, lang AS pred_lang, d AS dist FROM dist
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY d, lang) = 1
        |ORDER BY doc_id""".stripMargin
    }, (s, dir) => {
      val langs = array(lit("fr"), lit("de"), lit("es"))
      val phrases = array(lit(LangidFr), lit(LangidDe), lit(LangidEs))
      val idx = (col("doc_id") % 3 + 1).cast("int")
      val planted = t(s, dir, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"), element_at(langs, idx).as("lang"),
          concat(element_at(phrases, idx),
            lit(" v"), col("doc_id").cast("string")).as("text"))
      val profiles = graft.text.LangProfile
        .trainProfiles(planted, "lang", "text", 40, pinnedLower = true)
        .localCheckpoint()
      val res = graft.text.LangProfile
        .classify(planted, "doc_id", "text", profiles, 40, pinnedLower = true)
        .orderBy("doc_id").localCheckpoint()
      graft.Checkpoints.release(profiles)
      res
    }),

    // q189: the LARGE-DIMS classifier twins in one parity entry — training
    // runs FULLY DISTRIBUTED (trainJoin: weights live as a per-round
    // checkpointed table, zero driver rows per round) and scoring carries
    // the weights as a broadcast TABLE (scoreJoin) instead of q168's plan
    // literal; the result must match the SAME DuckDB training-replay
    // oracle as q168 to the last micro (the q145/q149 encode/encodeJoin
    // precedent: same semantics, scale-path carrier). This is the path
    // past ~2^18 hashed dims, where a typedLit weight map stops being a
    // reasonable plan literal
    // q189: the join-carried train+score twins against the IDENTICAL
    // replay oracle — bit-equality of the distributed-weights path
    Query("q189_svm_join_parity", SvmScoreOracleSql, (s, dir) => {
      val df = svmDocs(s, dir)
      val w = Classifier.trainJoin(df, "doc_id", SvmDims, SvmRounds,
        SvmLrMicros, SvmMarginMicros)
      val res = Classifier.scoreJoin(df, "doc_id", w)
        .orderBy("doc_id").localCheckpoint()
      graft.Checkpoints.release(w)
      res
    }),

    // q188: CROSS-DOCUMENT maximal duplicated-span dedup — the
    // ExactSubstr rule of Lee et al. ("Deduplicating Training Data"):
    // every maximal token span >= 20 shared verbatim between two distinct
    // documents counts as removed from BOTH. q94's positional-8-gram
    // diagonal-run machinery (df gate [2, 20] before the pair join — the
    // quadratic-fan-out bound), runs coalesced per (pair, diagonal) into
    // maximal spans, exploded to covered positions on both sides, and the
    // per-doc removal accounting graded as exact integers (the q129
    // contract with the corpus as both sides). The DuckDB oracle replays
    // the identical formulation on string grams
    // q188: string-gram replay of the diagonal-run span formulation —
    // df gate [2, 20] BEFORE pairing (spans split at hotter-than-maxDf
    // grams, a pinned semantic of the gate), islands via pos - row_number
    // per (pair, diagonal), runs >= 20 tokens cover both sides (the b side
    // shifted by the diagonal), coverage deduped then counted per doc.
    // 1-based positions throughout (Spark is 0-based) — diagonals, run
    // lengths, and counts are index-base-invariant
    Query("q188_dup_span_stats",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), g AS (SELECT doc_id, pos, array_to_string(ts[pos:pos+7], ' ') AS g FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 6)) AS pos FROM tok WHERE len(ts) >= 8)), pairable AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM g) GROUP BY g HAVING count(*) BETWEEN 2 AND 20), kept AS (SELECT doc_id, pos, g FROM g WHERE g IN (SELECT g FROM pairable)), anc AS (SELECT a.doc_id AS ida, b.doc_id AS idb, a.pos AS pa, a.pos - b.pos AS d FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id), isl AS (SELECT ida, idb, d, pa, pa - row_number() OVER (PARTITION BY ida, idb, d ORDER BY pa) AS grp FROM anc), sp AS (SELECT ida, idb, d, min(pa) AS s, count(*) + 7 AS rt FROM isl GROUP BY ida, idb, d, grp HAVING count(*) + 7 >= 20), cov AS (SELECT ida AS doc_id, unnest(range(s, s + rt)) AS p FROM sp UNION ALL SELECT idb, unnest(range(s - d, s - d + rt)) FROM sp), covd AS (SELECT DISTINCT doc_id, p FROM cov), rem AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed FROM covd GROUP BY doc_id) SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens, coalesce(rem.n_removed, CAST(0 AS BIGINT)) AS n_removed FROM tok t LEFT JOIN rem USING (doc_id) ORDER BY t.doc_id""", (s, dir) =>
      Decontaminate.duplicatedSpanStats(tw(s, dir, "documents"),
          "doc_id", "text", k = 8, minRunTokens = 20, maxDocFreq = 20)
        .orderBy("doc_id")),

    // q190: q188's scrub deployed AT INGEST — arrivals lose every maximal
    // span (>= 20 tokens) they share with the ACCUMULATED corpus (the
    // persisted reference table, re-read per batch), batch side only,
    // across a real 2-micro-batch arrival; graded against the batch
    // oracle's clean-text replay (the q130 batch-partitioning-invariance
    // precedent, with the corpus instead of a benchmark as the source)
    // q190: the q188 diagonal-run CTEs with the corpus half (doc_id < 250)
    // as reference and arrivals (>= 250) as the scrubbed side — ref-side
    // df gate <= 20 (one ref occurrence suffices cross-side, so no lower
    // bound), coverage on the arrival side only, then the q130 clean-text
    // reconstruction
    Query("q190_stream_dup_span_gate", DupSpanGateOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents")
      withTempDir("q190") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/out")
        val refStore = new graft.sync.ParquetStore(s, s"$tmp/ref")
        refStore.write(docs.filter(col("doc_id") < 250), "ref")
        val arrivals = docs.filter(col("doc_id") >= 250)
        val stream = fileStream(s, arrivals, 2, s"$tmp/src")
        IncrementalStream.dupSpanScrubGate(stream, refStore.read("ref").get,
          "doc_id", "text", store, "clean", checkpointDir = s"$tmp/ck")
          .awaitTermination()
        store.read("clean").get
          .select(col("doc_id"), array_join(col("clean_tokens"), " ").as("clean_text"))
          .orderBy("doc_id").localCheckpoint()
      }
    }),

    // q187: TRAINED language identification — the Cavnar–Trenkle
    // rank-order method next to q19's fixed marker-word heuristic: per
    // language, the top-40 character trigrams by frequency form a ranked
    // profile (trained on the corpus' own lang labels), and every
    // document classifies to the language minimizing the out-of-place
    // distance over its own top-40 trigrams (absent trigram → max
    // penalty; ties break (distance, lang)). Everything is integer rank
    // arithmetic with total tie orders, so train AND apply replay in the
    // DuckDB oracle as plain window/join SQL — no generated literals.
    // Scale: profiles broadcast (languages·k rows), doc ranking is a
    // doc-keyed window, the distance sum and argmin stay doc-keyed
    Query("q187_langid_profiles",
      """WITH norm AS (
        |  SELECT doc_id, lang, regexp_replace(lower(text), '[ \t\n\f\r]+', '_', 'g') AS t
        |  FROM documents),
        |tg AS (
        |  SELECT doc_id, lang, substring(t, CAST(i AS INT), 3) AS g
        |  FROM norm, LATERAL unnest(range(1, len(t) - 1)) AS u(i)
        |  WHERE len(t) >= 3),
        |lp AS (
        |  SELECT lang, g, CAST(row_number() OVER (
        |      PARTITION BY lang ORDER BY count(*) DESC, g) - 1 AS BIGINT) AS r
        |  FROM tg WHERE lang IS NOT NULL GROUP BY lang, g
        |  QUALIFY r < 40),
        |dp AS (
        |  SELECT doc_id, g, CAST(row_number() OVER (
        |      PARTITION BY doc_id ORDER BY count(*) DESC, g) - 1 AS BIGINT) AS dr
        |  FROM tg GROUP BY doc_id, g
        |  QUALIFY dr < 40),
        |dist AS (
        |  SELECT dp.doc_id, l.lang,
        |    CAST(sum(CASE WHEN lp.r IS NULL THEN 40 ELSE abs(dp.dr - lp.r) END) AS BIGINT) AS d
        |  FROM dp CROSS JOIN (SELECT DISTINCT lang FROM lp) l
        |  LEFT JOIN lp ON lp.lang = l.lang AND lp.g = dp.g
        |  GROUP BY dp.doc_id, l.lang)
        |SELECT doc_id, lang AS pred_lang, d AS dist FROM dist
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY d, lang) = 1
        |ORDER BY doc_id""".stripMargin, (s, dir) => {
      val docs = tw(s, dir, "documents")
      val k = 40
      // profiles MATERIALIZE once (languages·k rows): classify references
      // them twice (language list + rank lookup), and an unmaterialized
      // train plan would re-scan the corpus per reference if exchange
      // reuse ever regressed (the q106 nullable-key precedent) — pin the
      // single corpus-scan structure instead of relying on ReuseExchange
      val profiles = graft.text.LangProfile
        .trainProfiles(docs, "lang", "text", k).localCheckpoint()
      val res = graft.text.LangProfile
        .classify(docs, "doc_id", "text", profiles, k)
        .orderBy("doc_id").localCheckpoint()
      graft.Checkpoints.release(profiles)
      res
    }),

    // q186: the line-dedup SERVING gate — the third member of the line
    // family (batch q179, index ingest q183): arrivals clean against a
    // PINNED hot-line snapshot (here refreshed over the full corpus, the
    // moment the gate contract pins) across two micro-batches, and the
    // accumulated (doc_id, text_clean, n_kept, n_dropped) log must equal
    // batch q179 under the SAME DuckDB oracle. Hotness comes from the
    // snapshot, never a batch's own counts — a small batch could never
    // cross maxDf, which is why the gate takes the hot table, not a
    // threshold
    // q186 cleans the same planted corpus through the serving gate under
    // a full-corpus hot snapshot — shared oracle by construction
    Query("q186_stream_line_gate", LineDedupOracleSql, (s, dir) => {
      val docs = linePlanted(t(s, dir, "documents"))
      withTempDir("q186") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/out")
        val hot = graft.dedup.Dedup.hotLines(
          graft.dedup.Dedup.lineIndexRows(docs, "doc_id", "text"), maxDf = 2)
        val stream = fileStream(s, docs, 2, s"$tmp/src")
        IncrementalStream.lineDedupGate(stream, hot, "doc_id", "text",
          store, "clean", checkpointDir = s"$tmp/ck")
          .awaitTermination()
        store.read("clean").get
          .select(col("doc_id"), col("text_clean"), col("n_kept"), col("n_dropped"))
          .orderBy("doc_id").localCheckpoint()
      }
    }),

    // q185: MATERIALIZED training windows — q66's packedSpans taken to
    // the artifact a training run consumes: per source, documents
    // concatenate in doc_id order, the token stream cuts into 128-token
    // windows, and each window materializes as one row with its tokens
    // in stream order plus provenance: doc_spans is the 'doc:start:len|…'
    // boundary string an attention/loss mask is built from, alongside
    // n_docs and first/last doc. One keyed prefix-sum window + one
    // narrow posexplode + a TWO-LEVEL reassembly (per-(win, doc)
    // segments, then segments stitched in stream order — documents are
    // contiguous in the stream, so (min pos, count) IS the span) —
    // per-group streams end to end, never a global single-partition
    // order. Full DuckDB oracle replays the identical two-level
    // construction with window sums + string_agg
    Query("q185_training_windows",
      """WITH d AS (
        |  SELECT source, doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |o AS (
        |  SELECT source, doc_id, ts,
        |    coalesce(sum(len(ts)) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
        |  FROM d),
        |e AS (
        |  SELECT source, doc_id, st + i - 1 AS gp, ts[i] AS tok
        |  FROM o, LATERAL unnest(range(1, len(ts) + 1)) AS u(i)),
        |w1 AS (
        |  SELECT source, gp // 128 AS win_id, doc_id, min(gp) AS mg,
        |    CAST(count(*) AS BIGINT) AS n, string_agg(tok, ' ' ORDER BY gp) AS seg
        |  FROM e GROUP BY source, gp // 128, doc_id)
        |SELECT source, CAST(win_id AS BIGINT) AS win_id,
        |  string_agg(seg, ' ' ORDER BY mg) AS window_text,
        |  string_agg(doc_id || ':' || (mg - win_id * 128) || ':' || n, '|' ORDER BY mg) AS doc_spans,
        |  CAST(sum(n) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM w1 GROUP BY source, win_id
        |ORDER BY source, win_id""".stripMargin, (s, dir) =>
      TextAnalysis.packedWindows(t(s, dir, "documents"), Seq("source"),
          "doc_id", "text", windowSize = 128,
          bucket = Some(expr("doc_id div 64")))
        .orderBy("source", "win_id")),

    // q184: tokenizer FERTILITY audit — the pipeline metric that decides
    // which tokenizer a corpus trains with (pieces per word; fertility
    // near 1 = the vocabulary fits the corpus, high = words shatter):
    // per-document piece counts under ALL THREE pinned tokenizer
    // families — BPE merge replay (BpeFixedMerges), unigram Viterbi
    // (UnigramPinned), WordPiece greedy (WordPiecePinned) — computed in
    // ONE narrow codegen'd projection: three reference-object
    // expressions side by side, corpus scanned once, no join, no
    // shuffle. Integer milli fertilities (floor division — identical in
    // both engines); the oracle nests each tokenizer's own full graded
    // oracle as a subquery, so this audit cannot drift from q154/q157,
    // q166, and q180
    Query("q184_tokenizer_fertility", TokenizerFertilityOracleSql, (s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      // NULL text pins every count to 0 with an explicit isNull arm —
      // legacy sizeOfNull makes size(NULL) -1, so a coalesce never fires
      def sz(c: Column): Column =
        when(col("text").isNull, lit(0L)).otherwise(size(c).cast(LongType))
      tw(s, dir, "documents")
        .select(col("doc_id"),
          sz(toks).as("n_tokens"),
          sz(TextAnalysis.bpeEncode(col("text"), BpeFixedMerges)).as("n_bpe"),
          sz(graft.functions.UnigramEncode(toks, UnigramPinned,
            Unigram.DefaultUnkScoreMilli)).as("n_uni"),
          sz(graft.functions.WordPieceEncode(toks, WordPiecePinned,
            WordPiece.DefaultUnkToken, WordPieceCap)).as("n_wp"))
        .withColumn("fert_bpe_milli", when(col("n_tokens") > 0,
          expr("n_bpe * 1000 div n_tokens")).otherwise(0L))
        .withColumn("fert_uni_milli", when(col("n_tokens") > 0,
          expr("n_uni * 1000 div n_tokens")).otherwise(0L))
        .withColumn("fert_wp_milli", when(col("n_tokens") > 0,
          expr("n_wp * 1000 div n_tokens")).otherwise(0L))
        .orderBy("doc_id")
    }),

    // q160: MJPEG video FRAME decode — the pixel-level completion of the
    // modality triple (image q87/q120, audio q101/q127, video previously
    // header-only via q107/q35). Every doc becomes a planted MJPEG-in-AVI:
    // 1+(id%3) uniform-gray JPEG frames as movi 00dc chunks, with the
    // walk hazards rotated in (top-level JUNK id%2, LIST-rec nesting
    // id%3, odd-sized audio 01wb chunk id%5, an undecodable trailing dc
    // chunk id%7 — must drop yet consume its index). Per decoded frame
    // the dims must match the planted formulas EXACTLY (JPEG preserves
    // dimensions) and the integer milli-mean gray must sit within ±2000
    // of the planted uniform value (measured: the JDK JPEG round-trip of
    // a uniform r=g=b plane deviates 0 milli at default quality — the
    // margin covers other encoders' DC quantization, the
    // measured-margin float-grading convention); per doc the frame count
    // and max index must both equal id%3 (+1), and every doc must
    // surface (a payload failing wholesale cannot hide)
    // q160: planted MJPEG frame decode is a Spark-side invariant gate
    // (DuckDB has no JPEG codec); violations counts formula mismatches
    Query("q160_video_frame_decode", InvariantOracleSql, (s, dir) => {
      implicit val session: SparkSession = s
      val nDocs = t(s, dir, "documents").count()
      val media = mjpegCorpus(s, dir)
      val expW = lit(16L) + ((col("doc_id") + col("frame_idx")) % 3L) * 8L
      val expH = lit(16L) + ((col("doc_id") + col("frame_idx") * 2L) % 2L) * 8L
      val expMilli = (lit(16L) + (col("doc_id") + col("frame_idx") * 37L) % 224L) * 1000L
      val perDoc = Multimodal.decodeFramesOf(media).toDF()
        .withColumn("__bad",
          when(col("width") =!= expW || col("height") =!= expH
            || abs(col("mean_milli_gray") - expMilli) > 2000L, 1L).otherwise(0L))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("__n"), max(col("frame_idx")).as("__mx"),
          sum(col("__bad")).as("__b"))
      perDoc.agg((violations(col("__b") > 0L
          || col("__n") =!= lit(1L) + col("doc_id") % 3L
          || col("__mx") =!= col("doc_id") % 3L)
        + when(count(lit(1)) =!= nDocs, 1L).otherwise(0L)).as("violations"))
    }),

    // q161: the MATERIALIZED gated overlap-index snapshot — raw (fp, doc)
    // rows accumulate across three lineage-stamped batches with one batch
    // appended TWICE (the crash/retry replay shape the snapshot's
    // distinct collapse must absorb), then Winnow.snapshotIndex writes
    // the served fps_gated table, which must be row-identical to a
    // from-scratch buildOverlapIndex over the same documents — i.e. to
    // gateIndex(raw), one materialization later (full-outer parity + row
    // count, the q151 contract; serving then probes the snapshot with
    // ZERO per-read gate cost)
    // q161: snapshot-vs-rebuild parity is a Spark-side full-outer
    // contract (the q151 pattern, one materialization later)
    Query("q161_overlap_snapshot", InvariantOracleSql, (s, dir) => {
      // every use of docs is per-row-heavy fingerprint work (4 appended
      // ingest rounds + the from-scratch parity rebuild) — fan the scan
      val docs = tw(s, dir, "documents")
      withTempDir("q161") { tmp =>
        val store = new graft.sync.ParquetStore(s, tmp)
        val batchConds = Seq(col("doc_id") % 3 === 0, col("doc_id") % 3 === 1,
          col("doc_id") % 3 === 2, col("doc_id") % 3 === 1)
        batchConds.zipWithIndex.foreach { case (cond, i) =>
          store.append(graft.text.Winnow
            .indexRows(docs.filter(cond), "doc_id", "text")
            .withColumn("__run", lit(i.toLong)), "fps")
        }
        graft.text.Winnow.snapshotIndex(store, "doc_id")
        val snap = store.read("fps_gated").get.select(col("fp"), col("doc_id"))
        val batch = graft.text.Winnow.buildOverlapIndex(docs, "doc_id", "text")
        val nBatch = batch.count()
        parity(batch, snap, Seq("fp", "doc_id"), rows = Some(nBatch)).localCheckpoint()
      }
    }),

    // q208: the BPE family DEPLOYED at ingest — the fourth tokenizer
    // gate next to ids (q146), Viterbi (q170), and WordPiece (q182),
    // closing the tokenizer-gate asymmetry: the byte-planted corpus
    // arrives across two micro-batches and each batch segments under a
    // FIXED pinned merge list (training-run constants, collected +
    // validated once at query start — the unigramGate artifact
    // contract). The accumulated (doc_id, pieces) log must equal batch
    // byteBpeEncode under the SAME merges (full-outer parity, q203's
    // violations form), with a coverage guard (every doc served exactly
    // once) and a fired guard (at least one multi-unit piece — merges
    // that never fire would pass vacuously)
    // q208: gate-vs-batch BPE parity is a Spark-side full-outer contract
    // (the q154/q203 family — no SQL engine replays a merge list)
    Query("q208_stream_bpe_gate", InvariantOracleSql, (s, dir) => {
      import s.implicits._
      val docs = bytePlanted(t(s, dir, "documents"))
      withTempDir("q208") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/out")
        val mStore = new graft.sync.ParquetStore(s, s"$tmp/m")
        mStore.write(BytePinnedMerges.toDF("step", "left", "right"), "merges")
        val stream = fileStream(s, docs, 2, s"$tmp/src")
        IncrementalStream.bpeGate(stream, mStore.read("merges").get,
          "doc_id", "text", store, "pieces", checkpointDir = s"$tmp/ck")
          .awaitTermination()
        val merges = BytePinnedMerges.map { case (st, l, r) =>
          TextAnalysis.BpeMerge(st, l, r, 0L) }
        val want = docs.select(col("doc_id"),
          TextAnalysis.byteBpeEncode(col("text"), merges).as("__want"))
        val nDocs = docs.count()
        store.read("pieces").get.select(col("doc_id"), col("pieces").as("__got"))
          .join(want, Seq("doc_id"), "full_outer")
          .agg((violations(col("__got").isNull || col("__want").isNull ||
              col("__got") =!= col("__want"))
            + when(count(lit(1)) =!= nDocs, 1L).otherwise(0L)
            + when(max(size(filter(col("__want"), p => length(p) > 1))) < 1, 1L)
              .otherwise(0L)).as("violations"))
          .localCheckpoint()
      }
    }),

    // q209: CONTINUOUS image-dedup ingest — q115's planted dHash corpus
    // arrives across two micro-batches through packedDupIngest (probe
    // the ACCUMULATED fingerprint index, pair within the batch, THEN
    // append signatures): the accumulated pair log must equal the batch
    // miner's answer (q115's SAME planted expectation, direction-
    // normalized), and the persisted fingerprint index must equal the
    // batch fingerprint pass row-for-row (per-doc determinism — the
    // q158 requirement that makes the index probe-able at all)
    // q209/q210: accumulated-pairs-vs-planted-expectation and persisted-
    // index-vs-batch-fingerprints are Spark-side contracts (the
    // q115/q206 planted-construction family)
    Query("q209_stream_image_dedup", InvariantOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id").cast(LongType).as("doc_id"))
      val media = plantedImageMedia(s, docs)
      withTempDir("q209") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/idx")
        val stream = fileStream(s, media, 2, s"$tmp/src")
        def fp(b: DataFrame): DataFrame = Multimodal.dhashImages(b)(s).toDF()
          .filter(col("phash") =!= 0L && col("phash") =!= -1L)
        IncrementalStream.packedDupIngest(stream, fp, "doc_id", "phash",
          maxHamming = 3, store = store, checkpointDir = s"$tmp/ck")
          .awaitTermination()
        val got = store.read("dup_pairs").get
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b")).distinct()
        val pairV = parity(plantedPairExpectation(docs), got, Seq("id_a", "id_b")).head.getLong(0)
        // the parity arm reads the WRITTEN stream source (identical rows)
        // instead of re-encoding every planted PNG a second time
        val sigWant = fp(s.read.parquet(s"$tmp/src"))
        val nSig = sigWant.count()
        val idxV = parity(store.read("fingerprints").get.select(col("doc_id"), col("phash")),
          sigWant, Seq("doc_id", "phash"), rows = Some(nSig)).head.getLong(0)
        s.range(1).select(lit(pairV + idxV).as("violations"))
      }
    }),

    // q210: CONTINUOUS audio-dedup ingest — the same probe-then-append
    // contract over q206's planted PCM16 corpus, completing the ingest
    // family across all four dedup modalities (text q121/q158, embedding
    // q128, image q209, audio THIS): the degenerate negative controls
    // (silence -> 0, monotone fade -> -1) must be filtered BEFORE the
    // index lands — the persisted-index parity arm catches a gate that
    // lets them through just as hard as a missed pair
    Query("q210_stream_audio_dedup", InvariantOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id").cast(LongType).as("doc_id"))
      val media = plantedAudioMedia(s, docs)
      withTempDir("q210") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/idx")
        val stream = fileStream(s, media, 2, s"$tmp/src")
        def fp(b: DataFrame): DataFrame = Multimodal.afingerprintAudio(b)(s).toDF()
          .filter(col("ahash") =!= 0L && col("ahash") =!= -1L)
        IncrementalStream.packedDupIngest(stream, fp, "doc_id", "ahash",
          maxHamming = 3, store = store, checkpointDir = s"$tmp/ck")
          .awaitTermination()
        val got = store.read("dup_pairs").get
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b")).distinct()
        val pairV = parity(plantedPairExpectation(
            docs.filter(col("doc_id") < 500 || col("doc_id") >= 510)),
          got, Seq("id_a", "id_b")).head.getLong(0)
        // the parity arm reads the WRITTEN stream source (identical rows)
        // instead of re-synthesizing every planted PCM walk a second time
        val sigWant = fp(s.read.parquet(s"$tmp/src"))
        val nSig = sigWant.count()
        val idxV = parity(store.read("fingerprints").get.select(col("doc_id"), col("ahash")),
          sigWant, Seq("doc_id", "ahash"), rows = Some(nSig)).head.getLong(0)
        s.range(1).select(lit(pairV + idxV).as("violations"))
      }
    }),

    // q211: ONLINE takedown through the MINHASH BAND-INDEX family —
    // q201/q205's tombstone contract on a THIRD at-read-gated index,
    // pinning the contract engine-wide: the corpus streams into the
    // persisted band index + shingle sets across two micro-batches
    // (dedupIndexIngest), corpus docs < 100 tombstone BETWEEN them
    // (nothing stops, no index row is touched; tombstoned documents'
    // rows from batch 2 still append but must never serve), and the
    // arrival gate (duplicateIdsStream) probes the accumulation with
    // BOTH index tables anti-joined against the tombstones FIRST — so
    // serving equals a from-scratch build over the SURVIVING corpus
    // (q121's SAME oracle, corpus restricted to doc_id >= 100; the
    // takedown provably changes the answer at every graded SF)
    // q211: q121's serving oracle over the SURVIVING corpus — the
    // tombstone (corpus docs < 100) provably changes the answer at every
    // graded SF (sf0.01: 118 -> 107 served ids)
    Query("q211_takedown_band_index",
      """WITH tok AS (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ts FROM documents), c AS (SELECT * FROM tok WHERE doc_id < 250 AND doc_id >= 100 AND len(ts) > 0), b AS (SELECT * FROM tok WHERE doc_id >= 250) SELECT b.doc_id FROM b WHERE EXISTS (SELECT 1 FROM c WHERE len(list_intersect(b.ts, c.ts)) * 10 >= len(list_distinct(list_concat(b.ts, c.ts))) * 9) ORDER BY b.doc_id""", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") < 250)
      withTempDir("q211") { tmp =>
        val (srcDir, ckDir) = (s"$tmp/src", s"$tmp/ck")
        val store = new graft.sync.ParquetStore(s, s"$tmp/idx")
        def ingestAvailable(): Unit = {
          val stream = s.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*.parquet")
          IncrementalStream.dedupIndexIngest(stream, "doc_id", "text",
            c => Dedup.hashedShingles(TextAnalysis.tokenSet(c)),
            numHashes = 125, bands = 25, store = store,
            checkpointDir = ckDir).awaitTermination()
        }
        corpus.filter(col("doc_id") % 2 === 0).repartition(1)
          .write.parquet(srcDir)
        ingestAvailable()
        val added = graft.sync.Takedown.tombstone(store,
          corpus.filter(col("doc_id") < 100).select(col("doc_id")))
        require(added > 0L, "q211: the tombstone must actually record ids")
        corpus.filter(col("doc_id") % 2 === 1).repartition(1)
          .write.mode("append").parquet(srcDir)
        ingestAvailable()
        val index = Dedup.NearDupIndex(
          graft.sync.Takedown.withoutTombstones(
            store.read("band_index").get, "id_b", store),
          graft.sync.Takedown.withoutTombstones(
            store.read("shingle_sets").get, "id_b", store))
        val arrivals = docs.filter(col("doc_id") >= 250)
        val arrStream = fileStream(s, arrivals, 2, s"$tmp/arr")
        val dups = Dedup.duplicateIdsStream(
          arrStream, index, "doc_id", "text",
          c => Dedup.hashedShingles(TextAnalysis.tokenSet(c)),
          num = 9, den = 10, numHashes = 125, bands = 25,
          eventTimeCol = timestamp_micros(lit(86400000000L)),
          watermarkDelay = "10 minutes")
        val sink = s"q211_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val q = dups.writeStream.format("memory").queryName(sink)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        drainSink(s, sink, s.table(sink).orderBy("doc_id"))
      }
    }),

    // q212: takedown through the ANN SERVING family — vector-database
    // GDPR erasure, a different gate SHAPE from the hotness-gated index
    // families (q201/q205/q211): there is no df re-cooling, the contract
    // is that tombstoned VECTORS vanish from every top-k and the
    // next-best SURVIVORS fill the freed ranks. The victims are derived
    // from the data (the 5 smallest neighbor ids the ungated index
    // actually serves — the takedown provably changes the answer), the
    // tombstone lands BETWEEN micro-batches of a RUNNING indexIngest
    // (nothing stops; victim vectors arriving after still append but
    // never serve), and knnJoinIvf probes with the assigned table through
    // withoutTombstones — graded full-outer against survivors assigned
    // under the SAME fixed quantizer (centroids are serving-run
    // constants; retraining is the separate offline reassign pass, q152)
    // q212: gated-serve-vs-survivor-rebuild parity under one fixed
    // quantizer is a Spark-side full-outer contract (the q124 family)
    Query("q212_takedown_ann_serve", InvariantOracleSql, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 25)
      val corpus = emb.filter(col("vec_id") >= 25)
      withTempDir("q212") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/idx")
        val batchIdx = Similarity.ivfIndex(corpus, "vec_id", "embedding",
          numCentroids = 8)
        val victims = Similarity.knnJoinIvf(batchIdx, queries, "vec_id",
            "embedding", 5, nprobe = 8)
          .select(col("neighbor_id")).distinct().orderBy("neighbor_id")
          .limit(5).localCheckpoint()
        def ingestAvailable(): Unit = {
          val stream = s.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
          IncrementalStream.indexIngest(stream, batchIdx.cents, "vec_id",
            "embedding", store, "assigned", checkpointDir = s"$tmp/ck")
            .awaitTermination()
        }
        corpus.filter(col("vec_id") % 2 === 0).repartition(1)
          .write.parquet(s"$tmp/src")
        ingestAvailable()
        val added = graft.sync.Takedown.tombstone(store, victims)
        require(added > 0L, "q212: the tombstone must actually record ids")
        corpus.filter(col("vec_id") % 2 === 1).repartition(1)
          .write.mode("append").parquet(s"$tmp/src")
        ingestAvailable()
        val gated = Similarity.knnJoinIvf(
          Similarity.IvfIndex(batchIdx.cents,
            graft.sync.Takedown.withoutTombstones(
              store.read("assigned").get, "vec_id", store)),
          queries, "vec_id", "embedding", 5, nprobe = 8)
        val survivors = corpus.join(broadcast(victims),
          corpus("vec_id") === victims("neighbor_id"), "left_anti")
        val want = Similarity.knnJoinIvf(
          Similarity.IvfIndex(batchIdx.cents,
            Similarity.indexRows(survivors, "embedding", batchIdx.cents)),
          queries, "vec_id", "embedding", 5, nprobe = 8)
        val out = parity(want, gated, Seq("query_id", "neighbor_id")).localCheckpoint()
        graft.Checkpoints.release(victims)
        out
      }
    }),

    // q213: continuous TEXT SimHash dedup ingest — the SAME
    // packedDupIngest machinery as image q209 / audio q210 with the
    // SimHash fingerprinter (tokenSet shingles -> packed 64-bit sig,
    // empty shingle sets filtered exactly as the batch path does): one
    // probe-then-append operator covers every packed-signature modality.
    // The corpus arrives across two micro-batches; the accumulated pair
    // log must equal batch simhashNearDups (q38's brute-force-graded
    // miner) as an exact set, and the persisted fingerprint table must
    // cover every non-empty-shingle doc (a dead stream cannot pass
    // vacuously)
    // q213: streamed-vs-batch SimHash pair parity is a Spark-side
    // exact-set contract (the q38/q158 family)
    Query("q213_stream_simhash_dedup", InvariantOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents")
      withTempDir("q213") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/idx")
        val stream = fileStream(s, docs, 2, s"$tmp/src")
        def fp(b: DataFrame): DataFrame = b
          .select(col("doc_id"),
            Dedup.hashedShingles(TextAnalysis.tokenSet(col("text"))).as("__sh"))
          .filter(size(col("__sh")) > 0)
          .select(col("doc_id"), Dedup.simhashPacked(col("__sh")).as("__sig"))
        IncrementalStream.packedDupIngest(stream, fp, "doc_id", "__sig",
          maxHamming = 3, store = store, checkpointDir = s"$tmp/ck")
          .awaitTermination()
        val got = store.read("dup_pairs").get.select("id_a", "id_b")
        val want = Dedup.simhashNearDups(docs, "doc_id", "text",
          TextAnalysis.tokenSet, maxHamming = 3)
        val nSigs = store.read("fingerprints").get.count()
        val nDocs = docs
          .filter(size(Dedup.hashedShingles(TextAnalysis.tokenSet(col("text")))) > 0)
          .count()
        got.except(want).unionByName(want.except(got))
          .agg((count(lit(1)).cast(LongType)
            + lit(if (nSigs == nDocs) 0L else 1L)).as("violations"))
          .localCheckpoint()
      }
    }),

    // q214: online takedown through the WINNOW OVERLAP-INDEX family —
    // the LAST at-read-gated index family without a graded takedown
    // entry (lines q201, spans q205, MinHash bands q211, ANN q212, THIS):
    // the corpus streams its raw (fp, doc_id) fingerprints into the
    // persisted index across two micro-batches (overlapIndexIngest —
    // deliberately UN-gated, hotness applies at read), corpus docs < 100
    // tombstone BETWEEN them, and the arrival gate probes
    // gateIndex(withoutTombstones(accumulated)) — anti-join BEFORE the
    // df<=100 hot gate, so hotness recomputes over the SURVIVORS in both
    // directions: fps hot only through tombstoned docs re-admit, and
    // erased docs leave no pairing residue. Graded against q148's SAME
    // oracle with the corpus restricted to survivors (the takedown
    // changes the answer at every graded SF: 48 -> 26 pairs at sf0.01)
    // q214: q148's serving oracle with the corpus restricted to the
    // takedown survivors — the df<=100 hot gate recomputes over them
    Query("q214_takedown_overlap_index",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS gpos, md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS gh FROM tok, LATERAL unnest(range(1, len(ts) - 1)) AS t(i) WHERE len(ts) >= 3), n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ng FROM g GROUP BY 1), mw AS (SELECT doc_id, gpos, min(gh) OVER (PARTITION BY doc_id ORDER BY gpos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh FROM g), w AS (SELECT mw.doc_id, mw.gpos AS wpos, mw.mh FROM mw JOIN n USING (doc_id) WHERE mw.gpos <= greatest(n.ng - 4, 0)), fpd AS (SELECT DISTINCT w.doc_id, w.mh AS fp FROM w), corpus AS (SELECT * FROM fpd WHERE doc_id < 250 AND doc_id >= 100), rare AS (SELECT fp FROM corpus GROUP BY fp HAVING count(*) <= 100), ci AS (SELECT c.fp, c.doc_id FROM corpus c JOIN rare USING (fp)), arr AS (SELECT * FROM fpd WHERE doc_id >= 250) SELECT a.doc_id AS id_a, c.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared FROM arr a JOIN ci c ON a.fp = c.fp GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY id_a, id_b""", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") < 250)
      withTempDir("q214") { tmp =>
        val (srcDir, ckDir) = (s"$tmp/src", s"$tmp/ck")
        val idxStore = new graft.sync.ParquetStore(s, s"$tmp/idx")
        val store = new graft.sync.ParquetStore(s, s"$tmp/out")
        def ingestAvailable(): Unit = {
          val stream = s.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*.parquet")
          IncrementalStream.overlapIndexIngest(stream, "doc_id", "text",
            idxStore, "fps", checkpointDir = ckDir).awaitTermination()
        }
        corpus.filter(col("doc_id") % 2 === 0).repartition(1)
          .write.parquet(srcDir)
        ingestAvailable()
        val added = graft.sync.Takedown.tombstone(idxStore,
          corpus.filter(col("doc_id") < 100).select(col("doc_id")))
        require(added > 0L, "q214: the tombstone must actually record ids")
        corpus.filter(col("doc_id") % 2 === 1).repartition(1)
          .write.mode("append").parquet(srcDir)
        ingestAvailable()
        val arrivals = docs.filter(col("doc_id") >= 250)
        val arrStream = fileStream(s, arrivals, 2, s"$tmp/arr")
        IncrementalStream.overlapGate(arrStream,
          graft.text.Winnow.gateIndex(
            graft.sync.Takedown.withoutTombstones(
              idxStore.read("fps").get, "doc_id", idxStore),
            "doc_id", maxDocsPerFp = 100),
          "doc_id", "text", store, "pairs", checkpointDir = s"$tmp/ck2")
          .awaitTermination()
        store.read("pairs").get
          .select(col("id_a"), col("id_b"), col("n_shared"))
          .orderBy("id_a", "id_b").localCheckpoint()
      }
    }),

    // q215: classifier THRESHOLD SWEEP — the curation knob audit run
    // before deploying a quality filter: for a ladder of margin cutoffs,
    // how many documents survive (coverage permille) and how pure the
    // survivors are (positive-label permille). ONE pass over the scored
    // margins: a 7-literal explode + partial-aggregated conditional
    // counts — nothing corpus-sized moves twice. Integer micros and
    // permille floors end to end, so the sweep replays bit-exactly in
    // the DuckDB training-replay oracle (the q167/q168 CTE chain plus a
    // VALUES ladder)
    // q215: the q167/q168 integer training replay scored under the final
    // weights, swept over the SAME literal threshold ladder
    Query("q215_classifier_sweep", svmOracleSql(
      "SELECT t AS threshold_micros, n_kept, CAST(n_kept * 1000 // total AS BIGINT) AS kept_pm, " +
        "n_pos, CAST(CASE WHEN n_kept > 0 THEN n_pos * 1000 // n_kept ELSE 0 END AS BIGINT) AS pos_pm " +
        s"FROM (SELECT t, CAST(count(CASE WHEN m >= t THEN 1 END) AS BIGINT) AS n_kept, " +
        s"CAST(count(CASE WHEN m >= t AND y = 1 THEN 1 END) AS BIGINT) AS n_pos, " +
        s"CAST(count(*) AS BIGINT) AS total FROM m${SvmRounds + 1}, " +
        "(SELECT CAST(unnest([-2000000, -1000000, -500000, 0, 500000, 1000000, 2000000]) AS BIGINT) AS t) " +
        "GROUP BY t) ORDER BY threshold_micros"), (s, dir) => {
      val (df, model) = svmTrained(s, dir)
      val thresholds = Seq(-2000000L, -1000000L, -500000L, 0L,
        500000L, 1000000L, 2000000L)
      Classifier.score(df, "doc_id", model, keep = Seq("y"))
        .select(col("margin_micros"), col("y"),
          explode(typedLit(thresholds)).as("threshold_micros"))
        .groupBy("threshold_micros")
        .agg(
          count(when(col("margin_micros") >= col("threshold_micros"), 1)).as("n_kept"),
          count(when(col("margin_micros") >= col("threshold_micros") &&
            col("y") === 1L, 1)).as("n_pos"),
          count(lit(1)).as("__total"))
        .select(col("threshold_micros"), col("n_kept"),
          expr("n_kept * 1000 div __total").as("kept_pm"),
          col("n_pos"),
          expr("CASE WHEN n_kept > 0 THEN n_pos * 1000 div n_kept ELSE CAST(0 AS BIGINT) END").as("pos_pm"))
        .orderBy("threshold_micros")
    }),

    // q216: near-dup CLUSTER-SIZE distribution — the "dup inflation"
    // line of a corpus release audit: how many clusters of each size the
    // near-dup graph contains and what fraction of the corpus is
    // redundant (docs beyond each cluster's canonical — permille floor).
    // Built on the q33 components (same pairs, same CC), then two
    // #clusters-sized aggregates: cluster sizes, then the size histogram
    // + a broadcast total — nothing corpus-sized moves after the CC
    // rounds. The inflation figure is what decides whether dedup is
    // worth a pipeline stage at all
    // q216: the q33 recursive-CTE components aggregated to the size
    // histogram + integer redundancy permille
    Query("q216_dup_cluster_sizes",
      """WITH RECURSIVE tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), tri AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts)-1), i -> ts[i]||' '||ts[i+1]||' '||ts[i+2])) AS gs FROM tok WHERE len(ts) >= 3), pairs AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM tri a JOIN tri b ON a.doc_id <> b.doc_id WHERE len(list_intersect(a.gs, b.gs)) * 10 >= len(list_distinct(list_concat(a.gs, b.gs))) * 7), reach AS (SELECT doc_id AS id, doc_id AS r FROM documents UNION SELECT p.dst, reach.r FROM reach JOIN pairs p ON p.src = reach.id), canon AS (SELECT id, CAST(min(r) AS BIGINT) AS canon FROM reach GROUP BY id), sz AS (SELECT canon, CAST(count(*) AS BIGINT) AS cluster_size FROM canon GROUP BY canon), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents) SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters, CAST(cluster_size * count(*) AS BIGINT) AS n_docs, CAST((cluster_size - 1) * count(*) * 1000 // (SELECT n FROM tot) AS BIGINT) AS redundant_pm FROM sz GROUP BY cluster_size ORDER BY cluster_size""", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDupsHashed(docs, "doc_id", "text",
        Dedup.hashedWordNgrams(_, 3), num = 7, den = 10, numHashes = 256, bands = 64)
      val sizes = Dedup.connectedComponents(docs, "doc_id", pairs)
        .groupBy(col("canon")).agg(count(lit(1)).as("__sz"))
      val total = docs.count()
      sizes.groupBy(col("__sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
        .withColumn("redundant_pm",
          expr(s"(cluster_size - 1) * n_clusters * 1000 div $total"))
        .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
          col("redundant_pm"))
        .orderBy("cluster_size")
    }),

    // q217: EXACT corpus quantiles without a single-partition sort — the
    // length-bucketing / data-card percentile line computed by the q69
    // bucket-decomposed exact rank instead of approx_percentile's sketch
    // (exact and engine-portable — graded against DuckDB's own
    // quantile_disc, whose ceil(p*n) discrete semantics the operator
    // pins) or a naive one-task global sort
    // q217: DuckDB's own discrete-quantile aggregate, zipped with the
    // permille labels by parallel unnest
    Query("q217_exact_quantiles",
      "WITH a AS (SELECT quantile_disc(n_chars, [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS qs FROM documents) SELECT CAST(unnest([100, 250, 500, 750, 900, 990]) AS BIGINT) AS prob_pm, CAST(unnest(qs) AS BIGINT) AS value FROM a ORDER BY prob_pm", (s, dir) =>
      Sampling.exactQuantiles(t(s, dir, "documents"), "n_chars", "doc_id",
          bucket = expr("n_chars div 8"),
          probsPermille = Seq(100L, 250L, 500L, 750L, 900L, 990L))
        .orderBy("prob_pm")),

    // q218: the PER-SOURCE percentile line of the data card — q217's
    // exact discrete quantiles per key through the (source, bucket)
    // keyed rank decomposition (sources are low-cardinality: a plain
    // per-source sort window would single-task a 10 TB source), target
    // ranks from one narrow count scan broadcast back
    // q218: quantile_disc per source, zipped with permille labels
    Query("q218_source_quantiles",
      "WITH a AS (SELECT source, quantile_disc(n_chars, [0.1, 0.5, 0.9]) AS qs FROM documents GROUP BY source) SELECT source, CAST(unnest([100, 500, 900]) AS BIGINT) AS prob_pm, CAST(unnest(qs) AS BIGINT) AS value FROM a ORDER BY source, prob_pm", (s, dir) =>
      Sampling.exactQuantilesByKey(t(s, dir, "documents"), "n_chars", "doc_id",
          keys = Seq("source"), bucket = expr("n_chars div 8"),
          probsPermille = Seq(100L, 500L, 900L))
        .orderBy("source", "prob_pm")),

    // q219: MMR diversity re-rank — the stage between "top-N by
    // relevance" and "show the user k results" (k near-dup passages
    // answer a query once). The distributed path (shortlist retrieval +
    // the codegen'd MmrSelect greedy) grades against an INDEPENDENT
    // driver re-implementation of the same quantized rule over the same
    // shortlists (bit-exact: floatDot is left-to-right double
    // accumulation, reproduced verbatim), plus structural invariants
    // (exactly k picks per query, distinct, pick one = top relevance)
    // and a diversity non-vacuity arm: at least one query must reorder
    // vs pure relevance or lambda graded nothing
    // q219: distributed-vs-independent-driver MMR greedy parity plus
    // structural/diversity invariants — a Spark-side contract (float
    // cosines never cross engines; the q152/q124 family)
    Query("q219_mmr_rerank", InvariantOracleSql, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 25)
      val (k, nShort, lam) = (5, 12, 500)
      val got = Similarity.mmrRerank(queries, emb, "vec_id", "embedding",
          k, nShort, lambdaPermille = lam)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // the same shortlists through the separately-graded ranked-knn arm
      // (#queries x shortlist rows — bounded collect)
      val short = Similarity.knnJoinRanked(queries, emb, "vec_id", "embedding", nShort)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val needed = (short.map(_._2) ++ short.map(_._1)).distinct
      val vecs = emb.filter(col("vec_id").isin(needed: _*))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      def dotD(a: Array[Float], b: Array[Float]): Double = {
        var s0 = 0.0; var i = 0
        while (i < a.length) { s0 += a(i).toDouble * b(i).toDouble; i += 1 }
        s0
      }
      def cosMicros(a: Long, b: Long): Long = math.floor(
        dotD(vecs(a), vecs(b)) /
          (math.sqrt(dotD(vecs(a), vecs(a))) * math.sqrt(dotD(vecs(b), vecs(b))))
          * 1e6).toLong
      val want = short.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
        val cand = rows.sortBy(_._3).map(_._2).toArray
        var selected = List.empty[Long]
        val maxSim = scala.collection.mutable.Map.empty[Long, Long]
        (1 to math.min(k, cand.length)).map { rank =>
          val pick = cand.filterNot(selected.contains).minBy(id =>
            (-(lam.toLong * cosMicros(qid, id) -
              maxSim.get(id).map((1000L - lam) * _).getOrElse(0L)), id))
          cand.filterNot(c => selected.contains(c) || c == pick).foreach { c =>
            val sim = cosMicros(pick, c)
            if (!maxSim.get(c).exists(_ >= sim)) maxSim(c) = sim
          }
          selected ::= pick
          (qid, rank.toLong, pick)
        }
      }
      val parity = if (got.toSet == want.toSet && got.length == want.length) 0L else 1L
      // structural invariants over the distributed output
      val byQ = got.groupBy(_._1)
      val topRel = short.groupBy(_._1).map { case (q, rows) => q -> rows.minBy(_._3)._2 }
      val structural =
        (if (byQ.values.forall(_.length == k)) 0L else 1L) +
        (if (byQ.values.forall(g => g.map(_._3).distinct.length == g.length)) 0L else 1L) +
        (if (byQ.forall { case (q, g) => g.minBy(_._2)._3 == topRel(q) }) 0L else 1L)
      // diversity non-vacuity: some query's MMR order must differ from
      // the pure-relevance prefix
      val relOrder = short.groupBy(_._1).map { case (q, rows) =>
        q -> rows.sortBy(_._3).take(k).map(_._2).toSeq }
      val reordered = byQ.count { case (q, g) =>
        g.sortBy(_._2).map(_._3).toSeq != relOrder(q) }
      val diversity = if (reordered > 0) 0L else 1L
      s.range(1).select(lit(parity + structural + diversity).as("violations"))
    }),

    // q220: MMR serving DEPLOYED — the 25 query vectors arrive across
    // TWO micro-batches (the q122 harness) and each batch re-ranks
    // against the static corpus through the mmrServe gate; selection is
    // per-query deterministic, so the accumulated (query_id, mmr_rank,
    // neighbor_id) log must equal batch mmrRerank row-for-row under any
    // arrival split (full-outer violations + count guard, the q124
    // contract)
    // q220: streamed-vs-batch MMR serving parity (the q124 family)
    Query("q220_stream_mmr_serve", InvariantOracleSql, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 25)
      val (k, nShort, lam) = (5, 12, 500)
      withTempDir("q220") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/out")
        val stream = fileStream(s, queries, 2, s"$tmp/src")
        IncrementalStream.mmrServe(stream, emb, "vec_id", "embedding",
          k, nShort, lambdaPermille = lam, store = store, table = "served",
          checkpointDir = s"$tmp/ck").awaitTermination()
        val want = Similarity.mmrRerank(queries, emb, "vec_id", "embedding",
          k, nShort, lambdaPermille = lam)
        val nWant = want.count()
        parity(store.read("served").get.select(col("query_id"), col("mmr_rank"), col("neighbor_id")),
          want, Seq("query_id", "mmr_rank", "neighbor_id"), rows = Some(nWant))
          .localCheckpoint()
      }
    }),

    // q221: per-document n-gram NOVELTY RATE against a reference corpus —
    // the "how much of this text is genuinely new" measure generation
    // eval and crawl-freshness audits run (q46's novel-docs verdict as a
    // per-doc permille, not a boolean): for each candidate doc, the share
    // of its DISTINCT 5-gram set absent from the reference half's distinct
    // gram set. One gram-hash exchange: the reference collapses to its
    // distinct grams map-side, candidates left-join it, counts fold per
    // doc — no quadratic anywhere, no df gate needed. Integer permille
    // floors; full SQL oracle over string grams (64-bit gram hashes are
    // pipeline-internal, the q21-family ~1e-15 collision envelope)
    // q221: string 5-grams in the oracle (the Spark side hashes — the
    // q21-family collision envelope)
    Query("q221_novel_ngram_rate",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts) - 3), i -> ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3]||' '||ts[i+4])) AS gs FROM tok WHERE len(ts) >= 5), ref AS (SELECT DISTINCT unnest(gs) AS gr FROM g WHERE doc_id < 250), c AS (SELECT doc_id, unnest(gs) AS gr FROM g WHERE doc_id >= 250) SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_grams, CAST(count(CASE WHEN ref.gr IS NULL THEN 1 END) AS BIGINT) AS n_novel, CAST(count(CASE WHEN ref.gr IS NULL THEN 1 END) * 1000 // count(*) AS BIGINT) AS novelty_pm FROM c LEFT JOIN ref ON c.gr = ref.gr GROUP BY c.doc_id ORDER BY c.doc_id""", (s, dir) => {
      val docs = t(s, dir, "documents")
      val refGrams = docs.filter(col("doc_id") < 250)
        .select(explode(Dedup.hashedWordNgrams(col("text"), 5)).as("__g"))
        .distinct()
        .withColumn("__in", lit(1))
      docs.filter(col("doc_id") >= 250)
        .select(col("doc_id"), explode(Dedup.hashedWordNgrams(col("text"), 5)).as("__g"))
        .join(refGrams, Seq("__g"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          count(when(col("__in").isNull, 1)).as("n_novel"))
        .withColumn("novelty_pm", expr("n_novel * 1000 div n_grams"))
        .orderBy("doc_id")
    }),

    // q222: SCD2 history merge — the TEMPORAL form of the sync engine's
    // upsert (the reference overwrites; History keeps every version as a
    // half-open [valid_from, valid_to) interval). Three planted snapshots
    // exercise every change class: unchanged, changed, removed, added,
    // and a REAPPEARING key (removed in v2, back in v3 — the gap must
    // stay visible). Each apply joins ONLY the open slice against the
    // snapshot (one keyed shuffle); closed intervals pass through
    // untouched. Output: the full history, valid_to 0 = still open (the
    // NULL-free hash-compare sentinel; the library keeps NULL)
    // q222: the DuckDB side reconstructs the SAME history from first
    // principles — a dense (key x version) calendar, gaps-and-islands on
    // null-safe value+presence changes, interval bounds from island
    // extents (valid_to = next island's start; versions are dense so
    // that is max_ver + 1, and an island reaching the last version is
    // open = 0). Two INDEPENDENT formulations of SCD2 agreeing row-level
    Query("q222_scd2_history", Scd2FullHistoryOracleSql, (s, dir) => {
      val (s1, s2, s3) = scdSnapshots(s, dir)
      import graft.sync.History
      val h = History.scd2Apply(
        History.scd2Apply(History.scd2Init(s1, 1L), s2,
          Seq("o_orderkey"), Seq("o_custkey", "cents"), 2L),
        s3, Seq("o_orderkey"), Seq("o_custkey", "cents"), 3L)
      h.select(col("o_orderkey"), col("o_custkey"), col("cents"), col("valid_from"),
          coalesce(col("valid_to"), lit(0L)).as("valid_to"))
        .orderBy("o_orderkey", "valid_from")
    }),

    // q223: as-of TIME TRAVEL through the q222 history — after all three
    // applies, asOf(2) must reproduce snapshot 2 row-for-row (reading
    // BACK past the newer version 3, not just the current state). The
    // inverse invariant that grades the whole interval algebra: the
    // oracle is snapshot 2's own definition, no history reconstruction
    // q223: the oracle is snapshot 2's own definition — time travel
    // through the 3-version history must land exactly on it
    Query("q223_asof_snapshot",
      (ScdSnapshotCtes + " SELECT o_orderkey, o_custkey, cents FROM s2 ORDER BY o_orderkey"), (s, dir) => {
      val (s1, s2, s3) = scdSnapshots(s, dir)
      import graft.sync.History
      val h = History.scd2Apply(
        History.scd2Apply(History.scd2Init(s1, 1L), s2,
          Seq("o_orderkey"), Seq("o_custkey", "cents"), 2L),
        s3, Seq("o_orderkey"), Seq("o_custkey", "cents"), 3L)
      History.asOf(h, 2L).orderBy("o_orderkey")
    }),

    // q224: HTML -> text extraction (the WARC->WET step every web-crawl
    // corpus runs before ANY quality/language/dedup stage) — planted
    // markup wraps each document's real text with every strip class:
    // comments, a script body containing < and quotes (must not leak),
    // a style block, named entities (&amp; decoded LAST — the
    // double-decode trap is planted as literal "&amp;lt;" inside the
    // anchor text via "link &amp; more"), and a per-doc varying link
    // count (%3) so the counters are non-constant. Pure chained
    // codegen'd regexp_replace — a map stage fused into the scan
    // q224: the identical planted wrapper and the identical strip chain
    // in RE2 (inline (?is) + 'g' flag; explicit [ \t\n\r] class — Java's
    // \s and RE2's \s disagree on 0x0B, so neither side uses \s)
    Query("q224_html_extract",
      """WITH h AS (SELECT doc_id, '<html><head><title>T</title><script type="x">var a = 1 < 2; s = "<p>";</script><style>p { color: red; }</style></head><body><!-- c --><h1>Doc</h1><p>' || text || '</p><a href="http://x">link &amp; more</a>' || CASE WHEN doc_id % 3 = 0 THEN '<a href="y">more</a>' ELSE '' END || '<p>A&lt;B &quot;q&quot; &#39;s&#39;&nbsp;end</p></body></html>' AS html FROM documents), c AS (SELECT doc_id, html, regexp_replace(regexp_replace(regexp_replace(regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g'), '(?is)<script[^>]*>.*?</script>', ' ', 'g'), '(?is)<style[^>]*>.*?</style>', ' ', 'g'), '<[^>]*>', ' ', 'g') AS t FROM h), d AS (SELECT doc_id, html, regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t, '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'), '&#39;', CHR(39), 'g'), '&apos;', CHR(39), 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS t FROM c) SELECT doc_id, trim(regexp_replace(t, '[ \t\n\r]+', ' ', 'g')) AS clean, CAST(len(regexp_extract_all(html, '<[a-zA-Z/][^>]*>')) AS BIGINT) AS n_tags, CAST(len(regexp_extract_all(html, '(?i)<a[ \t\n\r>]')) AS BIGINT) AS n_links, CAST(len(regexp_extract_all(html, '(?i)<script[^>]*>')) AS BIGINT) AS n_scripts FROM d ORDER BY doc_id""", (s, dir) => {
      import graft.text.Html
      val html = concat(
        lit("<html><head><title>T</title><script type=\"x\">var a = 1 < 2; s = \"<p>\";</script>" +
          "<style>p { color: red; }</style></head><body><!-- c --><h1>Doc</h1><p>"),
        col("text"),
        lit("</p><a href=\"http://x\">link &amp; more</a>"),
        when(col("doc_id") % 3 === 0, lit("<a href=\"y\">more</a>")).otherwise(lit("")),
        lit("<p>A&lt;B &quot;q&quot; &#39;s&#39;&nbsp;end</p></body></html>"))
      tw(s, dir, "documents")
        .select(col("doc_id"),
          Html.extractText(html).as("clean"),
          Html.tagCount(html).cast(LongType).as("n_tags"),
          Html.linkCount(html).cast(LongType).as("n_links"),
          Html.scriptCount(html).cast(LongType).as("n_scripts"))
        .orderBy("doc_id")
    }),

    // q225: point-in-time join against the q222 SCD2 history — the
    // leakage-safe feature-assembly join (joining "current" dimensions
    // onto past facts backfills the past with the future; the PIT join
    // gives each fact the dimension values current AT ITS OWN version).
    // Facts: one per lineitem row, version planted from l_linenumber so
    // all three versions, gap hits (keys removed at v2) and reappearance
    // hits occur. The oracle needs NO history reconstruction: because
    // intervals partition each key's timeline, PIT at version v IS a
    // join against snapshot v — stated per-fact over the s1/s2/s3 CTEs.
    // One pks-keyed equi-join, interval predicate residual,
    // versions-per-key-bounded fan-in
    // q225: NO history reconstruction in the oracle — PIT at version v
    // is definitionally a join against snapshot v (intervals partition
    // each key's timeline), stated per-fact over the shared s1/s2/s3
    Query("q225_pit_join", PitOracleSql, (s, dir) => {
      val (s1, s2, s3) = scdSnapshots(s, dir)
      import graft.sync.History
      val h = History.scd2Apply(
        History.scd2Apply(History.scd2Init(s1, 1L), s2,
          Seq("o_orderkey"), Seq("o_custkey", "cents"), 2L),
        s3, Seq("o_orderkey"), Seq("o_custkey", "cents"), 3L)
      val facts = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
          (col("l_linenumber") % 3 + 1).cast(LongType).as("ver"))
      History.pitJoin(facts, h, Seq("o_orderkey"), "ver")
        .select(col("o_orderkey"), col("l_linenumber"), col("ver"),
          coalesce(col("o_custkey").cast(LongType), lit(-1L)).as("custkey_at"),
          coalesce(col("cents"), lit(-1L)).as("cents_at"))
        .orderBy("o_orderkey", "l_linenumber")
    }),

    // q226: URL canonicalization — the crawl pipeline's FIRST dedup key
    // (RFC 3986 §6), as one codegen'd fail-NULL expression. Eight
    // planted mess classes per doc (%8): case + default port + tracking
    // + fragment, :443 drop, non-default port KEPT + param sort, all
    // params tracking, empty path -> /, trim + emptied '?', fragment
    // only, and a userinfo URL that must fail NULL (sentineled for the
    // hash compare). The oracle does NOT re-run any normalizer — it
    // states the expected canonical string per class outright, so the
    // two sides agree only if every rule fires exactly as specified
    // q226: the oracle states the EXPECTED canonical per mess class
    // outright (no normalizer re-run — independent by construction)
    Query("q226_url_canonical",
      """SELECT doc_id, CASE doc_id % 8 WHEN 0 THEN 'http://www.example.com/d/' || CAST(doc_id AS VARCHAR) || '?a=1&x=2' WHEN 1 THEN 'https://example.com/d/' || CAST(doc_id AS VARCHAR) WHEN 2 THEN 'https://example.com:8443/d/' || CAST(doc_id AS VARCHAR) || '?a=10&b=2' WHEN 3 THEN 'http://example.com/d/' || CAST(doc_id AS VARCHAR) WHEN 4 THEN 'http://tracker.example.com/' WHEN 5 THEN 'http://example.com/d/' || CAST(doc_id AS VARCHAR) WHEN 6 THEN 'http://e.com/D/' || CAST(doc_id AS VARCHAR) ELSE '__invalid__' END AS url_norm FROM documents ORDER BY doc_id""", (s, dir) => {
      import graft.functions.UrlNormalize
      val id = col("doc_id").cast(StringType)
      val m = col("doc_id") % 8
      val url =
        when(m === 0, concat(lit("HTTP://WWW.Example.COM:80/d/"), id, lit("?x=2&utm_source=t&a=1#frag")))
          .when(m === 1, concat(lit("https://Example.com:443/d/"), id))
          .when(m === 2, concat(lit("https://example.com:8443/d/"), id, lit("?b=2&a=10")))
          .when(m === 3, concat(lit("http://EXAMPLE.com/d/"), id, lit("?utm_medium=x&gclid=1&fbclid=2")))
          .when(m === 4, lit("http://tracker.example.com"))
          .when(m === 5, concat(lit("  http://example.com/d/"), id, lit("?  ")))
          .when(m === 6, concat(lit("http://e.com/D/"), id, lit("#only-frag")))
          .otherwise(concat(lit("http://user@example.com/"), id))
      t(s, dir, "documents")
        .select(col("doc_id"),
          coalesce(UrlNormalize(url), lit("__invalid__")).as("url_norm"))
        .orderBy("doc_id")
    }),

    // q227: maintained HEAVY-HITTERS view — the trending-terms dashboard
    // shape: token arrivals stream across two micro-batches into a
    // continuously-maintained (source, token) count state
    // (vocabulary-bounded, raw arrivals never retained), and the top-3
    // report ranks the STATE, not the corpus. Count addition is
    // merge-order-invariant, so the report equals the batch top-k under
    // the SAME oracle regardless of how the stream was batched (the
    // q197 contract with a composite key + rank report). The exact
    // twin of q62's CMS sketch: exact counts when the key space is
    // bounded, the sketch when it is not
    // q227: the batch top-k SQL — the maintained state must reproduce
    // it exactly under any micro-batch split
    Query("q227_stream_topk_view",
      """WITH tok AS (SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token FROM documents), c AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1, 2), r AS (SELECT source, token, n, row_number() OVER (PARTITION BY source ORDER BY n DESC, token) AS rk FROM c) SELECT source, CAST(rk AS BIGINT) AS rank, token, n FROM r WHERE rk <= 3 ORDER BY source, rank""", (s, dir) => {
      val docs = t(s, dir, "documents")
      withTempDir("q227") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/state")
        val stream = fileStream(s, docs, 2, s"$tmp/src")
          .select(col("source"),
            explode(TextAnalysis.tokens(col("text"))).as("token"))
        IncrementalStream.maintainCountsKeys(stream, Seq("source", "token"),
          store, "counts", checkpointDir = s"$tmp/ck")
          .awaitTermination()
        Stats.topKFromCounts(store.read("counts").get
              .select(col("source"), col("token"), col("n")),
            Seq("source"), Seq("token"), k = 3)
          .select(col("source"), col("rank"), col("token"), col("n"))
          .orderBy("source", "rank").localCheckpoint()
      }
    }),

    // q228: SCENE-CHANGE detection over the shared q160 planted MJPEG
    // corpus — decode -> luminance-delta cuts -> per-video report. The
    // planted gray walk steps +37 per frame mod 224, so consecutive
    // deltas are exactly 37 (no cut) or 187 (the wrap = the planted
    // scene cut); threshold 100 sits between them with >25x the JPEG
    // noise margin (the q160 ±2 gray tolerance), so the CUT DECISION is
    // integer-exact cross-engine even though decoded means are lossy.
    // Oracle: the planted formula replayed arithmetically — no decode
    // q228: the planted gray walk replayed arithmetically — cut iff the
    // inter-frame gray delta exceeds 100 (planted deltas: 37 or 187)
    Query("q228_scene_cuts",
      """WITH f AS (SELECT doc_id, unnest(range(0, 1 + doc_id % 3)) AS fi FROM documents), g AS (SELECT doc_id, fi, 16 + (doc_id + 37 * fi) % 224 AS gray FROM f), c AS (SELECT doc_id, fi, abs(gray - lag(gray) OVER (PARTITION BY doc_id ORDER BY fi)) AS dg FROM g) SELECT doc_id, CAST(1 + doc_id % 3 AS BIGINT) AS n_frames, CAST(count(CASE WHEN dg > 100 THEN 1 END) AS BIGINT) AS n_cuts, CAST(coalesce(min(CASE WHEN dg > 100 THEN fi END), -1) AS BIGINT) AS first_cut FROM c GROUP BY doc_id ORDER BY doc_id""", (s, dir) => {
      implicit val session: SparkSession = s
      val frames = Multimodal.decodeFramesOf(mjpegCorpus(s, dir)).toDF()
      val cuts = Multimodal.sceneCuts(frames, thresholdMilli = 100000L)
      frames.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"))
        .join(cuts.groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_cuts"), min(col("cut_at")).as("first_cut")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_frames"),
          coalesce(col("n_cuts"), lit(0L)).as("n_cuts"),
          coalesce(col("first_cut"), lit(-1L)).as("first_cut"))
        .orderBy("doc_id")
    }),

    // q229: SCD2 from INCREMENTAL deltas — the reference's own model
    // (watermark pulls produce "changed since last pull" upserts, never
    // full extracts, so removals are invisible and absent keys must stay
    // OPEN). Deltas are derived from the planted snapshots (new-or-
    // changed rows only) and applied with scd2ApplyUpserts; the oracle
    // states the upsert-SCD2 law directly: the history IS the delta log
    // with each interval running to the key's NEXT delta (lead), open at
    // the end — no island machinery needed because deltas only exist
    // where the value changed. Reappearance keys (absent from s2) fire
    // as ver-3 deltas against their STILL-OPEN v1 interval: [1,3)+[3,-)
    // q229: the upsert-SCD2 law stated directly — the history IS the
    // delta log, each interval running to the key's next delta
    Query("q229_scd2_upserts", Scd2UpsertOracleSql, (s, dir) => {
      val (s1, s2, s3) = scdSnapshots(s, dir)
      import graft.sync.History
      def delta(cur: DataFrame, prev: DataFrame): DataFrame = {
        val p = prev.select(col("o_orderkey"), col("o_custkey").as("__pc"),
          col("cents").as("__pv")).withColumn("__in", lit(1))
        cur.join(p, Seq("o_orderkey"), "left")
          .filter(col("__in").isNull || !(col("o_custkey") <=> col("__pc"))
            || !(col("cents") <=> col("__pv")))
          .select(col("o_orderkey"), col("o_custkey"), col("cents"))
      }
      val h = History.scd2ApplyUpserts(
        History.scd2ApplyUpserts(History.scd2Init(s1, 1L), delta(s2, s1),
          Seq("o_orderkey"), Seq("o_custkey", "cents"), 2L),
        delta(s3, s2), Seq("o_orderkey"), Seq("o_custkey", "cents"), 3L)
      h.select(col("o_orderkey"), col("o_custkey"), col("cents"), col("valid_from"),
          coalesce(col("valid_to"), lit(0L)).as("valid_to"))
        .orderBy("o_orderkey", "valid_from")
    }),

    // q230: CURRICULUM ordering — "best data first, shuffled within
    // tier": a 3-tier length curriculum (long docs are the high-signal
    // tier here; swap in any graded quality score at 100 TB) ordered
    // priority-major with md5 shuffling inside each tier, through the
    // q106 exact-rank bucket decomposition extended to priority·256 +
    // hex-byte buckets — NO global sort, no tier funneling through one
    // task however skewed the tiers. Oracle: the naive serial
    // row_number over (priority, md5, id)
    // q230: the naive serial form of the curriculum order
    Query("q230_curriculum_order",
      "WITH p AS (SELECT doc_id, CASE WHEN n_chars >= 500 THEN 0 WHEN n_chars >= 200 THEN 1 ELSE 2 END AS priority FROM documents), r AS (SELECT doc_id, priority, row_number() OVER (ORDER BY priority, md5('graft:'||CAST(doc_id AS VARCHAR)), doc_id) - 1 AS g FROM p) SELECT doc_id, CAST(priority AS BIGINT) AS priority, CAST(g AS BIGINT) AS global_rank, CAST(g // 32 AS BIGINT) AS shard, CAST(g % 32 AS BIGINT) AS pos FROM r ORDER BY doc_id", (s, dir) => {
      val tiers = t(s, dir, "documents").select(col("doc_id"),
        when(col("n_chars") >= 500, 0).when(col("n_chars") >= 200, 1)
          .otherwise(2).as("priority"))
      Sampling.curriculumShuffle(tiers, "doc_id", "priority",
          seed = "graft", rowsPerShard = 32L)
        .orderBy("doc_id")
    }),

    // q231: KEYFRAME selection — one frame per scene over the shared
    // q160/q228 planted corpus: each video's first decoded frame plus
    // every luminance cut, numbered 0-based. The content-aware upgrade
    // of q35's uniform frame sampler; same integer-exact cut decision
    // as q228, oracle replays the planted gray walk
    // q231: first frame + cuts from the planted gray walk, renumbered
    Query("q231_keyframes",
      """WITH f AS (SELECT doc_id, unnest(range(0, 1 + doc_id % 3)) AS fi FROM documents), g AS (SELECT doc_id, fi, 16 + (doc_id + 37 * fi) % 224 AS gray FROM f), c AS (SELECT doc_id, fi, lag(gray) OVER (PARTITION BY doc_id ORDER BY fi) AS pg, gray FROM g), k AS (SELECT doc_id, fi FROM c WHERE pg IS NULL OR abs(gray - pg) > 100) SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY fi) - 1 AS BIGINT) AS scene_idx FROM k ORDER BY doc_id, frame_idx""", (s, dir) => {
      implicit val session: SparkSession = s
      Multimodal.keyframes(Multimodal.decodeFramesOf(mjpegCorpus(s, dir)).toDF(),
          thresholdMilli = 100000L)
        .orderBy("doc_id", "frame_idx")
    }),

    // q232: WITHIN-document line dedup — the in-doc half of line-level
    // cleanup (nav/footer lines repeat inside one page long before they
    // repeat across the corpus; the cross-doc half is q179). Planted:
    // each doc becomes 4 lines with lines 3/4 exact repeats of 1/2 (and
    // short docs collapsing further when the 40-char prefix equals the
    // whole text). A pure per-row array pass — no shuffle, no per-doc
    // window; the prefix probe is lines-per-doc-bounded JVM work
    // q232: first-occurrence-per-line via min-position windows over the
    // exploded lines — an INDEPENDENT formulation of the same keep rule
    Query("q232_line_dedup_within",
      """WITH h AS (SELECT doc_id, text || chr(10) || substr(text, 1, 40) || chr(10) || text || chr(10) || substr(text, 1, 40) AS t2 FROM documents), s AS (SELECT doc_id, string_split(t2, chr(10)) AS ls FROM h), l AS (SELECT doc_id, ls[i] AS line, i AS pos FROM s, LATERAL unnest(range(1, len(ls) + 1)) AS u(i)), r AS (SELECT doc_id, line, pos, row_number() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn FROM l), k AS (SELECT doc_id, array_to_string(list(line ORDER BY pos), chr(10)) AS clean, count(*) AS n_kept FROM r WHERE rn = 1 GROUP BY doc_id), n AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id) SELECT k.doc_id, k.clean, CAST(n.n_lines AS BIGINT) AS n_lines, CAST(n.n_lines - k.n_kept AS BIGINT) AS n_removed FROM k JOIN n ON k.doc_id = n.doc_id ORDER BY k.doc_id""", (s, dir) => {
      val nl = lit("\n")
      val planted = t(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"), nl,
          substring(col("text"), 1, 40), nl, col("text"), nl,
          substring(col("text"), 1, 40)).as("t2"))
      Scrub.dedupLinesWithin(planted, "t2")
        .select(col("doc_id"), col("clean"), col("n_lines"), col("n_removed"))
        .orderBy("doc_id")
    }),

    // q233: VERSION DIFF through the history — "what changed between
    // version 1 and version 3" answered from the SCD2 table alone
    // (asOf x2 + the q105 CDC diff), no re-extract of either snapshot.
    // The audit composition a history exists to serve; the oracle diffs
    // the two snapshot CTEs directly, so the composed asOf->diff path
    // must reproduce the ground-truth delta exactly
    // q233: the ground-truth s1-vs-s3 diff, stated without any history
    Query("q233_version_diff",
      (ScdSnapshotCtes + " SELECT o_orderkey, change_type FROM (SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS o_orderkey, CASE WHEN b.o_orderkey IS NULL THEN 'added' WHEN a.o_orderkey IS NULL THEN 'removed' WHEN b.o_custkey IS DISTINCT FROM a.o_custkey OR b.cents IS DISTINCT FROM a.cents THEN 'changed' END AS change_type FROM s1 b FULL OUTER JOIN s3 a ON b.o_orderkey = a.o_orderkey) WHERE change_type IS NOT NULL ORDER BY o_orderkey"), (s, dir) => {
      val (s1, s2, s3) = scdSnapshots(s, dir)
      import graft.sync.History
      val h = History.scd2Apply(
        History.scd2Apply(History.scd2Init(s1, 1L), s2,
          Seq("o_orderkey"), Seq("o_custkey", "cents"), 2L),
        s3, Seq("o_orderkey"), Seq("o_custkey", "cents"), 3L)
      graft.sync.Diff.snapshotDiff(History.asOf(h, 1L), History.asOf(h, 3L),
          Seq("o_orderkey"), Seq("o_custkey", "cents"))
        .orderBy("o_orderkey")
    }),

    // q234: the URL FRONTIER deployed — the exact-key ingest-dedup gate
    // every crawl runs before any fetch: four planted mess classes per
    // doc all canonicalize to ONE URL per 5-doc group, arrivals land in
    // two SEQUENTIAL ingest rounds (low ids first — the q201 multi-round
    // harness, so acceptance order is deterministic), and the
    // accumulated seen-set must equal the batch ground truth: the
    // minimum doc_id per canonical URL, stated by the oracle with the
    // expected canonical string outright (the q226 convention)
    // q234: ground truth for the frontier — min doc_id per canonical
    // URL, with the canonical stated outright (the q226 convention)
    Query("q234_url_frontier",
      "SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, 'http://example.com/g/' || CAST(doc_id % 100 AS VARCHAR) || '?a=1&b=2' AS url_norm FROM documents GROUP BY doc_id % 100 ORDER BY doc_id", (s, dir) => {
      val docs = tw(s, dir, "documents")
      // mod groups STRADDLE the two ingest rounds (x, x+100, x+200 land
      // in round 1; x+300, x+400 in round 2), so round 2's members must
      // be rejected by the PERSISTED seen-set — the cross-round gate is
      // non-vacuous by construction
      val g = (col("doc_id") % 100).cast(StringType)
      val m = col("doc_id") % 4
      val url =
        when(m === 0, concat(lit("HTTP://Example.COM:80/g/"), g, lit("?b=2&utm_s=1&a=1#f")))
          .when(m === 1, concat(lit("http://example.com/g/"), g, lit("?utm_x=9&a=1&b=2")))
          .when(m === 2, concat(lit("http://EXAMPLE.com:80/g/"), g, lit("?b=2&a=1")))
          .otherwise(concat(lit("http://example.com/g/"), g, lit("?a=1&b=2#z")))
      val arrivals = docs.select(col("doc_id"), url.as("url"))
      withTempDir("q234") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/state")
        Seq(col("doc_id") < 250, col("doc_id") >= 250).zipWithIndex.foreach {
          case (cond, i) =>
            // partitioned BY GROUP: a canonical key never spans the
            // round's two files, so the in-round winner is the group
            // minimum whichever file the scheduler drains first
            arrivals.filter(cond).repartition(2, col("doc_id") % 100)
              .write.parquet(s"$tmp/src$i")
            IncrementalStream.frontierGate(
              s.readStream.schema(arrivals.schema)
                .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src$i/*.parquet"),
              "doc_id", "url", store, "seen", checkpointDir = s"$tmp/ck$i")
              .awaitTermination()
        }
        store.read("seen").get.select(col("doc_id"), col("url_norm"))
          .orderBy("doc_id").localCheckpoint()
      }
    }),

    // q235: SCHEMA drift report — the sync tool's canonical failure
    // mode surfacing as a diff instead of a stack trace: the "after"
    // extract drops lang, retypes n_chars (bigint -> int, the silent
    // truncation hazard), adds a fetched_at column, and RENULLABLES
    // doc_id (nullable -> not null via coalesce — the inverse flip is
    // the one that breaks NOT NULL destinations, and either direction
    // must surface instead of hiding behind an equal type string).
    // Pure metadata work (driver-side schema compare, no data scan at
    // any size); the oracle states the expected report rows outright
    // q235: the expected report stated outright
    Query("q235_schema_drift",
      "SELECT * FROM (VALUES ('doc_id', 'renullabled', 'bigint', 'bigint not null'), ('fetched_at', 'added', '-', 'bigint'), ('lang', 'removed', 'string', '-'), ('n_chars', 'retyped', 'bigint', 'int')) AS t(column_name, change, type_before, type_after) ORDER BY column_name", (s, dir) => {
      val before = t(s, dir, "documents")
      val after = before.drop("lang")
        .withColumn("n_chars", col("n_chars").cast(IntegerType))
        .withColumn("fetched_at", lit(0L))
        .withColumn("doc_id", coalesce(col("doc_id"), lit(0L)))
      graft.sync.Diff.schemaDiff(before, after).orderBy("column_name")
    }),

    // q236: k-ANONYMITY audit — the governance check before a dataset
    // release: quasi-identifier combos (nation, segment) shared by
    // fewer than k=10 customers re-identify; one partial-aggregated
    // keyed count, delta-sized output (violating combos only)
    // q236: violating quasi-identifier combos stated by the same SQL
    Query("q236_k_anonymity",
      "SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n FROM customer GROUP BY 1, 2 HAVING count(*) < 10 ORDER BY c_nationkey, c_mktsegment", (s, dir) =>
      Expectations.kAnonymity(t(s, dir, "customer"),
          Seq("c_nationkey", "c_mktsegment"), k = 10L)
        .orderBy("c_nationkey", "c_mktsegment")),

    // q237: the PIT join DEPLOYED — the q225 facts arrive as a STREAM
    // (two micro-batches) and enrich against the static q222 history by
    // stream-static pitJoin; the accumulated result must equal batch
    // q225 under the SAME oracle (stream-static joins are per-row, so
    // batch-split invariance holds by construction — this grades that
    // the operator composes with streaming frames at all, the q92
    // enrichment contract upgraded to temporal correctness)
    // q237: the STREAMED pit enrichment grades against the same batch
    // PIT oracle (batch-split invariance of a per-row stream-static join)
    Query("q237_stream_pit_enrich", PitOracleSql, (s, dir) => {
      val (s1, s2, s3) = scdSnapshots(s, dir)
      import graft.sync.History
      val h = History.scd2Apply(
        History.scd2Apply(History.scd2Init(s1, 1L), s2,
          Seq("o_orderkey"), Seq("o_custkey", "cents"), 2L),
        s3, Seq("o_orderkey"), Seq("o_custkey", "cents"), 3L).localCheckpoint()
      val facts = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
          (col("l_linenumber") % 3 + 1).cast(LongType).as("ver"))
      withTempDir("q237") { tmp =>
        val stream = fileStream(s, facts, 2, s"$tmp/src")
        val enriched = History.pitJoin(stream, h, Seq("o_orderkey"), "ver")
          .select(col("o_orderkey"), col("l_linenumber"), col("ver"),
            coalesce(col("o_custkey").cast(LongType), lit(-1L)).as("custkey_at"),
            coalesce(col("cents"), lit(-1L)).as("cents_at"))
        // file sink + distributed read-back (the q146/q170 serving idiom)
        // instead of a memory sink: at 600k enriched rows the memory sink
        // collects the whole serve to the driver PER BATCH and drainSink
        // collects it AGAIN — guide §5 (the driver does no data work).
        // Same rows either way; the oracle's ORDER BY pins the output.
        enriched.writeStream.format("parquet")
          .option("path", s"$tmp/served")
          .option("checkpointLocation", s"$tmp/sck")
          .trigger(Trigger.AvailableNow()).start()
          .awaitTermination()
        s.read.parquet(s"$tmp/served")
          .orderBy("o_orderkey", "l_linenumber").localCheckpoint()
      }
    }),

    // q238: SENTENCE segmentation — the unit below the document, planted
    // with all three terminators (and ellipsis-attachment exercised by
    // the pattern's [.!?]* tail): maximal non-terminator runs + trailing
    // terminator runs, trimmed, whitespace-only segments dropped with
    // their index skipped. One narrow posexplode; the oracle replays the
    // identical RE2-safe pattern (no lookbehind on either engine)
    // q238: identical planted concat, identical pattern in RE2
    Query("q238_sentences",
      """WITH h AS (SELECT doc_id, substr(text, 1, 50) || '. ' || substr(text, 51, 40) || '? ' || substr(text, 91, 30) || '! tail' AS t2 FROM documents), s AS (SELECT doc_id, regexp_extract_all(t2, '[^.!?]+[.!?]*') AS ss FROM h), e AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS sent_idx, trim(ss[i]) AS sentence FROM s, LATERAL unnest(range(1, len(ss) + 1)) AS u(i)) SELECT doc_id, sent_idx, sentence, CAST(len(sentence) AS BIGINT) AS n_chars FROM e WHERE sentence <> '' ORDER BY doc_id, sent_idx""", (s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(substring(col("text"), 1, 50), lit(". "),
          substring(col("text"), 51, 40), lit("? "),
          substring(col("text"), 91, 30), lit("! tail")).as("t2"))
      TextAnalysis.sentences(planted, "doc_id", "t2")
        .orderBy("doc_id", "sent_idx")
    }),

    // q239: BOILERPLATE-AWARE main-content extraction — the density
    // upgrade of q224's strip-tags WET pass (nav/footer/sidebar text
    // survives a plain strip into the corpus, and cross-doc line dedup
    // q179 only catches the repeated fraction; jusText/Arc90-lineage
    // block scoring drops it per page). Planted per doc: a title and
    // h1 (short -> dropped), a link-only nav bar (888 permille link
    // density -> dropped), two body paragraphs (kept — the second
    // carries a low-density inline anchor whose text must SURVIVE as
    // content), a %4 extra link-free paragraph (varies n_kept), a
    // sidebar link list with a %3 extra item (varies n_blocks), and a
    // short footer. The oracle states the expected kept text outright
    // (the q226 convention), replaying only the whitespace collapse on
    // the planted fragments — block/density decisions are NOT re-run,
    // so the two sides agree only if every rule fires as specified
    // q239: the expected kept blocks stated outright — only the
    // whitespace collapse is replayed (on the planted body fragments);
    // the block segmentation and the length/link-density decisions are
    // independent by construction
    Query("q239_main_content", mainContentOracleSqlOver(""), (s, dir) =>
      tw(s, dir, "documents")
        .select(col("doc_id"),
          graft.text.Html.mainContentReport(mainContentPlantedHtml,
            minChars = 15, maxLinkPermille = 300).as("r"))
        .select(col("doc_id"), col("r.main").as("main"),
          col("r.n_blocks").as("n_blocks"), col("r.n_kept").as("n_kept"))
        .orderBy("doc_id")),

    // q240: CONTINUOUS SCD2 maintenance — the q229 delta log arrives as
    // a STREAM and scd2Ingest folds each micro-batch into the persisted
    // history (upsertSync's temporal form; q237 CONSUMES a history, this
    // finally MAINTAINS one). Two lineage-continuous rounds: batch 0
    // carries versions 1 AND 2 in ONE file (the in-batch ascending fold
    // is load-bearing — two pulls coalesced into one trigger must land
    // interval boundaries exactly as if applied separately), batch 1
    // applies version 3 against the PERSISTED table. The maintained
    // history must equal the batch-applied one under q229's oracle
    // q240: the STREAMED history maintenance grades against the same
    // upsert-SCD2 law (exactly-once skip-or-merge + in-order folds make
    // the maintained table equal the batch-applied history)
    Query("q240_stream_scd2", Scd2UpsertOracleSql, (s, dir) => {
      val (s1, s2, s3) = scdSnapshots(s, dir)
      def delta(cur: DataFrame, prev: DataFrame): DataFrame = {
        val p = prev.select(col("o_orderkey"), col("o_custkey").as("__pc"),
          col("cents").as("__pv")).withColumn("__in", lit(1))
        cur.join(p, Seq("o_orderkey"), "left")
          .filter(col("__in").isNull || !(col("o_custkey") <=> col("__pc"))
            || !(col("cents") <=> col("__pv")))
          .select(col("o_orderkey"), col("o_custkey"), col("cents"))
      }
      val log1 = s1.withColumn("ver", lit(1L))
        .unionByName(delta(s2, s1).withColumn("ver", lit(2L)))
      val log2 = delta(s3, s2).withColumn("ver", lit(3L))
      withTempDir("q240") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/state")
        // one file per round -> one micro-batch per round; the SAME
        // checkpoint across rounds keeps the lineage (the maintained-view
        // family locks state to its checkpoint for life)
        def ingest(log: DataFrame): Unit = {
          log.repartition(1).write.mode("append").parquet(s"$tmp/src")
          IncrementalStream.scd2Ingest(
            s.readStream.schema(log.schema).parquet(s"$tmp/src/*.parquet"),
            store, "history", Seq("o_orderkey"), Seq("o_custkey", "cents"),
            "ver", checkpointDir = s"$tmp/ck").awaitTermination()
        }
        ingest(log1)
        ingest(log2)
        store.read("history").get.drop("__last_batch", "__run")
          .select(col("o_orderkey"), col("o_custkey"), col("cents"),
            col("valid_from"), coalesce(col("valid_to"), lit(0L)).as("valid_to"))
          .orderBy("o_orderkey", "valid_from").localCheckpoint()
      }
    }),

    // q241: VIDEO near-dup — the FIFTH dedup modality (text/image/
    // audio/embedding all had miners; video had scene analysis q228/
    // q231 but no dedup entry): decode -> scene keyframes -> per-video
    // temporal signature (bit i = keyframe i+1 brighter) -> the SAME
    // banded pigeonhole join as q115/q206. Planted: 42 scene patterns
    // x 3 brightness-re-leveled renditions (the plantedVideoMedia
    // walk); renditions pair at Hamming 0, distinct patterns sit >= 4
    // bits apart and must not. Exact-set equality: a constant/broken
    // signature floods false pairs, a noisy one loses renditions —
    // both count as violations
    // q241/q242: planted-construction video pairs (the q115/q206/q209
    // family) — expectations derive from the id arithmetic Spark-side
    Query("q241_video_neardup", InvariantOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast(LongType).as("doc_id"))
        .filter(col("doc_id") < 126)
      val media = plantedVideoMedia(s, docs)
      val pairs = Dedup.videoNearDups(media, thresholdMilli = 15000L, maxHamming = 3)
      parity(plantedVideoPairExpectation(docs), pairs, Seq("id_a", "id_b"))
    }),

    // q242: CONTINUOUS video-dedup ingest — q209/q210's probe-then-
    // append contract on the video fingerprint, completing online
    // ingest dedup across ALL media modalities (text q213, image q209,
    // audio q210, video THIS): two micro-batches stream through
    // packedDupIngest with the videoSignature fingerprinter, the
    // accumulated pair log must equal q241's batch miner, and the
    // persisted index must equal the batch fingerprints (the parity
    // arm catches a gate that leaks degenerate signatures just as hard
    // as a missed pair)
    Query("q242_stream_video_dedup", InvariantOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast(LongType).as("doc_id"))
        .filter(col("doc_id") < 126)
      val media = plantedVideoMedia(s, docs)
      withTempDir("q242") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/idx")
        val stream = fileStream(s, media, 2, s"$tmp/src")
        def fp(b: DataFrame): DataFrame = Multimodal.videoSignature(
            Multimodal.decodeFramesOf(b)(s).toDF(), thresholdMilli = 15000L)
          .filter(col("vsig") =!= 0L && col("vsig") =!= -1L)
        IncrementalStream.packedDupIngest(stream, fp, "doc_id", "vsig",
          maxHamming = 3, store = store, checkpointDir = s"$tmp/ck")
          .awaitTermination()
        val got = store.read("dup_pairs").get
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b")).distinct()
        val pairV = parity(plantedVideoPairExpectation(docs), got, Seq("id_a", "id_b")).head.getLong(0)
        // the parity arm reads the WRITTEN stream source (identical rows)
        // instead of re-encoding every planted AVI a second time
        val sigWant = fp(s.read.parquet(s"$tmp/src"))
        val nSig = sigWant.count()
        val idxV = parity(store.read("fingerprints").get.select(col("doc_id"), col("vsig")),
          sigWant, Seq("doc_id", "vsig"), rows = Some(nSig)).head.getLong(0)
        s.range(1).select(lit(pairV + idxV).as("violations"))
      }
    }),

    // q243: PER-HOST frontier budgeting — q234's exact-dedup gate with
    // the politeness dimension every production frontier adds: a
    // planted hot host (40% of docs, all-distinct URLs) may land at
    // most 10 accepted URLs across BOTH ingest rounds, while sparse
    // one-URL hosts flow untouched. Acceptance is deterministic: the
    // hot host never spans a round's files (host-partitioned writes)
    // and in-batch ranking keeps the lowest ids, so the surviving hot
    // set is exactly the 10 lowest hot ids — stated outright by the
    // oracle with the canonical strings and hosts (the q226 convention)
    // q243: ground truth for the budgeted frontier — every sparse-host
    // row plus exactly the 10 lowest hot-host ids, canonical strings
    // and hosts stated outright (the q226/q234 convention)
    Query("q243_host_frontier_budget",
      "WITH hot AS (SELECT doc_id FROM documents WHERE doc_id % 5 < 2 ORDER BY doc_id LIMIT 10) SELECT doc_id, CASE WHEN doc_id % 5 < 2 THEN 'http://hot.example.com/p/' || CAST(doc_id AS VARCHAR) ELSE 'http://s' || CAST(doc_id AS VARCHAR) || '.example.com/' END AS url_norm, CASE WHEN doc_id % 5 < 2 THEN 'hot.example.com' ELSE 's' || CAST(doc_id AS VARCHAR) || '.example.com' END AS host FROM documents WHERE doc_id % 5 >= 2 OR doc_id IN (SELECT doc_id FROM hot) ORDER BY doc_id", (s, dir) => {
      val docs = t(s, dir, "documents")
      val id = col("doc_id").cast(StringType)
      val url = when(col("doc_id") % 5 < 2,
          concat(lit("http://hot.example.com/p/"), id))
        .otherwise(concat(lit("http://s"), id, lit(".example.com/")))
      val arrivals = docs.select(col("doc_id"), url.as("url"))
      withTempDir("q243") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/state")
        Seq(col("doc_id") < 250, col("doc_id") >= 250).zipWithIndex.foreach {
          case (cond, i) =>
            // partitioned BY HOST CLASS: the hot host never spans the
            // round's two files, so the in-round winners are its lowest
            // ids whichever file the scheduler drains first
            arrivals.filter(cond).repartition(2, col("doc_id") % 5 < 2)
              .write.parquet(s"$tmp/src$i")
            IncrementalStream.frontierGate(
              s.readStream.schema(arrivals.schema)
                .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src$i/*.parquet"),
              "doc_id", "url", store, "seen", checkpointDir = s"$tmp/ck$i",
              maxPerHost = Some(10L)).awaitTermination()
        }
        store.read("seen").get.select(col("doc_id"), col("url_norm"), col("host"))
          .orderBy("doc_id").localCheckpoint()
      }
    }),

    // q244: COMPACTION UNDER SERVING — the tombstone lifecycle's last
    // ungraded step (q194 purges offline, q201/q211/q212/q214 tombstone
    // online, q194 grades compactTombstones' batch form; nothing proved
    // a compaction landing BETWEEN micro-batches of a running gated
    // ingest leaves serving unchanged): batch 1 ingests, the takedown
    // tombstones mid-stream, batch 2 keeps appending (including
    // tombstoned docs' rows), then the COMPACTION lands — physical
    // purge + tombstone clear, the ingest checkpoint lives on — and the
    // in-lambda require pins serve-before == serve-after row-for-row
    // (gated-by-tombstones vs physically-clean must agree at the
    // compaction instant). Batch 3 (survivors only) arrives AFTER the
    // compaction under the live checkpoint: the retry guard filters
    // rows, not files, so it survives the rewrite. Final serve over the
    // compacted index + later appends must equal the from-scratch build
    // over exactly the surviving documents — q194's oracle
    // q244: the same surviving-corpus replay — arrivals are (doc_id % 3
    // in {0,1}) ∪ (doc_id % 3 = 2 AND < 400), the compaction purges
    // >= 400, so the served set is exactly doc_id < 400 (q194's oracle);
    // the serve-unchanged-across-compaction claim is the in-lambda pin
    Query("q244_compaction_under_serving", lineDedupOracleSqlOver(" WHERE doc_id < 400"), (s, dir) => {
      val docs = linePlanted(t(s, dir, "documents"))
      withTempDir("q244") { tmp =>
        val (srcDir, ckDir) = (s"$tmp/src", s"$tmp/ck")
        val store = new graft.sync.ParquetStore(s, s"$tmp/idx")
        def ingestAvailable(): Unit = {
          val stream = s.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*.parquet")
          IncrementalStream.lineIndexIngest(stream, "doc_id", "text",
            store, "lines", checkpointDir = ckDir).awaitTermination()
        }
        def serve(): DataFrame = graft.dedup.Dedup.lineDedupFromIndex(
          graft.sync.Takedown.withoutTombstones(
            store.read("lines").get
              .select(col("doc_id"), col("pos"), col("line")),
            "doc_id", store),
          "doc_id", maxDf = 2)
        docs.filter(col("doc_id") % 3 === 0).repartition(1).write.parquet(srcDir)
        ingestAvailable()
        val added = graft.sync.Takedown.tombstone(store,
          docs.filter(col("doc_id") >= 400).select(col("doc_id")))
        require(added > 0L, "q244: the tombstone must actually record ids")
        docs.filter(col("doc_id") % 3 === 1).repartition(1)
          .write.mode("append").parquet(srcDir)
        ingestAvailable()
        val pre = serve().localCheckpoint()
        val removed = graft.sync.Takedown.compactTombstones(store,
          Seq("lines" -> "doc_id"))
        require(removed.exists(_._2 > 0L),
          "q244: the compaction must actually purge index rows")
        require(store.read("tombstones").get.count() == 0L,
          "q244: the compaction must clear the tombstone table")
        val post = serve()
        val drift = pre.withColumn("__a", lit(1))
          .join(post.withColumn("__b", lit(1)),
            Seq("doc_id", "text_clean", "n_kept", "n_dropped"), "full_outer")
          .filter(col("__a").isNull || col("__b").isNull).count()
        require(drift == 0L,
          s"q244: serving changed across the compaction ($drift rows differ)")
        graft.Checkpoints.release(pre)
        docs.filter(col("doc_id") % 3 === 2 && col("doc_id") < 400).repartition(1)
          .write.mode("append").parquet(srcDir)
        ingestAvailable()
        serve().orderBy("doc_id").localCheckpoint()
      }
    }),

    // q245: streamed CDC history maintenance — q240's upsert-only feed
    // upgraded with DELETE events (the upsert + applyDeletes pairing,
    // temporal form): each snapshot's change set arrives as upserts
    // plus explicit deletes for vanished keys, and because explicit
    // deletes replicate close-on-absence exactly, the maintained
    // history must equal the batch FULL-snapshot apply chain — q222's
    // island oracle, the strongest cross-formulation the family has.
    // Batch 0 carries versions 1+2 (inserts, changes, AND deletes in
    // one trigger); batch 1 applies version 3 on the persisted table
    // q245: the streamed CDC ingest (upserts + explicit deletes) grades
    // against the SAME full-snapshot history law — CDC events replicate
    // scd2Apply's close-on-absence exactly when deletes are explicit
    Query("q245_stream_scd2_cdc", Scd2FullHistoryOracleSql, (s, dir) => {
      val (s1, s2, s3) = scdSnapshots(s, dir)
      def ups(cur: DataFrame, prev: DataFrame): DataFrame = {
        val p = prev.select(col("o_orderkey"), col("o_custkey").as("__pc"),
          col("cents").as("__pv")).withColumn("__in", lit(1))
        cur.join(p, Seq("o_orderkey"), "left")
          .filter(col("__in").isNull || !(col("o_custkey") <=> col("__pc"))
            || !(col("cents") <=> col("__pv")))
          .select(col("o_orderkey"), col("o_custkey"), col("cents"))
      }
      def dels(prev: DataFrame, cur: DataFrame): DataFrame =
        prev.select(col("o_orderkey"))
          .join(cur.select(col("o_orderkey").as("__k")),
            col("o_orderkey") === col("__k"), "left_anti")
          .select(col("o_orderkey"), lit(null).cast(LongType).as("o_custkey"),
            lit(null).cast(LongType).as("cents"))
      def stamp(df: DataFrame, ver: Long, op: String): DataFrame =
        df.withColumn("ver", lit(ver)).withColumn("op", lit(op))
      val log1 = stamp(s1, 1L, "u")
        .unionByName(stamp(ups(s2, s1), 2L, "u"))
        .unionByName(stamp(dels(s1, s2), 2L, "d"))
      val log2 = stamp(ups(s3, s2), 3L, "u")
        .unionByName(stamp(dels(s2, s3), 3L, "d"))
      withTempDir("q245") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/state")
        def ingest(log: DataFrame): Unit = {
          log.repartition(1).write.mode("append").parquet(s"$tmp/src")
          IncrementalStream.scd2Ingest(
            s.readStream.schema(log.schema).parquet(s"$tmp/src/*.parquet"),
            store, "history", Seq("o_orderkey"), Seq("o_custkey", "cents"),
            "ver", checkpointDir = s"$tmp/ck", opCol = Some("op"))
            .awaitTermination()
        }
        ingest(log1)
        ingest(log2)
        store.read("history").get.drop("__last_batch", "__run")
          .select(col("o_orderkey"), col("o_custkey"), col("cents"),
            col("valid_from"), coalesce(col("valid_to"), lit(0L)).as("valid_to"))
          .orderBy("o_orderkey", "valid_from").localCheckpoint()
      }
    }),

    // q246: the extraction gate DEPLOYED — raw HTML pages stream across
    // two micro-batches through mainContentGate: pages keeping fewer
    // than minKept = 3 content blocks (here: everything except the %4
    // docs carrying the extra link-free paragraph) are dropped AT THE
    // GATE — nav shells never enter the corpus — and survivors'
    // extracted rows accumulate under the retry guard. Stateless per
    // batch, so the log equals the batch extraction restricted to the
    // keepers under the SAME planted-page oracle (the q173 contract for
    // the extraction stage)
    // q246: the gate keeps exactly the minKept=3 pages — the %4 docs
    // carrying the extra link-free paragraph — under the same planted
    // CTE; everything else must be absent from the accumulated log
    Query("q246_stream_main_content", mainContentOracleSqlOver(" WHERE doc_id % 4 = 0"), (s, dir) => {
      val pages = t(s, dir, "documents")
        .select(col("doc_id"), mainContentPlantedHtml.as("page"))
      withTempDir("q246") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/out")
        IncrementalStream.mainContentGate(fileStream(s, pages, 2, s"$tmp/src"),
          "doc_id", "page", store, "extracted", checkpointDir = s"$tmp/ck",
          minChars = 15, maxLinkPermille = 300, minKept = 3)
          .awaitTermination()
        store.read("extracted").get
          .select(col("doc_id"), col("main"), col("n_blocks"), col("n_kept"))
          .orderBy("doc_id").localCheckpoint()
      }
    }),

    // q247: ONLINE takedown through the PACKED-FINGERPRINT family — the
    // q211/q212/q214 tombstone contract on the last at-read-served
    // index family (media dup logs): the planted image corpus streams
    // into the fingerprint index + pair log across two micro-batches
    // (group twins SPLIT across the rounds, so every pair is a cross
    // probe), docs >= 401 tombstone BETWEEN them (their odd twins
    // arrive AFTER — the gate must erase pairs discovered post-
    // tombstone too; the ODD boundary makes pair (400, 401) STRADDLE
    // the cut, so single-side gating cannot pass), and serving
    // anti-joins tombstones on BOTH pair sides (a dup pair is evidence
    // about both documents) plus the sig table: served pairs must
    // equal the batch miner over exactly the surviving corpus, and no
    // tombstoned fingerprint may serve
    // q247: planted-construction erasure over the fingerprint family —
    // expectations derive from the id arithmetic Spark-side (q211's
    // contract in the q209 violations form)
    Query("q247_takedown_media_index", InvariantOracleSql, (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id").cast(LongType).as("doc_id"))
      withTempDir("q247") { tmp =>
        val (srcDir, ckDir) = (s"$tmp/src", s"$tmp/ck")
        val store = new graft.sync.ParquetStore(s, s"$tmp/idx")
        def fp(b: DataFrame): DataFrame = Multimodal.dhashImages(b)(s).toDF()
          .filter(col("phash") =!= 0L && col("phash") =!= -1L)
        val schema = plantedImageMedia(s, docs.limit(1)).schema
        def ingestAvailable(): Unit = {
          val stream = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*.parquet")
          IncrementalStream.packedDupIngest(stream, fp, "doc_id", "phash",
            maxHamming = 3, store = store, checkpointDir = ckDir)
            .awaitTermination()
        }
        // filter BEFORE the encoder: the parity predicate cannot push
        // below the opaque mapPartitions, so filtering the doc list is
        // what keeps each round from encoding (and discarding) the
        // whole corpus
        plantedImageMedia(s, docs.filter(col("doc_id") % 2 === 0))
          .repartition(1).write.parquet(srcDir)
        ingestAvailable()
        // ODD boundary: pair (400, 401) STRADDLES the tombstone cut, so
        // single-side gating (either direction) would serve it — the
        // either-side rule is graded, not just unit-pinned
        val added = graft.sync.Takedown.tombstone(store,
          docs.filter(col("doc_id") >= 401).select(col("doc_id")))
        require(added > 0L, "q247: the tombstone must actually record ids")
        plantedImageMedia(s, docs.filter(col("doc_id") % 2 === 1))
          .repartition(1).write.mode("append").parquet(srcDir)
        ingestAvailable()
        val served = graft.sync.Takedown.withoutTombstonesAny(
            store.read("dup_pairs").get.select(col("id_a"), col("id_b")),
            Seq("id_a", "id_b"), store)
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b")).distinct()
        val pairV = parity(plantedPairExpectation(docs.filter(col("doc_id") <= 400)),
          served, Seq("id_a", "id_b")).head.getLong(0)
        // the gated sig table must serve NO tombstoned fingerprint
        val sigV = graft.sync.Takedown.withoutTombstones(
            store.read("fingerprints").get.select(col("doc_id")), "doc_id", store)
          .filter(col("doc_id") >= 401).count()
        s.range(1).select(lit(pairV + sigV).as("violations"))
      }
    }),

    // q248: HISTORY retention pruning — the governance pass a long-lived
    // SCD2 table eventually needs ("keep two years of versions"):
    // intervals that ENDED at or before the horizon drop, and every
    // read at or after it is row-identical across the prune (an
    // interval such a read touches ends past the horizon by definition
    // — pinned in-lambda for asOf(2) and asOf(3)); reads below the
    // horizon become incomplete BY DESIGN. Oracle: the q222 island law
    // with closed-before-horizon islands filtered out
    // q248: the island law with closed-before-horizon islands dropped —
    // valid_to = 0 (open) or > 2 means max_ver >= 2 in island terms; a
    // drifted base string would no-op the replace and fail the gate
    Query("q248_history_retention", Scd2FullHistoryOracleSql.replace(
      "WHERE present = 1 ORDER BY", "WHERE present = 1 AND max_ver >= 2 ORDER BY"), (s, dir) => {
      val (s1, s2, s3) = scdSnapshots(s, dir)
      import graft.sync.History
      val h = History.scd2Apply(
        History.scd2Apply(History.scd2Init(s1, 1L), s2,
          Seq("o_orderkey"), Seq("o_custkey", "cents"), 2L),
        s3, Seq("o_orderkey"), Seq("o_custkey", "cents"), 3L).localCheckpoint()
      val pruned = History.retainSince(h, 2L).localCheckpoint()
      for (v <- Seq(2L, 3L)) {
        val drift = History.asOf(h, v).withColumn("__a", lit(1))
          .join(History.asOf(pruned, v).withColumn("__b", lit(1)),
            Seq("o_orderkey", "o_custkey", "cents"), "full_outer")
          .filter(col("__a").isNull || col("__b").isNull).count()
        require(drift == 0L, s"q248: asOf($v) changed across the prune ($drift rows)")
      }
      graft.Checkpoints.release(h)
      pruned.select(col("o_orderkey"), col("o_custkey"), col("cents"),
          col("valid_from"), coalesce(col("valid_to"), lit(0L)).as("valid_to"))
        .orderBy("o_orderkey", "valid_from")
    }),

    // q249: the MAINTAINED history SERVES — the q245 ∘ q237 composition
    // closing the family's last asymmetry (q240/q245 maintain histories,
    // q237 consumes a BATCH-built one; nothing consumed a maintained
    // one): the CDC delta log streams into the persisted history across
    // two lineage-continuous rounds (upserts + explicit deletes =
    // full-snapshot semantics), then the fact stream enriches against
    // the maintained table via stream-static pitJoin. The whole
    // composition grades against the batch PIT law (PitOracleSql — per
    // fact, a join against snapshot ver), so a drifted interval
    // ANYWHERE in the maintenance chain surfaces as an enrichment
    // mismatch, including gap facts (keys deleted at v2 resolve NULL)
    // q249: the q245-maintained CDC history serving q237's enrichment —
    // the SAME batch PIT law grades the whole maintenance-then-serve
    // composition (explicit deletes replicate full-snapshot semantics,
    // so the maintained intervals must land exactly where scd2Apply's do)
    Query("q249_stream_pit_maintained", PitOracleSql, (s, dir) => {
      val (s1, s2, s3) = scdSnapshots(s, dir)
      def ups(cur: DataFrame, prev: DataFrame): DataFrame = {
        val p = prev.select(col("o_orderkey"), col("o_custkey").as("__pc"),
          col("cents").as("__pv")).withColumn("__in", lit(1))
        cur.join(p, Seq("o_orderkey"), "left")
          .filter(col("__in").isNull || !(col("o_custkey") <=> col("__pc"))
            || !(col("cents") <=> col("__pv")))
          .select(col("o_orderkey"), col("o_custkey"), col("cents"))
      }
      def dels(prev: DataFrame, cur: DataFrame): DataFrame =
        prev.select(col("o_orderkey"))
          .join(cur.select(col("o_orderkey").as("__k")),
            col("o_orderkey") === col("__k"), "left_anti")
          .select(col("o_orderkey"), lit(null).cast(LongType).as("o_custkey"),
            lit(null).cast(LongType).as("cents"))
      def stamp(df: DataFrame, ver: Long, op: String): DataFrame =
        df.withColumn("ver", lit(ver)).withColumn("op", lit(op))
      val log1 = stamp(s1, 1L, "u")
        .unionByName(stamp(ups(s2, s1), 2L, "u"))
        .unionByName(stamp(dels(s1, s2), 2L, "d"))
      val log2 = stamp(ups(s3, s2), 3L, "u")
        .unionByName(stamp(dels(s2, s3), 3L, "d"))
      withTempDir("q249") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/state")
        def ingest(log: DataFrame): Unit = {
          log.repartition(1).write.mode("append").parquet(s"$tmp/dsrc")
          IncrementalStream.scd2Ingest(
            s.readStream.schema(log.schema).parquet(s"$tmp/dsrc/*.parquet"),
            store, "history", Seq("o_orderkey"), Seq("o_custkey", "cents"),
            "ver", checkpointDir = s"$tmp/dck", opCol = Some("op"))
            .awaitTermination()
        }
        ingest(log1)
        ingest(log2)
        // the maintained table, read back under the family's contract
        // (drop the two stamps), pinned for the serving stream
        val h = store.read("history").get
          .drop("__last_batch", "__run").localCheckpoint()
        val facts = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
            (col("l_linenumber") % 3 + 1).cast(LongType).as("ver"))
        val stream = fileStream(s, facts, 2, s"$tmp/fsrc")
        val enriched = graft.sync.History.pitJoin(stream, h, Seq("o_orderkey"), "ver")
          .select(col("o_orderkey"), col("l_linenumber"), col("ver"),
            coalesce(col("o_custkey").cast(LongType), lit(-1L)).as("custkey_at"),
            coalesce(col("cents"), lit(-1L)).as("cents_at"))
        // file sink + distributed read-back (the q146/q170 serving idiom)
        // instead of a memory sink — q237's rationale: the memory sink
        // collects the 600k-row serve to the driver per batch and
        // drainSink collects it again (guide §5)
        enriched.writeStream.format("parquet")
          .option("path", s"$tmp/served")
          .option("checkpointLocation", s"$tmp/sck")
          .trigger(Trigger.AvailableNow()).start()
          .awaitTermination()
        s.read.parquet(s"$tmp/served")
          .orderBy("o_orderkey", "l_linenumber").localCheckpoint()
      }
    }),

    // q250: crawl-to-corpus curation END-TO-END — the verdict-mandated
    // composition of the extraction stage with the curation pipeline:
    // raw planted HTML -> main-content extraction (boilerplate dropped
    // per page) -> token counting over the EXTRACTED text -> a
    // length-threshold quality keep -> the per-source corpus report a
    // release publishes (docs in, docs kept, kept token mass). Short
    // documents genuinely fail the keep at every SF (their body
    // fragments run out), so the filter is non-vacuous; the oracle
    // replays the arithmetic over the shared planted CTE — a drift in
    // ANY stage (block rules, entity decode, collapse, tokenization,
    // threshold) lands in the source totals
    // q250: the per-source curation report replayed over the shared
    // planted CTE — token counts on the EXTRACTED text, q17's pattern
    Query("q250_web_curation",
      (mainContentPlantedCte("") +
        ", tk AS (SELECT source, CAST(len(regexp_extract_all(lower(main), '[a-z0-9]+')) AS BIGINT) AS n FROM m) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(count(CASE WHEN n >= 25 THEN 1 END) AS BIGINT) AS n_kept, " +
        "CAST(coalesce(sum(CASE WHEN n >= 25 THEN n END), 0) AS BIGINT) AS kept_tokens " +
        "FROM tk GROUP BY source ORDER BY source"), (s, dir) => {
      val extracted = tw(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          graft.text.Html.mainContent(mainContentPlantedHtml,
            minChars = 15, maxLinkPermille = 300).as("main"))
        .withColumn("n_tokens",
          size(TextAnalysis.tokens(col("main"))).cast(LongType))
      extracted.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          count(when(col("n_tokens") >= 25, 1)).as("n_kept"),
          coalesce(sum(when(col("n_tokens") >= 25, col("n_tokens"))), lit(0L))
            .as("kept_tokens"))
        .orderBy("source")
    }),

    // q251: WARC container record reader — the crawl interchange format
    // (ISO 28500) split into records by sources.Warc's CRLF chunk
    // walker. Per doc one planted file: warcinfo (no URI), a MALFORMED
    // record missing Content-Length (%7), a request (%5), 1 + id%3
    // response records whose payloads slice the document text through
    // the SAME Spark substring the oracle replays in substr, and a
    // LYING-length tail record (%11); even ids pack gzip-member-per-
    // record (the .warc.gz wire format), odd ids stay plain with junk
    // bytes between records. Fixed-offset parsing cannot pass: junk,
    // malformed and lying records consume no rec_index, and the %5/%3
    // moduli shift every record's offset per file. The oracle states
    // rec_index/url/payload arithmetic outright from doc_id
    // q251: the well-formed response records stated outright from
    // doc_id — rec_index arithmetic encodes which hazard records
    // consume no index (warcinfo always at 0; the %7 malformed and the
    // %11 lying-length records never count; the %5 request shifts
    // responses by one); payload text replays the same substr slices
    Query("q251_warc_records",
      ("WITH e AS (SELECT doc_id, text, CAST(u.i AS BIGINT) AS i FROM documents, " +
        "LATERAL unnest(range(0, doc_id % 3 + 1)) AS u(i)) " +
        "SELECT doc_id, " +
        "CAST(1 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END + i AS BIGINT) AS rec_index, " +
        "'http://ex.org/' || CAST(doc_id AS VARCHAR) || '/r' || CAST(i AS VARCHAR) AS url, " +
        "'P ' || CAST(doc_id AS VARCHAR) || ' ' || CAST(i AS VARCHAR) || ' ' || " +
        "substr(text, CAST(1 + i * 40 AS INT), 40) AS text " +
        "FROM e ORDER BY doc_id, rec_index"), (s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val payloads = tw(s, dir, "documents").select(
        col("doc_id").cast(LongType).as("doc_id"),
        transform(sequence(lit(0L), col("doc_id") % 3), i =>
          concat(lit("P "), col("doc_id").cast(StringType), lit(" "),
            i.cast(StringType), lit(" "),
            col("text").substr((lit(1L) + i * 40L).cast(IntegerType),
              lit(40)))).as("ps"))
      // ONE wire-framing builder (Warc.record/gzipMember) shared by this
      // planted corpus, q252's, and WarcSpec — the mjpegCorpus convention
      val files = payloads.as[(Long, Seq[String])].mapPartitions { it =>
        val UTF8 = java.nio.charset.StandardCharsets.UTF_8
        import graft.sources.Warc.{gzipMember, record}
        it.map { case (id, ps) =>
          val members = Seq(record("warcinfo", None, "graft-crawler".getBytes(UTF8))) ++
            (if (id % 7 == 0)
              Seq("WARC/1.0\r\nWARC-Type: broken\r\n\r\n".getBytes(UTF8))
             else Seq.empty) ++
            (if (id % 5 == 0)
              Seq(record("request", Some(s"http://ex.org/$id/r0"), s"GET /$id".getBytes(UTF8)))
             else Seq.empty) ++
            ps.zipWithIndex.map { case (p, i) =>
              record("response", Some(s"http://ex.org/$id/r$i"), p.getBytes(UTF8)) } ++
            (if (id % 11 == 0)
              Seq(("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: lie\r\n" +
                "Content-Length: 999999\r\n\r\nstub").getBytes(UTF8))
             else Seq.empty)
          val bytes =
            if (id % 2 == 0) members.map(gzipMember).reduce(_ ++ _)
            else members.reduce((a, b) => a ++ "NOISE-BETWEEN\r\n".getBytes(UTF8) ++ b)
          (id, bytes)
        }
      }.toDF("file_id", "content")
      // no url/lie filter: if the walker ever ADMITTED the lying-length
      // tail record, its row would surface here and break the oracle
      graft.sources.Warc.records(files)
        .filter(_.warc_type == "response")
        .map(r => (r.file_id, r.rec_index, r.url,
          new String(r.payload, java.nio.charset.StandardCharsets.UTF_8)))
        .toDF("doc_id", "rec_index", "url", "text")
        .orderBy("doc_id", "rec_index")
    }),

    // q252: crawl-dump-to-corpus — the q250 curation composed over the
    // ACTUAL interchange format: each planted q239 page ships as the
    // response payload of its own .warc.gz (gzip %2, plain+junk
    // otherwise, warcinfo + %5 request hazards in every file), and —
    // round 18 — every response payload is a REAL `application/http`
    // message (status line + headers + CRLFCRLF + body, what CommonCrawl
    // actually stores): a reader that does not strip the envelope leaks
    // header text into the first extracted block and the token mass
    // breaks the oracle. Per %3 a 404 error page and per %4 a 200
    // text/plain sibling record ride the same file, so the
    // status-200 + text/html admission filter is itself graded (an
    // unfiltered reader doubles those files' doc counts).
    // Warc.responseText reopens the corpus, main-content extraction +
    // token-threshold keep + the per-source release report run on what
    // came OUT of the container. Graded by the exact q250 oracle — any
    // byte lost or gained in the WARC+HTTP round trip lands in the token
    // mass of some source
    // q252: the q250 per-source curation report — the WARC round trip
    // must be byte-transparent, so the EXACT q250 oracle grades it
    Query("q252_warc_curation",
      (mainContentPlantedCte("") +
        ", tk AS (SELECT source, CAST(len(regexp_extract_all(lower(main), '[a-z0-9]+')) AS BIGINT) AS n FROM m) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(count(CASE WHEN n >= 25 THEN 1 END) AS BIGINT) AS n_kept, " +
        "CAST(coalesce(sum(CASE WHEN n >= 25 THEN n END), 0) AS BIGINT) AS kept_tokens " +
        "FROM tk GROUP BY source ORDER BY source"), (s, dir) => {
      implicit val sp: SparkSession = s
      val docs = tw(s, dir, "documents")
      val files = warcCurationFiles(s, dir)
      val corpus = graft.sources.Warc.responseText(files)
        .filter(col("http_status") === 200 && col("content_type") === "text/html")
        .select(col("file_id").as("doc_id"), col("text").as("page"))
      val extracted = corpus
        .join(docs.select(col("doc_id").cast(LongType).as("doc_id"), col("source")),
          Seq("doc_id"))
        .select(col("doc_id"), col("source"),
          graft.text.Html.mainContent(col("page"),
            minChars = 15, maxLinkPermille = 300).as("main"))
        .withColumn("n_tokens",
          size(TextAnalysis.tokens(col("main"))).cast(LongType))
      extracted.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          count(when(col("n_tokens") >= 25, 1)).as("n_kept"),
          coalesce(sum(when(col("n_tokens") >= 25, col("n_tokens"))), lit(0L))
            .as("kept_tokens"))
        .orderBy("source")
    }),

    // q253: SEMANTIC decontamination — the paraphrase-shaped benchmark
    // overlap q49's 13-grams cannot see, caught in embedding space.
    // Benchmark = vec_id < 100; corpus = the organic tail (expected
    // clean — this dataset's cross-pair cosines sit far below 0.95, the
    // q128 margin precedent) + PLANTED paraphrase twins (benchmark
    // vectors scaled 1.5x, cosine exactly 1 — scale-invariance is the
    // point) + negated benchmark vectors (cosine -1, must NOT flag: a
    // sign bug or abs() would catch them). The benchmark side
    // broadcasts; the corpus scans once and never shuffles. Oracle:
    // brute-force cosine membership in DuckDB
    // q253/q254: brute-force cosine membership of the constructed corpus
    // against the benchmark set (the q128 float-margin precedent: planted
    // twins at cosine 1, negations at -1, organic pairs far from 0.95)
    Query("q253_embed_decontaminate", EmbedDecontaminateOracleSql, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val benchmark = emb.filter(col("vec_id") < 100)
      val corpus = emb.filter(col("vec_id") >= 100)
        .select(col("vec_id"), col("embedding"))
        .unionByName(emb.filter(col("vec_id") < 50)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding"), x => x * lit(1.5f)).as("embedding")))
        .unionByName(emb.filter(col("vec_id") >= 50 && col("vec_id") < 75)
          .select((col("vec_id") + 2000000L).as("vec_id"),
            transform(col("embedding"), x => -x).as("embedding")))
      Decontaminate.embedContaminatedIds(corpus, benchmark,
          "vec_id", "embedding", threshold = 0.95)
        .orderBy("vec_id")
    }),

    // q254: the q253 gate DEPLOYED — the same corpus arrives as a stream
    // in two micro-batches, each probed against the broadcast benchmark
    // at arrival, flags accumulating exactly-once under the lineage-
    // stamped guard; graded by the SAME brute-force oracle (the flag log
    // is batch-partitioning-invariant by construction)
    Query("q254_stream_embed_decon_gate", EmbedDecontaminateOracleSql, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val benchmark = emb.filter(col("vec_id") < 100)
      val corpus = emb.filter(col("vec_id") >= 100)
        .select(col("vec_id"), col("embedding"))
        .unionByName(emb.filter(col("vec_id") < 50)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding"), x => x * lit(1.5f)).as("embedding")))
        .unionByName(emb.filter(col("vec_id") >= 50 && col("vec_id") < 75)
          .select((col("vec_id") + 2000000L).as("vec_id"),
            transform(col("embedding"), x => -x).as("embedding")))
      withTempDir("q254") { tmp =>
        val (srcDir, ckDir, outDir) = (s"$tmp/src", s"$tmp/ck", s"$tmp/out")
        val stream = fileStream(s, corpus, 2, srcDir)
        val store = new graft.sync.ParquetStore(s, outDir)
        IncrementalStream.embedContaminationGate(stream, benchmark,
          "vec_id", "embedding", threshold = 0.95, store, "flags",
          checkpointDir = ckDir).awaitTermination()
        store.read("flags").get.select(col("vec_id"))
          .orderBy("vec_id").localCheckpoint()
      }
    }),

    // q255: embedding-cluster-balanced curation — the SemDeDup-adjacent
    // diversity stage: assign to fixed one-hot centroids (stated, so the
    // oracle can replay the ASSIGNMENT — argmax over the first four
    // coordinates with the lowest-cid tie-break, exactly
    // assignToCentroid's negcos/cid struct least), then cap each cluster
    // at 600 by vec_id. A planted topic flood (every vec_id echoed at
    // +1000000 as a pure e0 vector scaled 1 + id%7 — scale cannot change
    // the argmax) makes cluster 0 dominant at every SF; the cap
    // flattens it exactly while the organic clusters (~n/4 rows each)
    // pass through whole. The assignment is numCentroids scalar
    // expressions per row — no shuffle; the cap is capPerKey's one
    // keyed window
    Query("q255_cluster_balance",
      ("WITH org AS (SELECT vec_id, CASE " +
        "WHEN embedding[1] >= embedding[2] AND embedding[1] >= embedding[3] AND embedding[1] >= embedding[4] THEN 0 " +
        "WHEN embedding[2] >= embedding[3] AND embedding[2] >= embedding[4] THEN 1 " +
        "WHEN embedding[3] >= embedding[4] THEN 2 ELSE 3 END AS cluster FROM embeddings), " +
        "fl AS (SELECT vec_id + 1000000 AS vec_id, 0 AS cluster FROM embeddings), " +
        "u AS (SELECT * FROM org UNION ALL SELECT * FROM fl), " +
        "r AS (SELECT vec_id, cluster, row_number() OVER (PARTITION BY cluster ORDER BY vec_id) AS rn FROM u) " +
        "SELECT vec_id, CAST(cluster AS INT) AS cluster FROM r WHERE rn <= 600 " +
        "ORDER BY cluster, vec_id"), (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = (0 until 4).map(d =>
        (d, Array.tabulate(64)(i => if (i == d) 1.0f else 0.0f))).toArray
      val flood = emb.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(sequence(lit(0), lit(63)), i =>
          when(i === 0, (col("vec_id") % 7 + 1).cast(FloatType))
            .otherwise(lit(0.0f))).as("embedding"))
      val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(flood)
      graft.operators.Sampling.clusterCap(corpus, "vec_id", "embedding",
          cents, n = 600)
        .select(col("vec_id"), col("cluster"))
        .orderBy("cluster", "vec_id")
    }),

    // q257: the RATE-based half of cluster balancing — q255's hard cap
    // swapped for q137's temperature flattening, keyed on the SAME
    // stated-centroid assignment: per-cluster counts through
    // sqrt(n_c/n_max) give the alpha=0.5 rebalance rates a mixture
    // sampler consumes (the planted flood's cluster 0 rates at exactly
    // 1.0; sparse clusters upweight). Bit-exact cross-engine: integer
    // counts through correctly-rounded divide + sqrt (the q137
    // determinism contract), assignment replayed as the one-hot argmax
    // q257: the same replayed assignment feeding q137's bit-exact
    // count/divide/sqrt pipeline, per cluster
    Query("q257_cluster_temperature",
      ("WITH org AS (SELECT vec_id, CASE " +
        "WHEN embedding[1] >= embedding[2] AND embedding[1] >= embedding[3] AND embedding[1] >= embedding[4] THEN 0 " +
        "WHEN embedding[2] >= embedding[3] AND embedding[2] >= embedding[4] THEN 1 " +
        "WHEN embedding[3] >= embedding[4] THEN 2 ELSE 3 END AS cluster FROM embeddings), " +
        "fl AS (SELECT vec_id + 1000000 AS vec_id, 0 AS cluster FROM embeddings), " +
        "u AS (SELECT * FROM org UNION ALL SELECT * FROM fl), " +
        "c AS (SELECT cluster, count(*) AS n FROM u GROUP BY cluster) " +
        "SELECT CAST(cluster AS INT) AS cluster, CAST(n AS BIGINT) AS n_docs, " +
        "sqrt(CAST(n AS DOUBLE) / (SELECT CAST(max(n) AS DOUBLE) FROM c)) AS rate " +
        "FROM c ORDER BY cluster"), (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = (0 until 4).map(d =>
        (d, Array.tabulate(64)(i => if (i == d) 1.0f else 0.0f))).toArray
      val flood = emb.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(sequence(lit(0), lit(63)), i =>
          when(i === 0, (col("vec_id") % 7 + 1).cast(FloatType))
            .otherwise(lit(0.0f))).as("embedding"))
      val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(flood)
      val assigned = Similarity.assignToCentroid(corpus, "embedding", cents)
        .withColumnRenamed("__centroid", "cluster")
      Sampling.temperatureRates(assigned, "cluster").orderBy("cluster")
    }),

    // q258: RFC 9309 robots gate — the politeness decision a crawl
    // frontier consults before admitting a URL: parse planted per-host
    // robots.txt (star + named-agent groups, accumulated UA lines,
    // comments, an agent-specific group that must ECLIPSE the host's *
    // group, * wildcards and the trailing $ anchor) and decide every
    // planted URL by longest-match-allow-wins-ties. Rules collect once
    // (|hosts|-bounded) and ride the codegen'd RobotsDecision expression
    // with per-executor precompiled patterns — the URL side is a pure
    // narrow projection, no join at all. The oracle states every
    // decision outright from the (host, path) moduli
    // q255: the assignment replayed in SQL (argmax over the first four
    // coordinates, >= gives the lowest-cid tie-break; the one-hot
    // centroids make dot = the coordinate itself on BOTH engines), the
    // flood's cluster stated (a positive e0 multiple is cluster 0 by
    // construction), the cap replayed as a row_number
    // q258/q259: every robots decision stated outright from the planted
    // (host, path) moduli — h0 blocks /private, h1's named-agent group
    // eclipses its * group (only /public survives), h2 blocks the $-
    // anchored pdf wildcard, h3 has no robots at all, h4's only group
    // names another agent (no rules apply), h5 is the longest-match law
    // (/a/b allowed under a /a disallow), h6's accumulated-UA group
    // blocks /doc; q259 additionally restricts to the admitted rows
    // (distinct canonicals, so frontier admission = allowance)
    Query("q258_robots_gate",
      (RobotsPlantedCte +
        " SELECT doc_id, 'h' || CAST(h AS VARCHAR) || '.example.com' AS host, path, " +
        "CAST(" + RobotsAllowedCase + " AS BIGINT) AS allowed FROM u ORDER BY doc_id"), (s, dir) => {
      val rules = graft.operators.Robots.parse(robotsPlantedTxt(s),
        "host", "robots_txt", agent = "GraftBot")
      val urls = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("h"), (col("doc_id") % 7).cast(StringType),
          lit(".example.com")).as("host"),
        robotsPlantedPath.as("path"))
      graft.operators.Robots.isAllowed(urls, rules, "host", "path")
        .select(col("doc_id"), col("host"), col("path"),
          // LONG 0/1 for cross-engine schema stability (the convention
          // every graded boolean-ish column follows)
          col("allowed").cast(LongType).as("allowed"))
        .orderBy("doc_id")
    }),

    // q259: the robots gate DEPLOYED in front of the frontier — the
    // full crawl admission chain (politeness THEN dedup/budget): the
    // planted URL stream filters through the codegen'd RobotsDecision
    // expression (rules as a plan literal, stateless per row) before
    // frontierGate's canonical seen-set admission; only allowed URLs
    // ever reach the frontier state. Oracle: the q258 decision CASE
    // restricted to the admitted rows (all planted URLs are distinct
    // canonicals, so admission = allowance)
    Query("q259_stream_robots_frontier",
      (RobotsPlantedCte +
        " SELECT doc_id, 'http://h' || CAST(h AS VARCHAR) || '.example.com' || path AS url_norm, " +
        "'h' || CAST(h AS VARCHAR) || '.example.com' AS host " +
        "FROM u WHERE " + RobotsAllowedCase + " ORDER BY doc_id"), (s, dir) => {
      val rules = graft.operators.Robots.parse(robotsPlantedTxt(s),
        "host", "robots_txt", agent = "GraftBot")
      val urls = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("http://h"), (col("doc_id") % 7).cast(StringType),
          lit(".example.com"), robotsPlantedPath).as("url"))
      withTempDir("q259") { tmp =>
        val stream = fileStream(s, urls, 2, s"$tmp/src")
        // politeness first: host/path derived from the raw URL, the
        // broadcast rules decide, only survivors reach the frontier
        val polite = graft.operators.Robots.filterAllowed(
          stream
            .withColumn("host", regexp_extract(col("url"), "^http://([^/]+)", 1))
            .withColumn("path", regexp_extract(col("url"), "^http://[^/]+(/.*)$", 1)),
          rules, "host", "path")
          .select(col("doc_id"), col("url"))
        val store = new graft.sync.ParquetStore(s, s"$tmp/out")
        IncrementalStream.frontierGate(polite, "doc_id", "url", store, "seen",
          checkpointDir = s"$tmp/ck").awaitTermination()
        store.read("seen").get
          .select(col("doc_id"), col("url_norm"), col("host"))
          .orderBy("doc_id").localCheckpoint()
      }
    }),

    // q260: the HTTP message envelope inside WARC response records —
    // what real crawl archives (CommonCrawl) actually store as
    // `application/http; msgtype=response` payloads. Every planted
    // payload is status line + headers + CRLFCRLF + body; the reader
    // must strip the envelope (headers never in text), surface the
    // status (404 per %7) and the bare mime (html/plain per %4), and
    // decode by the DECLARED charset: %4==0 bodies are ISO-8859-1
    // bytes whose 'café' marker is an invalid UTF-8 sequence (a
    // UTF-8-assuming reader emits U+FFFD and fails), the other
    // branches are UTF-8 (quoted+mixed-case charset param, no param,
    // unknown param → the documented fallback — a Latin-1-assuming
    // reader fails THOSE with 'cafÃ©'). Per %9 the terminator is bare
    // LFLF (lenient-server tolerance); per %10==9 the message has NO
    // terminator — all envelope, text must be EMPTY, never raw
    // headers. Per %6==1 the body ships under Transfer-Encoding:
    // chunked (7-byte chunks, one chunk extension) and per %8==5 under
    // Content-Encoding: gzip — raw captures keep the wire bytes, so a
    // reader that does not dechunk leaks hex framing lines into text
    // and one that does not inflate emits binary garbage; the EXPECTED
    // text is unchanged, so the same oracle grades all byte paths
    // (%6==1 ∧ %8==5 ids, e.g. 13, layer both: chunked outside gzip).
    // gzip-member %2 as in q251. Oracle: every column stated outright
    // from doc_id moduli + the same substr slice
    // q260: every column stated outright from doc_id moduli — status
    // 404 per %7, bare lowercased mime per %4, the envelope-stripped
    // body ('' for the %10==9 terminator-less message), with the café
    // marker that only a declared-charset decode reproduces on the
    // Latin-1 branch (and only a UTF-8 decode on the others)
    Query("q260_warc_http_responses",
      ("SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        "CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS http_status, " +
        "CASE WHEN doc_id % 4 IN (0, 1) THEN 'text/html' ELSE 'text/plain' END AS content_type, " +
        "CASE WHEN doc_id % 10 = 9 THEN '' " +
        "ELSE 'B ' || CAST(doc_id AS VARCHAR) || ' café ' || substr(text, 1, 60) END AS text " +
        "FROM documents ORDER BY doc_id"), (s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val payloads = tw(s, dir, "documents").select(
        col("doc_id").cast(LongType).as("doc_id"),
        col("text").substr(1, 60).as("slice"))
      val files = payloads.as[(Long, String)].mapPartitions { it =>
        val UTF8 = java.nio.charset.StandardCharsets.UTF_8
        val L1 = java.nio.charset.StandardCharsets.ISO_8859_1
        import graft.sources.Warc.{gzipMember, record}
        it.map { case (id, slice) =>
          val status = if (id % 7 == 0) 404 else 200
          val reason = if (status == 404) "Not Found" else "OK"
          val (ctype, cs) = (id % 4) match {
            case 0 => ("text/html; charset=ISO-8859-1", L1)
            case 1 => ("Text/HTML; Charset=\"UTF-8\"", UTF8)
            case 2 => ("text/plain", UTF8)
            case _ => ("text/plain; charset=x-bogus", UTF8)
          }
          val payload =
            if (id % 10 == 9) // truncated message: all envelope, no body
              s"HTTP/1.1 $status $reason\r\nContent-Type: $ctype".getBytes(UTF8)
            else {
              var body = s"B $id café $slice".getBytes(cs)
              var extra = ""
              if (id % 8 == 5) { // HTTP-level gzip body (wire bytes kept)
                body = graft.sources.Warc.gzipMember(body)
                extra += "Content-Encoding: gzip\r\n"
              }
              if (id % 6 == 1) { // chunked framing, 7-byte chunks, one ext
                val out = new java.io.ByteArrayOutputStream(body.length + 64)
                var i = 0
                var first = true
                while (i < body.length) {
                  val n = math.min(7, body.length - i)
                  val ext = if (first) ";planted=1" else ""
                  out.write(s"${n.toHexString}$ext\r\n".getBytes(UTF8))
                  out.write(body, i, n)
                  out.write("\r\n".getBytes(UTF8))
                  i += n
                  first = false
                }
                out.write("0\r\n\r\n".getBytes(UTF8))
                body = out.toByteArray
                extra += "Transfer-Encoding: chunked\r\n"
              }
              val head =
                if (id % 9 == 0)
                  s"HTTP/1.1 $status $reason\nContent-Type: $ctype\n" +
                    extra.replace("\r\n", "\n") + "Server: graft\n\n"
                else
                  s"HTTP/1.1 $status $reason\r\nContent-Type: $ctype\r\n" +
                    extra + "Server: graft\r\n\r\n"
              head.getBytes(UTF8) ++ body
            }
          val members = Seq(
            record("warcinfo", None, "graft-crawler".getBytes(UTF8)),
            record("response", Some(s"http://ex.org/$id"), payload))
          val bytes =
            if (id % 2 == 0) members.map(gzipMember).reduce(_ ++ _)
            else members.reduce(_ ++ _)
          (id, bytes)
        }
      }.toDF("file_id", "content")
      graft.sources.Warc.responseText(files)
        .select(col("file_id").as("doc_id"), col("http_status"),
          col("content_type"), col("text"))
        .orderBy("doc_id")
    }),

    // q261: the JOIN-FORM robots gate — q258's decisions reproduced
    // row-identically under the mega-host scale plan (the q81/q149/q189
    // scale-plan-in-the-gate convention): rules aggregate into per-host
    // arrays and JOIN host-keyed onto the URLs (never collected, no plan
    // literal), the codegen'd RobotsDecisionArray deciding per row with
    // a per-task compiled-pattern LRU. Same planted corpus, same oracle
    // as q258 — any twin drift (tie-break, wildcard, group scoping,
    // the allow default for rule-less hosts) lands here
    // q261: the join-form twin is graded by q258's EXACT oracle — the
    // scale plan must be decision-identical
    Query("q261_robots_gate_join",
      (RobotsPlantedCte +
        " SELECT doc_id, 'h' || CAST(h AS VARCHAR) || '.example.com' AS host, path, " +
        "CAST(" + RobotsAllowedCase + " AS BIGINT) AS allowed FROM u ORDER BY doc_id"), (s, dir) => {
      val rules = graft.operators.Robots.parse(robotsPlantedTxt(s),
        "host", "robots_txt", agent = "GraftBot")
      val urls = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("h"), (col("doc_id") % 7).cast(StringType),
          lit(".example.com")).as("host"),
        robotsPlantedPath.as("path"))
      graft.operators.Robots.isAllowedJoin(urls, rules, "host", "path")
        .select(col("doc_id"), col("host"), col("path"),
          col("allowed").cast(LongType).as("allowed"))
        .orderBy("doc_id")
    }),

    // q262: IVF-ACCELERATED semantic decontamination — q253's scale
    // sibling (the q112/q113 pairing): the corpus cell-assigns once,
    // each benchmark vector probes only adjacent cells, exact cosine on
    // candidates. Two arms in one gate: (a) full probe (nprobe =
    // numCells) must flag the IDENTICAL id set as the brute-force form —
    // full-outer parity violations; (b) a TIGHT nprobe = 1 must still
    // flag every planted 1.5x paraphrase twin (cell assignment is
    // scale-invariant, so a twin lands in its source's top cell) —
    // missed-twin count. Same constructed corpus as q253 (organic tail +
    // scaled twins + negated decoys)
    // q262: both arms must be clean — full-probe IVF is id-identical to
    // brute force, and the tight probe misses zero planted twins
    Query("q262_embed_decon_ivf",
      ("SELECT CAST(0 AS BIGINT) AS parity_violations, " +
        "CAST(0 AS BIGINT) AS missed_twins"), (s, dir) => {
      import graft.dedup.Decontaminate
      val emb = t(s, dir, "embeddings")
      val benchmark = emb.filter(col("vec_id") < 100)
      val corpus = emb.filter(col("vec_id") >= 100)
        .select(col("vec_id"), col("embedding"))
        .unionByName(emb.filter(col("vec_id") < 50)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding"), x => x * lit(1.5f)).as("embedding")))
        .unionByName(emb.filter(col("vec_id") >= 50 && col("vec_id") < 75)
          .select((col("vec_id") + 2000000L).as("vec_id"),
            transform(col("embedding"), x => -x).as("embedding")))
        .localCheckpoint() // one materialization under the index build + 3 probe arms
      val index = Similarity.ivfIndex(corpus, "vec_id", "embedding",
        numCentroids = 8)
      val brute = Decontaminate.embedContaminatedIds(corpus, benchmark,
        "vec_id", "embedding", threshold = 0.95)
      val full = Decontaminate.embedContaminatedIdsIvf(index, benchmark,
        "vec_id", "embedding", threshold = 0.95, nprobe = 8)
      val tight = Decontaminate.embedContaminatedIdsIvf(index, benchmark,
        "vec_id", "embedding", threshold = 0.95, nprobe = 1)
      val parity = brute.withColumn("__x", lit(1))
        .join(full.withColumn("__y", lit(1)), Seq("vec_id"), "full_outer")
        .agg(violations(col("__x").isNull || col("__y").isNull)
          .as("parity_violations"))
      val missed = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000L).as("vec_id"))
        .join(tight, Seq("vec_id"), "left_anti")
        .agg(count(lit(1)).cast(LongType).as("missed_twins"))
      parity.crossJoin(broadcast(missed)) // two scalar aggregates
    }),

    // q263: STREAMING WARC ingestion — real crawl consumption is
    // segments arriving over days: the q252 planted dump (same builder)
    // arrives as files across TWO micro-batches, each batch running the
    // full record-split → envelope-strip → 200+text/html admission →
    // main-content chain and accumulating under the retry guard; the
    // accumulated corpus then feeds the identical per-source curation
    // report, graded by q252's SAME oracle (the q246
    // batch-partitioning-invariance contract: how arrivals were cut
    // into batches must be invisible in the result)
    // q263: the streaming ingest is graded by q252's SAME oracle — the
    // two-batch arrival must be invisible in the per-source report
    Query("q263_stream_warc_ingest",
      (mainContentPlantedCte("") +
        ", tk AS (SELECT source, CAST(len(regexp_extract_all(lower(main), '[a-z0-9]+')) AS BIGINT) AS n FROM m) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(count(CASE WHEN n >= 25 THEN 1 END) AS BIGINT) AS n_kept, " +
        "CAST(coalesce(sum(CASE WHEN n >= 25 THEN n END), 0) AS BIGINT) AS kept_tokens " +
        "FROM tk GROUP BY source ORDER BY source"), (s, dir) => {
      val docs = t(s, dir, "documents")
      val files = warcCurationFiles(s, dir)
      withTempDir("q263") { tmp =>
        val stream = fileStream(s, files, 2, s"$tmp/src")
        val store = new graft.sync.ParquetStore(s, s"$tmp/out")
        IncrementalStream.warcIngest(stream, store, "corpus",
          checkpointDir = s"$tmp/ck", minChars = 15, maxLinkPermille = 300)
          .awaitTermination()
        val extracted = store.read("corpus").get
          .select(col("file_id").as("doc_id"), col("main"))
          .join(docs.select(col("doc_id").cast(LongType).as("doc_id"),
            col("source")), Seq("doc_id"))
          .withColumn("n_tokens",
            size(TextAnalysis.tokens(col("main"))).cast(LongType))
        extracted.groupBy(col("source")).agg(
            count(lit(1)).as("n_docs"),
            count(when(col("n_tokens") >= 25, 1)).as("n_kept"),
            coalesce(sum(when(col("n_tokens") >= 25, col("n_tokens"))), lit(0L))
              .as("kept_tokens"))
          .orderBy("source").localCheckpoint()
      }
    }),

    // q264: WET/WARC EXPORT round trip — the sink half that closes the
    // interchange story (q251/q252 read the format; this writes it):
    // the corpus exports as conversion records grouped 25 docs per
    // .warc.gz file (ISO-mandatory WARC-Record-ID/WARC-Date emitted,
    // stated capture date — no wall clock), re-reads through the same
    // walker, and must fingerprint identically to the source relation
    // over (url, text) — any byte lost/gained/reordered in the
    // write→read cycle lands in the Checksum (the q74 fingerprint law).
    // A second export must be byte-identical to the first (per-file
    // content hashes equal) — replay determinism is what makes exported
    // archives diffable
    // q264: both round-trip laws hold — re-read fingerprint identity
    // and replay-deterministic export bytes
    Query("q264_warc_export_roundtrip", InvariantOracleSql, (s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      import graft.sync.Checksum
      val docs = tw(s, dir, "documents").select(
        col("doc_id").cast(LongType).as("doc_id"),
        concat(lit("http://ex.org/"), col("doc_id").cast(StringType)).as("url"),
        col("text"))
      val corpus = docs.withColumn("file_grp", expr("doc_id div 25"))
      def exported() = graft.sources.Warc.export(corpus, "file_grp",
        "doc_id", "text", urlCol = Some("url"),
        warcDate = "2026-01-01T00:00:00Z")
      val files = exported().localCheckpoint()
      val reread = graft.sources.Warc.records(files)
        .filter(_.warc_type == "conversion")
        .map(r => (r.url, new String(r.payload,
          java.nio.charset.StandardCharsets.UTF_8)))
        .toDF("url", "text")
      def fp(df: DataFrame) =
        Checksum.tableChecksum(df, Seq("url", "text")).head
      val src = fp(docs.select(col("url"), col("text")))
      val back = fp(reread)
      def fileFp(df: DataFrame) = Checksum.tableChecksum(
        df.select(col("file_id"), xxhash64(col("content")).as("h")),
        Seq("file_id", "h")).head
      val again = fileFp(exported())
      val once = fileFp(files)
      val violations = (if (src == back) 0L else 1L) +
        (if (once == again) 0L else 1L)
      s.range(1).select(lit(violations).as("violations"))
    }),

    // q265: OUTLINK extraction + RFC 3986 resolution — the crawl-graph
    // half of extraction (WAT-style: edges, not words), feeding frontier
    // expansion: Html.outlinks pulls hrefs (quoted/single/unquoted,
    // entity-decoded, comment/script bodies never mint edges), each
    // resolves against the page's own URL through the codegen'd
    // UrlResolve (absolute pass-through, protocol-relative, root- and
    // dir-relative with dot segments, query-only replacement,
    // fragment-only dropped), then UrlNormalize canonicalizes into the
    // frontier key space (javascript: minted by resolve dies there;
    // utm params strip). 9 planted refs per page → 7 surviving edges,
    // every one stated outright from doc_id moduli
    // q265: every surviving edge stated outright from doc_id moduli —
    // the fragment-only and javascript: refs mint nothing
    Query("q265_outlink_edges",
      ("WITH u AS (SELECT doc_id, doc_id % 7 AS h, doc_id % 5 AS m, " +
        "doc_id % 3 AS k, doc_id % 2 AS j FROM documents), " +
        "e AS (SELECT doc_id, unnest([" +
        "'https://abs.example.org/p' || CAST(doc_id AS VARCHAR), " +
        "'http://cdn.example.net/lib', " +
        "'http://h' || CAST(h AS VARCHAR) || '.example.com/b/c' || CAST(m AS VARCHAR), " +
        "'http://h' || CAST(h AS VARCHAR) || '.example.com/up' || CAST(k AS VARCHAR), " +
        "'http://h' || CAST(h AS VARCHAR) || '.example.com/dir/same.html', " +
        "'http://h' || CAST(h AS VARCHAR) || '.example.com/dir/page' || CAST(doc_id AS VARCHAR) || '.html?page=2', " +
        "'http://h' || CAST(h AS VARCHAR) || '.example.com/plain' || CAST(j AS VARCHAR)" +
        "]) AS dst FROM u) " +
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, dst FROM e ORDER BY doc_id, dst"), (s, dir) => {
      val h = (col("doc_id") % 7).cast(StringType)
      val base = concat(lit("http://h"), h,
        lit(".example.com/dir/page"), col("doc_id").cast(StringType),
        lit(".html?x=1"))
      val page = concat(
        lit("<html><body><p><a href=\"https://abs.example.org/p"),
        col("doc_id").cast(StringType),
        lit("\">A</a> <a href='//cdn.example.net/lib'>B</a> <a href=\"/a/../b/c"),
        (col("doc_id") % 5).cast(StringType),
        lit("\">C</a> <a href=\"../up"), (col("doc_id") % 3).cast(StringType),
        lit("\">D</a> <a href=\"./same.html\">E</a> " +
          "<a href=\"?page=2&amp;utm_source=feed\">F</a> " +
          "<a href=\"#section\">G</a> <a href=\"javascript:void(0)\">H</a> " +
          "<a href=/plain"), (col("doc_id") % 2).cast(StringType),
        lit("><b>I</b></a></p>" +
          "<script>var x='<a href=\"/from-script\">no</a>';</script>" +
          "<!-- <a href=\"/from-comment\">no</a> --></body></html>"))
      tw(s, dir, "documents")
        .select(col("doc_id").cast(LongType).as("doc_id"),
          base.as("url"), page.as("html"))
        .select(col("doc_id"), col("url"),
          explode(graft.text.Html.outlinks(col("html"))).as("href"))
        .select(col("doc_id"), graft.functions.UrlNormalize(
          graft.functions.UrlResolve(col("url"), col("href"))).as("dst"))
        .filter(col("dst").isNotNull)
        .orderBy("doc_id", "dst")
    }),

    // q266: robots.txt Sitemap directives — the frontier's seed list,
    // group-INDEPENDENT per the sitemaps.org protocol: surfaced from
    // the top of the file (before any group), mid-group (between two
    // rules — must not split the group: q258/q261's decisions gate
    // that), and trailing, case-insensitive key. Oracle states the four
    // planted directives outright
    // q266: the four planted directives stated outright
    Query("q266_robots_sitemaps",
      ("SELECT host, sitemap_url FROM (VALUES " +
        "('h0.example.com', 'https://h0.example.com/sitemap.xml'), " +
        "('h2.example.com', 'https://h2.example.com/sm/one.xml'), " +
        "('h2.example.com', 'https://h2.example.com/sm/two.xml'), " +
        "('h5.example.com', 'http://h5.example.com/s.xml')" +
        ") AS t(host, sitemap_url) ORDER BY host, sitemap_url"), (s, dir) =>
      graft.operators.Robots.sitemaps(robotsPlantedTxt(s), "host", "robots_txt")
        .orderBy("host", "sitemap_url")),

    // q268: SFT chat-template rendering — the post-pretraining data
    // family: conversations are turn lists, the trainer consumes one
    // rendered text per conversation in the uniform <|role|>\n …
    // <|end|>\n template. One higher-order aggregate per row — zero
    // shuffle, no per-conversation window. Planted 2–4-turn
    // conversations (system lead per %4, alternating user/assistant,
    // contents slicing the document text); the oracle replays the
    // template as an ordered string_agg
    // q268/q269: the planted turn CTE replayed — roles/contents from
    // doc_id moduli, the template as an ordered string_agg (q268), the
    // offset arithmetic as a window sum over prior turns' rendered
    // lengths (q269, assistant rows only)
    Query("q268_chat_render",
      ("WITH c AS (SELECT doc_id, text, CAST(u.i AS INT) AS i FROM documents, " +
        "LATERAL unnest(range(0, doc_id % 3 + 2)) AS u(i)), " +
        "r AS (SELECT doc_id, i, " +
        "CASE WHEN i = 0 AND doc_id % 4 = 0 THEN 'system' " +
        "WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role, " +
        "'c' || CAST(i AS VARCHAR) || ' ' || substr(text, CAST(1 + i * 25 AS INT), 25) AS content FROM c) " +
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        "string_agg('<|' || role || '|>' || chr(10) || content || '<|end|>' || chr(10), '' ORDER BY i) AS rendered, " +
        "CAST(count(*) AS BIGINT) AS n_turns FROM r GROUP BY doc_id ORDER BY doc_id"), (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id").cast(LongType).as("doc_id"),
          chatPlantedMessages.as("msgs"),
          (col("doc_id") % 3 + 2).cast(LongType).as("n_turns"))
        .select(col("doc_id"), graft.text.Chat.render(col("msgs")).as("rendered"),
          col("n_turns"))
        .orderBy("doc_id")),

    // q269: the LOSS-MASK spans over q268's rendering — assistant turns
    // only (training on prompt text teaches the model to imitate
    // users): [start, end) character spans of each assistant turn's
    // content inside the rendered string, computed in the SAME fold
    // that renders (offset in the accumulator — never a window). The
    // oracle replays the offset arithmetic with a window sum over the
    // identical planted construction; ChatSpec pins the slicing law
    // (substring(rendered, start, end) == turn content)
    Query("q269_chat_loss_spans",
      ("WITH c AS (SELECT doc_id, text, CAST(u.i AS INT) AS i FROM documents, " +
        "LATERAL unnest(range(0, doc_id % 3 + 2)) AS u(i)), " +
        "r AS (SELECT doc_id, i, " +
        "CASE WHEN i = 0 AND doc_id % 4 = 0 THEN 'system' " +
        "WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role, " +
        "'c' || CAST(i AS VARCHAR) || ' ' || substr(text, CAST(1 + i * 25 AS INT), 25) AS content FROM c), " +
        "o AS (SELECT doc_id, i, role, " +
        "len('<|' || role || '|>' || chr(10)) AS plen, len(content) AS clen, " +
        "coalesce(sum(len('<|' || role || '|>' || chr(10)) + len(content) + len('<|end|>' || chr(10))) " +
        "OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off FROM r) " +
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, i AS turn, " +
        "CAST(off + plen AS BIGINT) AS span_start, " +
        "CAST(off + plen + clen AS BIGINT) AS span_end " +
        "FROM o WHERE role = 'assistant' ORDER BY doc_id, turn"), (s, dir) =>
      tw(s, dir, "documents")
        .select(col("doc_id").cast(LongType).as("doc_id"),
          chatPlantedMessages.as("msgs"))
        .select(col("doc_id"),
          explode(graft.text.Chat.assistantSpans(col("msgs"))).as("sp"))
        .select(col("doc_id"), col("sp.turn").as("turn"),
          col("sp.span_start").as("span_start"),
          col("sp.span_end").as("span_end"))
        .orderBy("doc_id", "turn")),

    // q270: context-window prep over the same planted conversations —
    // the longest prefix of turns fitting a 12-token budget, trimmed
    // back to end on an assistant turn (a dangling prompt trains
    // nothing; a conversation with no in-budget assistant turn drops
    // whole). Strict prefix: the first overflowing turn stops
    // consumption. Same zero-shuffle fold shape. Oracle: cumulative
    // token window + the last-assistant trim replayed in SQL
    // q270: the budget prefix (cumulative content tokens <= 12 — cum is
    // monotone, so the window filter IS the strict prefix) trimmed to
    // the last assistant turn; docs with none vanish
    Query("q270_chat_fit_budget",
      ("WITH c AS (SELECT doc_id, text, CAST(u.i AS INT) AS i FROM documents, " +
        "LATERAL unnest(range(0, doc_id % 3 + 2)) AS u(i)), " +
        "r AS (SELECT doc_id, i, " +
        "CASE WHEN i = 0 AND doc_id % 4 = 0 THEN 'system' " +
        "WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role, " +
        "'c' || CAST(i AS VARCHAR) || ' ' || substr(text, CAST(1 + i * 25 AS INT), 25) AS content FROM c), " +
        "o AS (SELECT doc_id, i, role, content, " +
        "sum(len(regexp_extract_all(lower(content), '[a-z0-9]+'))) " +
        "OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM r), " +
        "p AS (SELECT * FROM o WHERE cum <= 12), " +
        "b AS (SELECT doc_id, max(i) AS last_a FROM p WHERE role = 'assistant' GROUP BY doc_id) " +
        "SELECT CAST(p.doc_id AS BIGINT) AS doc_id, CAST(p.i AS BIGINT) AS pos, " +
        "p.role AS role, p.content AS content " +
        "FROM p JOIN b ON p.doc_id = b.doc_id AND p.i <= b.last_a " +
        "ORDER BY doc_id, pos"), (s, dir) =>
      tw(s, dir, "documents")
        .select(col("doc_id").cast(LongType).as("doc_id"),
          chatPlantedMessages.as("msgs"))
        .select(col("doc_id"), posexplode(
          graft.text.Chat.fitBudget(col("msgs"), maxTokens = 12L))
          .as(Seq("pos", "m")))
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
          col("m.role").as("role"), col("m.content").as("content"))
        .orderBy("doc_id", "pos")),

    // q271: preference-pair mining — the RLHF/DPO prep stage after the
    // SFT family: rollout tables (N scored completions per prompt) →
    // best-vs-worst (chosen, rejected) pairs, kept when the margin
    // clears 4. ONE aggregation shuffled on the prompt key only
    // (max_by/min_by combine map-side), no window, no self-join.
    // Planted rollouts: prompt = doc_id % 173, score = (doc_id % 6)*2
    // — group margins land in {2, 4, 10}, so the margin gate actually
    // drops prompts; the lowest-id tie-break is pinned in
    // PreferenceSpec (no planted ties at sf0.01 — the spec owns that
    // law). Oracle: row_number best/worst replay
    // q271: the planted rollouts replayed, best/worst per prompt as
    // row_number twins (score DESC/ASC, id ASC ties — the operator's
    // stated tie-break), margin-gated exactly like the query
    Query("q271_preference_pairs", preferencePairsOracleSql, (s, dir) =>
      graft.operators.Preference.pairs(
        preferencePlantedRollouts(tw(s, dir, "documents")),
        "prompt_id", "completion_id", "completion", "score",
        minMargin = 4.0)
        .orderBy("prompt_id")),

    // q274: the CONTINUOUSLY-MAINTAINED form of q271 — rollouts arrive
    // in two micro-batches (a prompt's completions split across them,
    // so the state merge is load-bearing), each batch's per-prompt
    // best/worst candidates fold into the state table, and the pairs
    // derived from the final state must equal the batch miner over all
    // arrivals — the SAME oracle as q271 (the q197/q246 merge-order-
    // invariance contract). The margin gate runs over the STATE
    // (|prompts| rows), never the rollouts
    // q274: the SAME oracle — the maintained state's derived pairs
    // must equal the batch miner over all arrivals (merge-order
    // invariance, the q197/q246 contract)
    Query("q274_stream_preference_pairs", preferencePairsOracleSql, (s, dir) => {
      val rollouts = preferencePlantedRollouts(t(s, dir, "documents"))
      withTempDir("q274") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/state")
        val stream = fileStream(s, rollouts, 2, s"$tmp/src")
        IncrementalStream.preferenceIngest(stream, "prompt_id",
          "completion_id", "completion", "score",
          store, "prefs", checkpointDir = s"$tmp/ck")
          .awaitTermination()
        graft.operators.Preference.pairsFromCandidates(
            store.read("prefs").get, "prompt_id", minMargin = 4.0)
          .orderBy("prompt_id").localCheckpoint()
      }
    }),

    // q275: GRPO-style group-relative advantages over the SAME planted
    // rollouts — per rollout, its reward centered against its own
    // prompt's group (the critic-free baseline), emitted INTEGER-EXACT
    // as numerators (advantage = adv_num/n, variance = var_num/n²,
    // z = adv_num/√var_num) so integral reward scales grade
    // losslessly. One prompt-keyed exchange feeding one Window node
    // (count/sum/sumsq share it), no join — plan-pinned. Oracle:
    // window replay of the same arithmetic
    // q275: the planted rollouts' group arithmetic replayed as window
    // sums — integer-exact numerators, no float comparisons
    Query("q275_group_advantage",
      ("WITH r AS (SELECT doc_id % 173 AS prompt_id, doc_id AS completion_id, " +
        "(doc_id % 6) * 2 AS score FROM documents) " +
        "SELECT CAST(prompt_id AS BIGINT) AS prompt_id, " +
        "CAST(completion_id AS BIGINT) AS completion_id, " +
        "CAST(score AS BIGINT) AS score, " +
        "CAST(count(*) OVER w AS BIGINT) AS n_rollouts, " +
        "CAST(score * count(*) OVER w - sum(score) OVER w AS BIGINT) AS adv_num, " +
        "CAST(count(*) OVER w * sum(score * score) OVER w - " +
        "sum(score) OVER w * sum(score) OVER w AS BIGINT) AS var_num " +
        "FROM r WINDOW w AS (PARTITION BY prompt_id) " +
        "ORDER BY prompt_id, completion_id"), (s, dir) =>
      graft.operators.Preference.groupAdvantages(
        preferencePlantedRollouts(tw(s, dir, "documents")),
        "prompt_id", "completion_id", "score")
        .orderBy("prompt_id", "completion_id")),

    // q278: margin-based bitext mining (LASER/CCMatrix) — the
    // multilingual curation stage: two corpora in a shared embedding
    // space (even/odd vec_id halves), pairs mined when MUTUAL BEST by
    // cosine with the ratio margin (cos relative to both ends' top-4
    // neighborhood means) clearing 1.047 (sits mid-gap in the planted margin distribution — 7e-3 from the nearest value, far beyond float noise; 2 of 125 mutual pairs drop, so the gate is exercised). Decisions are ordering-driven
    // (argmax + ranked top-k means, lowest-id ties) — the q112
    // precedent for cross-engine cosine replay; the margin column
    // stays un-graded (float-boundary-sensitive), identities only.
    // One broadcast cross pass + two keyed windows — the EXACT
    // baseline; at scale knnJoinIvf shortlists feed the same rule
    // q278: the mining rule replayed — list_cosine_similarity cross
    // scores, forward/backward row_number argmax, top-4 neighborhood
    // means, mutual-best + ratio margin >= 1.047 (2c >= 1.047(favg+bavg))
    Query("q278_bitext_mine",
      ("WITH a AS (SELECT vec_id AS src_id, embedding AS av FROM embeddings WHERE vec_id % 2 = 0), " +
        "b AS (SELECT vec_id AS tgt_id, embedding AS bv FROM embeddings WHERE vec_id % 2 = 1), " +
        "s AS (SELECT src_id, tgt_id, list_cosine_similarity(av, bv) AS c FROM a, b), " +
        "r AS (SELECT *, " +
        "row_number() OVER (PARTITION BY src_id ORDER BY c DESC, tgt_id) AS rf, " +
        "row_number() OVER (PARTITION BY tgt_id ORDER BY c DESC, src_id) AS rb FROM s), " +
        "fa AS (SELECT src_id, avg(c) AS favg FROM r WHERE rf <= 4 GROUP BY src_id), " +
        "ba AS (SELECT tgt_id, avg(c) AS bavg FROM r WHERE rb <= 4 GROUP BY tgt_id) " +
        "SELECT CAST(r.src_id AS BIGINT) AS src_id, CAST(r.tgt_id AS BIGINT) AS tgt_id " +
        "FROM r JOIN fa ON r.src_id = fa.src_id JOIN ba ON r.tgt_id = ba.tgt_id " +
        "WHERE rf = 1 AND rb = 1 AND favg + bavg > 0 AND 2 * c >= 1.047 * (favg + bavg) " +
        "ORDER BY src_id"), (s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.similarity.Similarity.bitextMine(
        e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", k = 4, marginMicros = 1047000L)
        .select(col("src_id").cast(LongType).as("src_id"),
          col("tgt_id").cast(LongType).as("tgt_id"))
        .orderBy("src_id")
    }),

    // q277: character loss spans → TOKEN-level mask — the step q269's
    // contract promises: per assistant turn, the [tok_start, tok_end)
    // token-INDEX interval of the engine's tokens that lie fully
    // inside its character span. TokenSpans (codegen'd positions —
    // regexp_extract_all returns strings only) over the rendered text,
    // then per-row array arithmetic; zero shuffle. Under the template
    // no token straddles a content boundary (the markers break every
    // run), so the interval is exactly the turn's content tokens —
    // the oracle replays cumulative per-piece token counts (role word
    // + content tokens + 'end') as a window sum, the q269 shape in
    // token units
    // q277: the q269 planted CTE in TOKEN units — cumulative
    // (role-word + content + 'end') token counts as a window sum,
    // assistant rows emit their content's token-index interval
    Query("q277_token_loss_mask",
      ("WITH c AS (SELECT doc_id, text, CAST(u.i AS INT) AS i FROM documents, " +
        "LATERAL unnest(range(0, doc_id % 3 + 2)) AS u(i)), " +
        "r AS (SELECT doc_id, i, " +
        "CASE WHEN i = 0 AND doc_id % 4 = 0 THEN 'system' " +
        "WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role, " +
        "'c' || CAST(i AS VARCHAR) || ' ' || substr(text, CAST(1 + i * 25 AS INT), 25) AS content FROM c), " +
        "o AS (SELECT doc_id, i, role, " +
        "len(regexp_extract_all(role, '[a-z0-9]+')) AS ptoks, " +
        "len(regexp_extract_all(lower(content), '[a-z0-9]+')) AS ctoks FROM r), " +
        "w AS (SELECT doc_id, i, role, ptoks, ctoks, " +
        "coalesce(sum(ptoks + ctoks + 1) OVER (PARTITION BY doc_id ORDER BY i " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM o) " +
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(i AS BIGINT) AS turn, " +
        "CAST(cum + ptoks AS BIGINT) AS tok_start, " +
        "CAST(cum + ptoks + ctoks AS BIGINT) AS tok_end " +
        "FROM w WHERE role = 'assistant' ORDER BY doc_id, turn"), (s, dir) =>
      tw(s, dir, "documents")
        .select(col("doc_id").cast(LongType).as("doc_id"),
          chatPlantedMessages.as("msgs"))
        .select(col("doc_id"),
          graft.text.Chat.render(col("msgs")).as("rendered"),
          graft.text.Chat.assistantSpans(col("msgs")).as("sp"))
        .select(col("doc_id"), explode(graft.text.Chat.tokenMask(
          graft.functions.TokenSpans(col("rendered")), col("sp"))).as("m"))
        .select(col("doc_id"), col("m.turn").cast(LongType).as("turn"),
          col("m.tok_start").as("tok_start"), col("m.tok_end").as("tok_end"))
        .orderBy("doc_id", "turn")),

    // q276: streaming SITEMAP-SEEDED frontier — the crawl-seeding
    // composition q273 parses for: sitemap documents arrive in
    // micro-batches (a real crawler fetches them over time), each
    // batch's page entries (kind=url only — child sitemaps loop back
    // through the fetcher, they don't seed) explode → canonicalize →
    // frontier seen-set admission. Page URLs COLLIDE across docs (%50
    // path keys under %7 hosts), so canonical dedup is load-bearing;
    // the graded output is the admitted (url_norm, host) SET — id-free,
    // so the 2-batch split is invisible (the q246/q267 contract).
    // Oracle: the distinct planted urlset locs stated outright (the
    // planted URLs are UrlNormalize fixed points by construction)
    // q276: the admitted frontier SET stated outright — distinct
    // urlset page locs of the non-sitemapindex docs (child-sitemap
    // locs seed nothing; the planted URLs are canonical fixed points)
    Query("q276_stream_sitemap_frontier",
      ("WITH d AS (SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS h, " +
        "CAST(doc_id % 50 AS VARCHAR) AS p FROM documents WHERE doc_id % 6 <> 0), " +
        "u AS (SELECT DISTINCT 'http://h' || h || '.example.com/page' || p || '.html?a=1&b=2' AS url_norm, " +
        "'h' || h || '.example.com' AS host FROM d " +
        "UNION SELECT DISTINCT 'http://h' || h || '.example.com/p' || p || '/two', " +
        "'h' || h || '.example.com' FROM d) " +
        "SELECT url_norm, host FROM u ORDER BY url_norm"), (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast(LongType).as("doc_id"),
          sitemapPlantedXml.as("xml"))
      withTempDir("q276") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/seen")
        val stream = fileStream(s, docs, 2, s"$tmp/src")
        val urls = stream
          .select(col("doc_id"),
            explode(graft.text.Sitemap.entries(col("xml"))).as("e"))
          .filter(col("e.kind") === "url")
          .select(col("doc_id"), col("e.loc").as("url"))
        IncrementalStream.frontierGate(urls, "doc_id", "url",
          store, "seen", checkpointDir = s"$tmp/ck")
          .awaitTermination()
        store.read("seen").get.select(col("url_norm"), col("host"))
          .orderBy("url_norm").localCheckpoint()
      }
    }),

    // q272: conversation lint — the QA gate synthetic/vendor SFT data
    // passes before rendering: structural counters per conversation
    // (valid/invalid turns, starts with a prompt role, ends on an
    // assistant turn, same-role adjacency in the VALID subsequence,
    // whitespace-only contents) and the composite pass flag. Same
    // zero-shuffle fold shape as the q268 render. Planted hazards by
    // doc_id moduli: %5 forces a user turn at i=1 (same-role pair),
    // %7 blanks i=1's content, %11 NULLs i=2's content (invalid turn —
    // must not break adjacency of its neighbors). Oracle replays the
    // moduli with windowed lag over the valid rows
    // q272: the lint-hazard moduli replayed — valid rows (content not
    // NULL) carry lag/first/last windows, invalid rows only count
    Query("q272_chat_lint",
      ("WITH c AS (SELECT doc_id, text, CAST(u.i AS INT) AS i FROM documents, " +
        "LATERAL unnest(range(0, doc_id % 3 + 2)) AS u(i)), " +
        "r AS (SELECT doc_id, i, " +
        "CASE WHEN i = 0 AND doc_id % 4 = 0 THEN 'system' " +
        "WHEN i = 1 AND doc_id % 5 = 0 THEN 'user' " +
        "WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role, " +
        "CASE WHEN i = 1 AND doc_id % 7 = 0 THEN '   ' " +
        "WHEN i = 2 AND doc_id % 11 = 0 THEN NULL " +
        "ELSE 'c' || CAST(i AS VARCHAR) || ' ' || substr(text, CAST(1 + i * 25 AS INT), 25) END AS content " +
        "FROM c), " +
        "v AS (SELECT doc_id, i, role, content, " +
        "lag(role) OVER (PARTITION BY doc_id ORDER BY i) AS prev_role, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY i DESC) AS rnd " +
        "FROM r WHERE content IS NOT NULL), " +
        "a AS (SELECT doc_id, count(*) AS n_valid, " +
        "sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END) AS same_role_pairs, " +
        "sum(CASE WHEN trim(content) = '' THEN 1 ELSE 0 END) AS empty_turns, " +
        "max(CASE WHEN rn = 1 THEN role END) AS first_role, " +
        "max(CASE WHEN rnd = 1 THEN role END) AS last_role " +
        "FROM v GROUP BY doc_id), " +
        "t AS (SELECT doc_id, count(*) AS n_all FROM r GROUP BY doc_id) " +
        "SELECT CAST(a.doc_id AS BIGINT) AS doc_id, " +
        "CAST(n_valid AS BIGINT) AS n_valid, " +
        "CAST(t.n_all - n_valid AS BIGINT) AS n_invalid, " +
        "CAST(CASE WHEN first_role IN ('system', 'user') THEN 1 ELSE 0 END AS BIGINT) AS starts_ok, " +
        "CAST(CASE WHEN last_role = 'assistant' THEN 1 ELSE 0 END AS BIGINT) AS ends_assistant, " +
        "CAST(same_role_pairs AS BIGINT) AS same_role_pairs, " +
        "CAST(empty_turns AS BIGINT) AS empty_turns, " +
        "CAST(CASE WHEN n_valid > 0 AND first_role IN ('system', 'user') " +
        "AND last_role = 'assistant' AND same_role_pairs = 0 AND empty_turns = 0 " +
        "THEN 1 ELSE 0 END AS BIGINT) AS passed " +
        "FROM a JOIN t ON a.doc_id = t.doc_id ORDER BY doc_id"), (s, dir) =>
      tw(s, dir, "documents")
        .select(col("doc_id").cast(LongType).as("doc_id"),
          graft.text.Chat.lint(chatLintPlantedMessages).as("l"))
        .select(col("doc_id"),
          col("l.n_valid").cast(LongType).as("n_valid"),
          col("l.n_invalid").cast(LongType).as("n_invalid"),
          // LONG 0/1 per the graded-boolean convention
          col("l.starts_ok").cast(LongType).as("starts_ok"),
          col("l.ends_assistant").cast(LongType).as("ends_assistant"),
          col("l.same_role_pairs").cast(LongType).as("same_role_pairs"),
          col("l.empty_turns").cast(LongType).as("empty_turns"),
          col("l.passed").cast(LongType).as("passed"))
        .orderBy("doc_id")),

    // q273: sitemap XML parsing — the crawl-seeding stage between the
    // q266 robots Sitemap directives (the URLs a host declares) and
    // the frontier (the page URLs those sitemaps contain): both
    // protocol shapes from one column — <urlset> page entries and
    // <sitemapindex> child-sitemap entries — with entity-decoded locs
    // (&amp; in query strings is ubiquitous and an undecoded loc mints
    // a frontier key no fetched page normalizes to), trimmed
    // whitespace, NULL absent lastmods, loc-less entries dropped.
    // Pure per-row regexp projection, zero shuffle (the outlinks
    // shape). Planted: %6 docs ship a sitemapindex (one lastmod, one
    // whitespace-padded loc), the rest a urlset (entity-escaped query
    // loc + lastmod, a bare second loc, a loc-less hazard entry)
    // q273: the planted sitemap entries replayed as UNION ALL arms —
    // decoded locs, trimmed padding, NULL absent lastmods, the
    // loc-less hazard entry absent
    Query("q273_sitemap_entries",
      ("WITH d AS (SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS h, " +
        "CAST(doc_id % 50 AS VARCHAR) AS p FROM documents), " +
        "e AS (" +
        "SELECT doc_id, 'sitemap' AS kind, " +
        "'https://h' || h || '.example.com/sm/a.xml' AS loc, " +
        "'2026-01-15' AS lastmod FROM d WHERE doc_id % 6 = 0 " +
        "UNION ALL SELECT doc_id, 'sitemap', " +
        "'https://h' || h || '.example.com/sm/b.xml', NULL FROM d WHERE doc_id % 6 = 0 " +
        "UNION ALL SELECT doc_id, 'url', " +
        "'http://h' || h || '.example.com/page' || p || '.html?a=1&b=2', " +
        "'2026-02-11' FROM d WHERE doc_id % 6 <> 0 " +
        "UNION ALL SELECT doc_id, 'url', " +
        "'http://h' || h || '.example.com/p' || p || '/two', NULL FROM d WHERE doc_id % 6 <> 0) " +
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, kind, loc, lastmod " +
        "FROM e ORDER BY doc_id, kind, loc"), (s, dir) =>
      tw(s, dir, "documents")
        .select(col("doc_id").cast(LongType).as("doc_id"),
          explode(graft.text.Sitemap.entries(sitemapPlantedXml)).as("e"))
        .select(col("doc_id"), col("e.kind").as("kind"),
          col("e.loc").as("loc"), col("e.lastmod").as("lastmod"))
        .orderBy("doc_id", "kind", "loc")),

    // q267: the FULL crawl admission loop, end to end in one streaming
    // query — the composition a production crawler actually runs per
    // fetched segment: WARC files arrive in micro-batches →
    // responseText (envelope strip) → outlink extraction → RFC 3986
    // resolve against the fetching page + canonicalize → robots
    // politeness (the q258 rules) → frontier seen-set admission. Links
    // COLLIDE across docs (%50/%20 keys), so the frontier's canonical
    // dedup is load-bearing; the graded output is the admitted
    // (url_norm, host) SET — id-free, so the 2-batch arrival split and
    // per-batch admission order are invisible (the q246 contract).
    // Fragment-only and javascript: links are planted and must mint
    // nothing; disallowed paths must never reach frontier state
    // q267: the admitted frontier SET stated outright — distinct
    // allowed in-host links (%50 path keys under the q258 decision
    // CASE) plus the always-allowed cross-host h3 links (%20 keys);
    // fragment/javascript links mint nothing
    Query("q267_stream_crawl_loop",
      ("WITH u AS (SELECT doc_id, doc_id % 7 AS h, doc_id % 5 AS m, " +
        "CAST(doc_id % 50 AS VARCHAR) AS p, doc_id % 20 AS x FROM documents), " +
        "l1 AS (SELECT DISTINCT 'http://h' || CAST(h AS VARCHAR) || '.example.com' || " +
        "CASE m WHEN 0 THEN '/private/p' || p WHEN 1 THEN '/public/q' || p " +
        "WHEN 2 THEN '/doc' || p || '.pdf' WHEN 3 THEN '/a/b/r' || p " +
        "ELSE '/a/c' || p END AS url_norm, " +
        "'h' || CAST(h AS VARCHAR) || '.example.com' AS host FROM u " +
        "WHERE (CASE h WHEN 0 THEN m <> 0 WHEN 1 THEN m = 1 WHEN 2 THEN m <> 2 " +
        "WHEN 5 THEN m <> 4 WHEN 6 THEN m <> 2 ELSE TRUE END)), " +
        "l2 AS (SELECT DISTINCT 'http://h3.example.com/x' || CAST(x AS VARCHAR) AS url_norm, " +
        "'h3.example.com' AS host FROM u) " +
        "SELECT url_norm, host FROM (SELECT * FROM l1 UNION SELECT * FROM l2) " +
        "ORDER BY url_norm"), (s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val rules = graft.operators.Robots.parse(robotsPlantedTxt(s),
        "host", "robots_txt", agent = "GraftBot")
      val h = (col("doc_id") % 7).cast(StringType)
      val p50 = (col("doc_id") % 50).cast(StringType)
      val path1 = when(col("doc_id") % 5 === 0, concat(lit("/private/p"), p50))
        .when(col("doc_id") % 5 === 1, concat(lit("/public/q"), p50))
        .when(col("doc_id") % 5 === 2, concat(lit("/doc"), p50, lit(".pdf")))
        .when(col("doc_id") % 5 === 3, concat(lit("/a/b/r"), p50))
        .otherwise(concat(lit("/a/c"), p50))
      val page = concat(
        lit("<html><body><p><a href=\""), path1,
        lit("\">in-host</a> <a href='//h3.example.com/x"),
        (col("doc_id") % 20).cast(StringType),
        lit("'>cross-host</a> <a href=\"#top\">frag</a> " +
          "<a href=\"javascript:void(0)\">js</a></p></body></html>"))
      val files = t(s, dir, "documents")
        .select(col("doc_id").cast(LongType).as("doc_id"),
          concat(lit("http://h"), h, lit(".example.com/fetch/page"),
            col("doc_id").cast(StringType), lit(".html")).as("page_url"),
          page.as("html"))
        .as[(Long, String, String)].mapPartitions { it =>
          val UTF8 = java.nio.charset.StandardCharsets.UTF_8
          import graft.sources.Warc.{gzipMember, record}
          it.map { case (id, url, html) =>
            val m = Seq(
              record("warcinfo", None, "graft-crawler".getBytes(UTF8)),
              record("response", Some(url),
                (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" +
                  html).getBytes(UTF8)))
            (id, if (id % 2 == 0) m.map(gzipMember).reduce(_ ++ _)
                 else m.reduce(_ ++ _))
          }
        }.toDF("file_id", "content")
      withTempDir("q267") { tmp =>
        val stream = fileStream(s, files, 2, s"$tmp/src")
        // the admission chain, all stateless per row until the frontier
        val fetched = graft.sources.Warc.responseText(stream)
          .filter(col("http_status") === 200 && col("content_type") === "text/html")
        val edges = fetched.select(col("file_id"), col("url"),
            posexplode(graft.text.Html.outlinks(col("text")))
              .as(Seq("__pos", "href")))
          .select((col("file_id") * 10 + col("__pos")).as("link_id"),
            graft.functions.UrlNormalize(graft.functions.UrlResolve(
              col("url"), col("href"))).as("dst"))
          .filter(col("dst").isNotNull)
          // dst is CANONICAL (UrlNormalize output) — derive the robots
          // key with the named helper, never a hand-rolled http:// regex
          // (an https edge would otherwise key as host '' and silently
          // bypass the rules)
          .withColumn("host",
            graft.functions.UrlNormalize.hostOfCanonical(col("dst")))
          .withColumn("path",
            regexp_extract(col("dst"), "^[a-z0-9+.-]+://[^/]+(/.*)$", 1))
        val polite = graft.operators.Robots.filterAllowed(
          edges, rules, "host", "path").select(col("link_id"), col("dst"))
        val store = new graft.sync.ParquetStore(s, s"$tmp/out")
        IncrementalStream.frontierGate(polite, "link_id", "dst", store, "seen",
          checkpointDir = s"$tmp/ck").awaitTermination()
        store.read("seen").get.select(col("url_norm"), col("host"))
          .orderBy("url_norm").localCheckpoint()
      }
    }),

    // q256: FULL-HISTORY hard erasure — takedown in the temporal family,
    // the q244 lifecycle one step further: a key's ENTIRE SCD2 history
    // (every interval, not just the open row) is erased from a
    // MAINTAINED history and its serving reads, with the erasure landing
    // BETWEEN micro-batches of the running scd2Ingest lineage. Round 1
    // folds versions 1+2 (CDC upserts + deletes); the tombstone lands;
    // round 2 then RE-DELIVERS version-3 deltas for some erased keys —
    // the at-read gate (Takedown.withoutTombstones BEFORE asOf) must
    // keep them invisible at EVERY version while all other keys stay
    // row-identical (gated in-query against the batch apply chain);
    // compactTombstones physically purges mid-lifecycle with serving
    // provably unchanged across it. Output: the final served history,
    // graded by the q222 island law restricted to surviving keys
    // q256: the island law restricted to SURVIVING keys — a tombstoned
    // key (%13) must contribute NO interval at any version, round-2
    // re-deliveries included; everything else is row-identical to the
    // q222/q245 history (a drifted base string no-ops the replace and
    // fails the gate, the q248 convention)
    Query("q256_history_erasure", Scd2FullHistoryOracleSql.replace(
      "WHERE present = 1 ORDER BY",
      "WHERE present = 1 AND o_orderkey % 13 <> 0 ORDER BY"), (s, dir) => {
      import graft.sync.{History, Takedown}
      val (s1, s2, s3) = scdSnapshots(s, dir)
      def ups(cur: DataFrame, prev: DataFrame): DataFrame = {
        val p = prev.select(col("o_orderkey"), col("o_custkey").as("__pc"),
          col("cents").as("__pv")).withColumn("__in", lit(1))
        cur.join(p, Seq("o_orderkey"), "left")
          .filter(col("__in").isNull || !(col("o_custkey") <=> col("__pc"))
            || !(col("cents") <=> col("__pv")))
          .select(col("o_orderkey"), col("o_custkey"), col("cents"))
      }
      def dels(prev: DataFrame, cur: DataFrame): DataFrame =
        prev.select(col("o_orderkey"))
          .join(cur.select(col("o_orderkey").as("__k")),
            col("o_orderkey") === col("__k"), "left_anti")
          .select(col("o_orderkey"), lit(null).cast(LongType).as("o_custkey"),
            lit(null).cast(LongType).as("cents"))
      def stamp(df: DataFrame, ver: Long, op: String): DataFrame =
        df.withColumn("ver", lit(ver)).withColumn("op", lit(op))
      val log1 = stamp(s1, 1L, "u")
        .unionByName(stamp(ups(s2, s1), 2L, "u"))
        .unionByName(stamp(dels(s1, s2), 2L, "d"))
      val log2 = stamp(ups(s3, s2), 3L, "u")
        .unionByName(stamp(dels(s2, s3), 3L, "d"))
      withTempDir("q256") { tmp =>
        val store = new graft.sync.ParquetStore(s, s"$tmp/state")
        def ingest(log: DataFrame): Unit = {
          log.repartition(1).write.mode("append").parquet(s"$tmp/src")
          IncrementalStream.scd2Ingest(
            s.readStream.schema(log.schema).parquet(s"$tmp/src/*.parquet"),
            store, "history", Seq("o_orderkey"), Seq("o_custkey", "cents"),
            "ver", checkpointDir = s"$tmp/ck", opCol = Some("op"))
            .awaitTermination()
        }
        def serve(): DataFrame = Takedown.withoutTombstones(
          store.read("history").get.drop("__last_batch", "__run"),
          "o_orderkey", store)
        ingest(log1)
        // the erasure is non-vacuous: the keys have intervals on disk
        // ONE history read feeds both the non-vacuity gate and the
        // tombstone source (was two scans + two jobs)
        val erasedIds = store.read("history").get
          .filter(col("o_orderkey") % 13 === 0)
          .select(col("o_orderkey")).distinct().localCheckpoint()
        require(erasedIds.count() > 0L, "q256: nothing to erase — planted keys absent")
        Takedown.tombstone(store, erasedIds)
        graft.Checkpoints.release(erasedIds)
        ingest(log2) // round 2 re-delivers deltas for some erased keys
        // the serving view is pinned ONCE (nothing mutates between here
        // and the compaction below) and feeds the per-version leak gates
        // AND the pre-compaction drift arm — was 4 serve() derivations
        val pre = serve().localCheckpoint()
        // the gate holds at EVERY version: no erased key at any asOf —
        // all three versions checked in ONE job (was a 3-job driver loop)
        val leaks = (1L to 3L).map(v => History.asOf(pre, v)
            .filter(col("o_orderkey") % 13 === 0).select(lit(v).as("__v")))
          .reduce(_.unionAll(_))
          .groupBy(col("__v")).count().collect()
        require(leaks.isEmpty, "q256: erased key visible at asOf versions " +
          leaks.map(r => s"${r.getLong(0)} (${r.getLong(1)} rows)").mkString(", "))
        val removed = Takedown.compactTombstones(store,
          Seq("history" -> "o_orderkey"))
        require(removed.exists(_._2 > 0L),
          "q256: the compaction must physically purge history rows")
        // post-compaction the PHYSICAL table is clean (round 2's
        // re-delivered deltas included), not just the gated view
        require(store.read("history").get
          .filter(col("o_orderkey") % 13 === 0).count() == 0L,
          "q256: physical history still holds erased-key intervals")
        val post = serve()
        // open intervals carry NULL valid_to, which never equi-joins —
        // coalesce both sides to the 0 sentinel before the drift compare
        def closed(df: DataFrame): DataFrame =
          df.withColumn("valid_to", coalesce(col("valid_to"), lit(0L)))
        val drift = closed(pre).withColumn("__a", lit(1))
          .join(closed(post).withColumn("__b", lit(1)),
            Seq("o_orderkey", "o_custkey", "cents", "valid_from", "valid_to"),
            "full_outer")
          .filter(col("__a").isNull || col("__b").isNull).count()
        require(drift == 0L,
          s"q256: serving changed across the compaction ($drift rows differ)")
        graft.Checkpoints.release(pre)
        post.select(col("o_orderkey"), col("o_custkey"), col("cents"),
            col("valid_from"), coalesce(col("valid_to"), lit(0L)).as("valid_to"))
          .orderBy("o_orderkey", "valid_from").localCheckpoint()
      }
    })
  )

  /** The q239/q246 planted page — ONE wrapper so the batch extraction
    * and its streaming gate (and the shared oracle CTE) cannot drift:
    * title + h1 (short -> dropped), a link-only nav (888 permille ->
    * dropped), two body paragraphs (kept; the second carries a
    * low-density inline anchor whose text must survive), a %4 extra
    * link-free paragraph (varies n_kept 2 -> 3 — the q246 gate keys on
    * exactly this), a sidebar link list with a %3 extra item (varies
    * n_blocks), a short footer. */
  private def mainContentPlantedHtml: Column = concat(
    lit("<html><head><title>T</title><style>p { color: red; }</style></head><body>" +
      "<nav><a href=\"/a\">Home</a> <a href=\"/b\">About</a> <a href=\"/c\">Contact</a></nav>" +
      "<h1>Doc</h1><p>Alpha A&amp;B "),
    substring(col("text"), 1, 100),
    lit("</p><p>Beta paragraph continues here "),
    substring(col("text"), 101, 100),
    lit(" <a href=\"x\">ref link</a></p>"),
    when(col("doc_id") % 4 === 0,
      lit("<p>Gamma solo paragraph without links here</p>")).otherwise(lit("")),
    lit("<ul><li><a href=\"/1\">Link one</a></li><li><a href=\"/2\">Link two</a></li>"),
    when(col("doc_id") % 3 === 0,
      lit("<li><a href=\"/3\">Link three</a></li>")).otherwise(lit("")),
    lit("</ul><footer>Contact <a href=\"/t\">Terms</a></footer></body></html>"))

  /** The q268/q269 planted conversations — ONE builder so the rendering
    * and the loss-mask spans (and both oracles' identical turn CTE)
    * cannot drift: 2 + doc_id%3 turns, a system lead per %4, otherwise
    * alternating user/assistant, content i = "c<i> " + a 25-char slice
    * of the document text. */
  private def chatPlantedMessages: Column =
    transform(sequence(lit(0), (col("doc_id") % 3 + 1).cast(IntegerType)),
      i => struct(
        when(i === 0 && col("doc_id") % 4 === 0, lit("system"))
          .when(i % 2 === 0, lit("user")).otherwise(lit("assistant"))
          .as("role"),
        concat(lit("c"), i.cast(StringType), lit(" "),
          col("text").substr(i * 25 + 1, lit(25))).as("content")))

  /** The q272 planted conversations — the q268 shape plus the lint
    * hazards, each keyed by a doc_id modulus so the oracle can replay
    * them: %5 forces `user` at i=1 (a same-role pair with a user
    * opener, or a mid-conversation pair after a system lead), %7
    * blanks i=1's content (whitespace-only turn), %11 NULLs i=2's
    * content (an INVALID turn — it must count in `n_invalid` without
    * breaking its neighbors' adjacency). */
  private def chatLintPlantedMessages: Column =
    transform(sequence(lit(0), (col("doc_id") % 3 + 1).cast(IntegerType)),
      i => struct(
        when(i === 0 && col("doc_id") % 4 === 0, lit("system"))
          .when(i === 1 && col("doc_id") % 5 === 0, lit("user"))
          .when(i % 2 === 0, lit("user")).otherwise(lit("assistant"))
          .as("role"),
        when(i === 1 && col("doc_id") % 7 === 0, lit("   "))
          .when(i === 2 && col("doc_id") % 11 === 0,
            lit(null).cast(StringType))
          .otherwise(concat(lit("c"), i.cast(StringType), lit(" "),
            col("text").substr(i * 25 + 1, lit(25)))).as("content")))

  /** The q271/q274 planted rollout table — ONE builder so the batch
    * miner and the maintained view share the exact construction and
    * q271's oracle grades both: prompt = doc_id % 173 (~3 completions
    * per prompt at sf0.01), score = (doc_id % 6) * 2 — group margins
    * land in {2, 4, 10}, so the minMargin=4 gate actually drops
    * prompts. */
  private def preferencePlantedRollouts(docs: DataFrame): DataFrame =
    docs.select(
      (col("doc_id") % 173).cast(LongType).as("prompt_id"),
      col("doc_id").cast(LongType).as("completion_id"),
      concat(lit("r"), col("doc_id").cast(StringType), lit(" "),
        col("text").substr(1, 30)).as("completion"),
      ((col("doc_id") % 6) * 2).cast(LongType).as("score"))

  /** The q271/q274 shared oracle — [[preferencePlantedRollouts]]
    * replayed, best/worst per prompt as row_number twins (score
    * DESC/ASC, id ASC ties — the operator's stated tie-break),
    * margin-gated exactly like both queries. q274 grading against this
    * IS the merge-order-invariance contract: the maintained state's
    * derived pairs equal the batch miner over all arrivals. */
  private val preferencePairsOracleSql: String =
    "WITH r AS (SELECT doc_id % 173 AS prompt_id, doc_id AS completion_id, " +
      "'r' || CAST(doc_id AS VARCHAR) || ' ' || substr(text, 1, 30) AS completion, " +
      "(doc_id % 6) * 2 AS score FROM documents), " +
      "c AS (SELECT *, " +
      "row_number() OVER (PARTITION BY prompt_id ORDER BY score DESC, completion_id ASC) AS rc, " +
      "row_number() OVER (PARTITION BY prompt_id ORDER BY score ASC, completion_id ASC) AS rr, " +
      "count(*) OVER (PARTITION BY prompt_id) AS n FROM r) " +
      "SELECT CAST(ch.prompt_id AS BIGINT) AS prompt_id, " +
      "CAST(ch.completion_id AS BIGINT) AS chosen_id, ch.completion AS chosen, " +
      "CAST(ch.score AS BIGINT) AS chosen_score, " +
      "CAST(rj.completion_id AS BIGINT) AS rejected_id, rj.completion AS rejected, " +
      "CAST(rj.score AS BIGINT) AS rejected_score, " +
      "CAST(ch.score - rj.score AS DOUBLE) AS margin, " +
      "CAST(ch.n AS BIGINT) AS n_rollouts " +
      "FROM c ch JOIN c rj ON ch.prompt_id = rj.prompt_id AND ch.rc = 1 AND rj.rr = 1 " +
      "WHERE ch.score - rj.score > 0 AND ch.score - rj.score >= 4 " +
      "ORDER BY prompt_id"

  /** The q273 planted sitemap documents — both protocol shapes plus
    * the parser hazards: %6 docs ship a `<sitemapindex>` (child a.xml
    * with a lastmod, child b.xml with a WHITESPACE-PADDED loc and no
    * lastmod), the rest a `<urlset>` (an ENTITY-ESCAPED `&amp;` query
    * loc with a lastmod, a bare second loc, and a loc-less entry that
    * must vanish). */
  private def sitemapPlantedXml: Column = {
    val h = (col("doc_id") % 7).cast(StringType)
    val p = (col("doc_id") % 50).cast(StringType)
    when(col("doc_id") % 6 === 0,
      concat(
        lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
          "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
          "<sitemap><loc>https://h"), h,
        lit(".example.com/sm/a.xml</loc><lastmod>2026-01-15</lastmod></sitemap>\n" +
          "<sitemap><loc>\n  https://h"), h,
        lit(".example.com/sm/b.xml </loc></sitemap>\n</sitemapindex>")))
      .otherwise(concat(
        lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
          "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
          "<url><loc>http://h"), h, lit(".example.com/page"), p,
        lit(".html?a=1&amp;b=2</loc><lastmod>2026-02-11</lastmod></url>\n" +
          "<url><loc>http://h"), h, lit(".example.com/p"), p,
        lit("/two</loc></url>\n" +
          "<url><lastmod>2026-03-01</lastmod></url>\n</urlset>")))
  }

  /** The q252/q263 planted crawl dump — ONE builder (the mjpegCorpus
    * convention) so the batch curation and its streaming ingest share
    * the exact construction and the q250 oracle grades both: each q239
    * page ships as the 200 text/html response of its own WARC file,
    * every response payload a REAL application/http message (status
    * line + headers + CRLFCRLF + body — a non-stripping reader leaks
    * header text into the token mass), with warcinfo + %5 request + %3
    * 404 error page + %4 200 text/plain sidecar hazards, gzip-member
    * packing %2, junk bytes between plain records otherwise. */
  private def warcCurationFiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id").cast(LongType).as("doc_id"),
        mainContentPlantedHtml.as("page"))
      .as[(Long, String)].mapPartitions { it =>
        val UTF8 = java.nio.charset.StandardCharsets.UTF_8
        import graft.sources.Warc.{gzipMember, record}
        def http(status: Int, reason: String, ctype: String, body: Array[Byte]) =
          (s"HTTP/1.1 $status $reason\r\nContent-Type: $ctype\r\n" +
            "Server: graft\r\n\r\n").getBytes(UTF8) ++ body
        it.map { case (id, page) =>
          val members = Seq(record("warcinfo", None, "graft-crawler".getBytes(UTF8))) ++
            (if (id % 5 == 0)
              Seq(record("request", Some(s"http://ex.org/$id"), "GET /".getBytes(UTF8)))
             else Seq.empty) ++
            (if (id % 3 == 0)
              Seq(record("response", Some(s"http://ex.org/$id/missing"),
                http(404, "Not Found", "text/html",
                  ("<html><p>error page not found the requested resource is gone " +
                    "try the archive mirror listing for older snapshots of this " +
                    "document tree</p></html>").getBytes(UTF8))))
             else Seq.empty) ++
            (if (id % 4 == 1)
              Seq(record("response", Some(s"http://ex.org/$id/robots.txt"),
                http(200, "OK", "text/plain; charset=utf-8",
                  ("user agent star disallow private allow public plain text " +
                    "sidecar payload that must never enter the html corpus " +
                    "token mass under the admission filter").getBytes(UTF8))))
             else Seq.empty) ++
            Seq(record("response", Some(s"http://ex.org/$id"),
              http(200, "OK",
                if (id % 2 == 0) "text/html; charset=utf-8"
                else "Text/HTML; charset=\"UTF-8\"", page.getBytes(UTF8))))
          val bytes =
            if (id % 2 == 0) members.map(gzipMember).reduce(_ ++ _)
            else members.reduce((a, b) => a ++ "NOISE\r\n".getBytes(UTF8) ++ b)
          (id, bytes)
        }
      }.toDF("file_id", "content")
  }

  /** Shared q160/q228 planted MJPEG-in-AVI corpus — ONE builder so the
    * frame-decode gate and the scene-change query (and their oracles'
    * shared planted formulas) cannot drift apart: per doc, 1 + id%3
    * grayscale JPEG frames at gray 16 + (id + 37·frame) % 224, wrapped
    * in the structural hazards the walker must absorb (rec LISTs %3,
    * audio chunks %5, a non-JPEG dc chunk %7, JUNK %2). */
  private def mjpegCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          def le32(v: Int): Array[Byte] =
            Array(v, v >> 8, v >> 16, v >> 24).map(x => (x & 0xff).toByte)
          def chunk(cid: String, data: Array[Byte]): Array[Byte] =
            cid.getBytes("US-ASCII") ++ le32(data.length) ++ data ++
              (if ((data.length & 1) == 1) Array(0.toByte) else Array.empty[Byte])
          def jpeg(w: Int, h: Int, g: Int): Array[Byte] = {
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { img.setRGB(x, y, g * 0x010101); x += 1 }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "jpg", bos)
            bos.toByteArray
          }
          val n = 1 + (id % 3).toInt
          val dcs = (0 until n).flatMap { f =>
            val w = 16 + ((id + f) % 3).toInt * 8
            val h = 16 + ((id + 2L * f) % 2).toInt * 8
            val g = 16 + ((id + 37L * f) % 224).toInt
            chunk("00dc", jpeg(w, h, g))
          }.toArray
          val framePart =
            if (id % 3 == 0) chunk("LIST", "rec ".getBytes("US-ASCII") ++ dcs)
            else dcs
          val movi = "movi".getBytes("US-ASCII") ++
            (if (id % 5 == 0) chunk("01wb", Array[Byte](1, 2, 3))
             else Array.empty[Byte]) ++
            framePart ++
            (if (id % 7 == 0) chunk("00dc", "not a jpeg".getBytes("US-ASCII"))
             else Array.empty[Byte])
          val top = "RIFF".getBytes("US-ASCII") ++ le32(0) ++
            "AVI ".getBytes("US-ASCII") ++
            (if (id % 2 == 0) chunk("JUNK", Array[Byte](7, 7, 7))
             else Array.empty[Byte]) ++
            chunk("LIST", movi)
          Multimodal.MediaRecord(id, top)
        }
      }.toDF()
  }

  /** q241/q242 planted MJPEG scene-walk corpus — 42 DISTINCT scene
    * patterns, 3 "renditions" each (doc group g = id % 42, ids < 126):
    * every video is 33 solid-gray 16x16 JPEG frames at level
    * 16 + 32·((a·f + b) % 7) + id % 3 with a = 1 + g % 6, b = g / 6 —
    * consecutive levels always differ by >= 1 step (a is nonzero mod
    * 7), so EVERY frame is a keyframe at a 15-gray cut threshold, and
    * the 32 sign-of-delta bits encode the (a, b) wrap pattern exactly.
    * In-group renditions differ only by the id % 3 brightness re-level
    * (deltas unchanged -> Hamming 0, the volume-invariance the
    * signature claims); cross-group patterns sit >= 4 bits apart
    * (verified over all 42x41/2 pairs), so maxHamming = 3 pairs
    * exactly the groups. JPEG round-trip noise (±2 gray) is 8x under
    * the 32-gray level gap — the cut AND sign decisions are
    * integer-exact despite the lossy codec. */
  private def plantedVideoMedia(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs.select(col("doc_id").cast(LongType)).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          def le32(v: Int): Array[Byte] =
            Array(v, v >> 8, v >> 16, v >> 24).map(x => (x & 0xff).toByte)
          def chunk(cid: String, data: Array[Byte]): Array[Byte] =
            cid.getBytes("US-ASCII") ++ le32(data.length) ++ data ++
              (if ((data.length & 1) == 1) Array(0.toByte) else Array.empty[Byte])
          def jpeg(g: Int): Array[Byte] = {
            val img = new java.awt.image.BufferedImage(16, 16,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < 16) {
              var x = 0
              while (x < 16) { img.setRGB(x, y, g * 0x010101); x += 1 }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "jpg", bos)
            bos.toByteArray
          }
          val g = (id % 42).toInt
          val a = 1 + g % 6
          val b = g / 6
          val dcs = (0 until 33).flatMap { f =>
            chunk("00dc", jpeg(16 + 32 * ((a * f + b) % 7) + (id % 3).toInt))
          }.toArray
          val movi = "movi".getBytes("US-ASCII") ++ dcs
          val top = "RIFF".getBytes("US-ASCII") ++ le32(0) ++
            "AVI ".getBytes("US-ASCII") ++ chunk("LIST", movi)
          Multimodal.MediaRecord(id, top)
        }
      }.toDF()
  }

  /** The q241/q242 expected video pairs: every same-group (id % 42)
    * pair among ids < 126 — stated from the ids alone, no decode. */
  private def plantedVideoPairExpectation(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), (col("doc_id") % 42).as("__g"))
    d.select(col("doc_id").as("id_a"), col("__g"))
      .join(d.select(col("doc_id").as("id_b"), col("__g")), Seq("__g"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
  }

  /** The q222/q223 snapshot CTEs — ONE string mirroring [[scdSnapshots]]
    * exactly (same planted moduli, same value bumps) so the two graded
    * SCD2 queries share one corpus definition with their Spark twins. */
  private val ScdSnapshotCtes: String =
    "WITH s1 AS (SELECT o_orderkey, o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
      "s2 AS (SELECT o_orderkey, o_custkey, CASE WHEN o_orderkey % 89 = 0 THEN cents + 1 ELSE cents END AS cents FROM s1 WHERE o_orderkey % 97 <> 0 " +
      "UNION ALL SELECT o_orderkey + 100000000, o_custkey, cents FROM s1 WHERE o_orderkey % 101 = 0), " +
      "s3 AS (SELECT o_orderkey, o_custkey, CASE WHEN o_orderkey % 7 = 0 THEN cents + 2 ELSE cents END AS cents FROM s2 WHERE o_orderkey % 103 <> 0 " +
      "UNION ALL SELECT o_orderkey, o_custkey, cents + 5 FROM s1 WHERE o_orderkey % 97 = 0 AND o_orderkey % 3 = 0)"

  /** The q239/q246/q250 planted-page CTE — the kept blocks of the shared
    * [[mainContentPlantedHtml]] wrapper stated outright, with only the
    * whitespace collapse replayed (on the planted body fragments);
    * block segmentation and the length/link-density decisions are
    * independent by construction. Ends with `m(doc_id, source, main)`. */
  private def mainContentPlantedCte(where: String): String =
    "WITH c AS (SELECT doc_id, source, trim(regexp_replace('Alpha A&B ' || substr(text, 1, 100), '[ \\t\\n\\r]+', ' ', 'g')) AS b1, " +
      "trim(regexp_replace('Beta paragraph continues here ' || substr(text, 101, 100) || ' ref link', '[ \\t\\n\\r]+', ' ', 'g')) AS b2 " +
      s"FROM documents$where), " +
      "m AS (SELECT doc_id, source, b1 || ' ' || b2 || CASE WHEN doc_id % 4 = 0 THEN ' Gamma solo paragraph without links here' ELSE '' END AS main FROM c)"

  /** The q239/q246 extraction report over [[mainContentPlantedCte]];
    * `where` restricts to the gate's keepers (q246). */
  private def mainContentOracleSqlOver(where: String): String =
    mainContentPlantedCte(where) +
      " SELECT doc_id, main, " +
      "CAST(8 + CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_blocks, " +
      "CAST(2 + CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_kept FROM m ORDER BY doc_id"

  /** The FULL-snapshot SCD2 law — an island (gaps-and-islands over the
    * per-version presence/value grid) per maximal run of identical
    * state, intervals from island extents. Shared by batch q222 and the
    * streamed CDC ingest q245 (explicit deletes replicate
    * close-on-absence exactly). */
  private val Scd2FullHistoryOracleSql: String =
    ScdSnapshotCtes + ", v AS (SELECT 1 AS ver, * FROM s1 UNION ALL SELECT 2, * FROM s2 UNION ALL SELECT 3, * FROM s3), cal AS (SELECT k.o_orderkey, g.ver FROM (SELECT DISTINCT o_orderkey FROM v) k CROSS JOIN (SELECT unnest([1, 2, 3]) AS ver) g), p AS (SELECT cal.o_orderkey, cal.ver, v.o_custkey, v.cents, CASE WHEN v.ver IS NULL THEN 0 ELSE 1 END AS present FROM cal LEFT JOIN v ON cal.o_orderkey = v.o_orderkey AND cal.ver = v.ver), c AS (SELECT *, CASE WHEN present IS DISTINCT FROM lag(present) OVER w OR o_custkey IS DISTINCT FROM lag(o_custkey) OVER w OR cents IS DISTINCT FROM lag(cents) OVER w THEN 1 ELSE 0 END AS chg FROM p WINDOW w AS (PARTITION BY o_orderkey ORDER BY ver)), i AS (SELECT *, sum(chg) OVER (PARTITION BY o_orderkey ORDER BY ver) AS island FROM c), agg AS (SELECT o_orderkey, island, min(o_custkey) AS o_custkey, min(cents) AS cents, min(present) AS present, min(ver) AS valid_from, max(ver) AS max_ver FROM i GROUP BY o_orderkey, island) SELECT o_orderkey, o_custkey, cents, CAST(valid_from AS BIGINT) AS valid_from, CAST(CASE WHEN max_ver = 3 THEN 0 ELSE max_ver + 1 END AS BIGINT) AS valid_to FROM agg WHERE present = 1 ORDER BY o_orderkey, valid_from"

  /** The upsert-SCD2 law stated directly — shared by batch q229 and its
    * streamed deployment q240: the history IS the delta log, each
    * interval running to the key's next delta (lead), open at the end. */
  private val Scd2UpsertOracleSql: String =
    ScdSnapshotCtes + ", d2 AS (SELECT s2.o_orderkey, s2.o_custkey, s2.cents FROM s2 LEFT JOIN s1 ON s1.o_orderkey = s2.o_orderkey WHERE s1.o_orderkey IS NULL OR s1.o_custkey IS DISTINCT FROM s2.o_custkey OR s1.cents IS DISTINCT FROM s2.cents), d3 AS (SELECT s3.o_orderkey, s3.o_custkey, s3.cents FROM s3 LEFT JOIN s2 ON s2.o_orderkey = s3.o_orderkey WHERE s2.o_orderkey IS NULL OR s2.o_custkey IS DISTINCT FROM s3.o_custkey OR s2.cents IS DISTINCT FROM s3.cents), dlog AS (SELECT 1 AS ver, * FROM s1 UNION ALL SELECT 2, * FROM d2 UNION ALL SELECT 3, * FROM d3) SELECT o_orderkey, o_custkey, cents, CAST(ver AS BIGINT) AS valid_from, CAST(coalesce(lead(ver) OVER (PARTITION BY o_orderkey ORDER BY ver), 0) AS BIGINT) AS valid_to FROM dlog ORDER BY o_orderkey, valid_from"

  /** The q225/q237 PIT oracle — ONE string for both: the streamed
    * enrichment is graded against the exact batch point-in-time SQL
    * (intervals partition the timeline, so PIT at version v IS a join
    * against snapshot v — stated per-fact, no history reconstruction). */
  private val PitOracleSql: String =
    ScdSnapshotCtes + ", v AS (SELECT 1 AS ver, * FROM s1 UNION ALL SELECT 2, * FROM s2 UNION ALL SELECT 3, * FROM s3), f AS (SELECT l_orderkey AS o_orderkey, l_linenumber, CAST(l_linenumber % 3 + 1 AS BIGINT) AS ver FROM lineitem) SELECT f.o_orderkey, f.l_linenumber, f.ver, CAST(coalesce(v.o_custkey, -1) AS BIGINT) AS custkey_at, CAST(coalesce(v.cents, -1) AS BIGINT) AS cents_at FROM f LEFT JOIN v ON f.o_orderkey = v.o_orderkey AND f.ver = v.ver ORDER BY f.o_orderkey, f.l_linenumber"

  /** The q140/q143 BM25 oracle — ONE string for both: the streaming
    * serving loop is graded against the exact batch retrieval SQL
    * (batch-partitioning invariance of a fixed index's top-k). */
  private val Bm25OracleSql: String =
    """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token FROM documents), tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2), dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1), st AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n, CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl), dfx AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1), q(query_id, qtext) AS (VALUES ('q_filter', 'customer filter query'), ('q_sort', 'fast sort merge'), ('q_stream', 'spark stream window')), qt AS (SELECT query_id, unnest(list_distinct(regexp_extract_all(lower(qtext), '[a-z0-9]+'))) AS token FROM q), m AS (SELECT qt.query_id, tf.doc_id, tf.token, ln(1 + (st.n - dfx.df + 0.5) / (dfx.df + 0.5)) * ((tf.tf * (1.2 + 1)) / (tf.tf + 1.2 * ((1 - 0.75) + 0.75 * (dl.dl / st.avgdl)))) AS c FROM qt JOIN dfx USING (token) JOIN tf USING (token) JOIN dl USING (doc_id), st), s AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms, list_aggregate(list(c ORDER BY token), 'sum') AS score FROM m GROUP BY 1, 2), r AS (SELECT query_id, doc_id, n_terms, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk FROM s) SELECT query_id, CAST(rnk AS BIGINT) AS rank, doc_id, n_terms FROM r WHERE rnk <= 10 ORDER BY query_id, rank"""

  /** The q145/q146 vocabulary-encode oracle — ONE string for both: the
    * streaming gate is graded against the exact batch encoding SQL
    * (batch-partitioning invariance of a pinned vocabulary). */
  private val VocabEncodeOracleSql: String =
    """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents), cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM (SELECT unnest(ts) AS token FROM tok) GROUP BY 1), v AS (SELECT token, CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS token_id FROM cnt ORDER BY n DESC, token LIMIT 200), e AS (SELECT t.doc_id, CAST(i - 1 AS BIGINT) AS pos, t.ts[i] AS token FROM tok t, LATERAL unnest(range(1, len(t.ts) + 1)) AS u(i)) SELECT e.doc_id, e.pos, CAST(coalesce(v.token_id, 0) AS BIGINT) AS token_id FROM e LEFT JOIN v USING (token) ORDER BY doc_id, pos"""

  /** The q258/q259 planted robots corpus — ONE builder (the
    * mainContentPlantedHtml convention) so the batch decision and the
    * frontier deployment cannot drift from the shared oracle CTE. h3 has
    * no robots.txt at all (the allow-everything default). */
  private def robotsPlantedTxt(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      // h0 carries a TOP-OF-FILE sitemap (before any group — the
      // directive is group-independent per the sitemaps.org protocol
      // and must neither start a group nor leak into the rules)
      ("h0.example.com", "Sitemap: https://h0.example.com/sitemap.xml\n" +
        "# site rules\nUser-agent: *\nDisallow: /private"),
      ("h1.example.com", "User-agent: GraftBot\nDisallow: /\nAllow: /public\n" +
        "User-agent: *\nAllow: /"),
      // h2: two trailing sitemaps, one lowercase key (case-insensitive)
      ("h2.example.com", "User-agent: *\nDisallow: /*.pdf$\n" +
        "Sitemap: https://h2.example.com/sm/one.xml\n" +
        "sitemap: https://h2.example.com/sm/two.xml"),
      ("h4.example.com", "User-agent: other\nDisallow: /"),
      // h5: a MID-GROUP sitemap line (between two rules of one group —
      // must not split the group or change any decision)
      ("h5.example.com", "User-agent: *\nAllow: /a/b\n" +
        "Sitemap: http://h5.example.com/s.xml\nDisallow: /a"),
      ("h6.example.com", "User-agent: graftbot\nUser-agent: other\nDisallow: /doc"))
      .toDF("host", "robots_txt")
  }

  /** The q258/q259 planted path, from doc_id % 5 — mirrors the oracle
    * CTE's CASE exactly. */
  private def robotsPlantedPath: Column =
    when(col("doc_id") % 5 === 0,
        concat(lit("/private/p"), col("doc_id").cast(StringType)))
      .when(col("doc_id") % 5 === 1,
        concat(lit("/public/q"), col("doc_id").cast(StringType)))
      .when(col("doc_id") % 5 === 2,
        concat(lit("/doc"), col("doc_id").cast(StringType), lit(".pdf")))
      .when(col("doc_id") % 5 === 3,
        concat(lit("/a/b/r"), col("doc_id").cast(StringType)))
      .otherwise(concat(lit("/a/c"), col("doc_id").cast(StringType)))

  /** The q258/q259 planted URL universe — ONE CTE so the batch decision
    * and the frontier deployment share a single construction. */
  private lazy val RobotsPlantedCte: String =
    "WITH u AS (SELECT doc_id, doc_id % 7 AS h, doc_id % 5 AS m, " +
      "CASE doc_id % 5 WHEN 0 THEN '/private/p' || CAST(doc_id AS VARCHAR) " +
      "WHEN 1 THEN '/public/q' || CAST(doc_id AS VARCHAR) " +
      "WHEN 2 THEN '/doc' || CAST(doc_id AS VARCHAR) || '.pdf' " +
      "WHEN 3 THEN '/a/b/r' || CAST(doc_id AS VARCHAR) " +
      "ELSE '/a/c' || CAST(doc_id AS VARCHAR) END AS path FROM documents)"

  /** The per-(host, path) RFC decision, stated outright. */
  private lazy val RobotsAllowedCase: String =
    "(CASE h WHEN 0 THEN m <> 0 WHEN 1 THEN m = 1 WHEN 2 THEN m <> 2 " +
      "WHEN 5 THEN m <> 4 WHEN 6 THEN m <> 2 ELSE TRUE END)"

  /** The q253/q254 oracle — ONE string for both: the streaming gate
    * accumulates exactly the batch flag set (batch-partitioning
    * invariance of per-arrival probes against a fixed benchmark). */
  private lazy val EmbedDecontaminateOracleSql: String =
    "WITH bench AS (SELECT embedding FROM embeddings WHERE vec_id < 100), " +
      "corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 100 " +
      "UNION ALL SELECT vec_id + 1000000, list_transform(embedding, x -> 1.5 * x) FROM embeddings WHERE vec_id < 50 " +
      "UNION ALL SELECT vec_id + 2000000, list_transform(embedding, x -> -x) FROM embeddings WHERE vec_id >= 50 AND vec_id < 75) " +
      "SELECT DISTINCT c.vec_id AS vec_id FROM corpus c JOIN bench b " +
      "ON list_cosine_similarity(c.embedding, b.embedding) >= 0.95 ORDER BY c.vec_id"

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap
  lazy val oracleSql: Map[String, String] = all.map(q => q.name -> q.oracle).toMap
}
