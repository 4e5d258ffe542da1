package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the "is my training corpus polluted with my
  * eval set?" gate every serious pretraining pipeline runs. A corpus
  * document is CONTAMINATED when it shares at least one word n-gram with
  * any benchmark document (n-gram containment; n=13 is the GPT-3/PaLM
  * convention — long enough that a shared n-gram is near-certain copying,
  * short enough to catch partial quotes).
  *
  * Scale design: both sides explode to (id, xxhash64(n-gram)) rows — the
  * n-grams are hashed BEFORE the shuffle so join keys are 8 bytes, never
  * strings (Dedup.hashedWordNgrams, no per-shingle string building). The
  * benchmark side is deduplicated to its distinct n-gram set, which for a
  * real eval suite is tiny (thousands of docs) — AQE broadcasts it from its
  * runtime size and the corpus side then streams through a broadcast semi
  * join: one narrow pass over the 100 TB corpus, no corpus shuffle. With a
  * corpus-sized right side the same plan degrades gracefully to a shuffled
  * semi join on the 8-byte hash. Cost tracks total corpus tokens, never
  * |corpus| × |benchmark|.
  */
object Decontaminate {

  /** Ids of `corpus` documents sharing >= 1 word n-gram with `benchmark`.
    * Documents shorter than n tokens emit no n-grams and are clean by
    * definition. 64-bit n-gram hash collisions (~1e-15 per distinct pair)
    * are the standard accepted risk, as in the MinHash pipeline. */
  def contaminatedIds(corpus: DataFrame, benchmark: DataFrame,
                      idCol: String, textCol: String, n: Int = 13): DataFrame = {
    def grams(df: DataFrame) = df.select(col(idCol),
      explode(Dedup.hashedWordNgrams(col(textCol), n)).as("__g"))
    corpus.transform(grams)
      .join(grams(benchmark).select(col("__g")).distinct(), Seq("__g"), "left_semi")
      .select(col(idCol))
      .distinct()
  }

  /** The decontaminated corpus: drop every contaminated document. */
  def scrub(corpus: DataFrame, benchmark: DataFrame,
            idCol: String, textCol: String, n: Int = 13): DataFrame =
    corpus.join(contaminatedIds(corpus, benchmark, idCol, textCol, n),
      Seq(idCol), "left_anti")

  /** SEMANTIC decontamination — the embedding-space form [[contaminatedIds]]
    * cannot see: a paraphrased benchmark item shares no 13-gram with its
    * source, but its embedding sits at cosine ~1. Ids of `corpus` rows with
    * ANY `benchmark` row at cosine >= `threshold`.
    *
    * The side asymmetry is the point (and why this is not
    * `Similarity.embedDupIds` called backwards): a benchmark suite is
    * thousands of vectors while the corpus is the 100 TB side, so the
    * BENCHMARK broadcasts into one corpus scan — the corpus never
    * shuffles, each (corpus, benchmark) pair costs one codegen'd dot
    * product against precomputed norms, and only matched corpus ids reach
    * the distinct (`embedDupIds` broadcasts its probe batch instead; both
    * are the q112 plan shape with the small side chosen by role).
    * Non-finite/zero-norm vectors on either side are excluded — a failed
    * embed must neither flag nor anchor flags (the `semanticDedup`
    * zero-norm guard's rationale). */
  def embedContaminatedIds(corpus: DataFrame, benchmark: DataFrame,
                           idCol: String, vecCol: String,
                           threshold: Double): DataFrame = {
    import graft.similarity.Similarity.{dot, finitePositive, norm}
    require(threshold >= 0, "dot-product threshold rewrite assumes cosine threshold >= 0")
    val b = benchmark.select(col(vecCol).as("__bv"))
      .withColumn("__bn", norm(col("__bv")))
      .filter(finitePositive(col("__bn")))
    val c = corpus.select(col(idCol).as("__id"), col(vecCol).as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
      .filter(finitePositive(col("__cn")))
    c.crossJoin(org.apache.spark.sql.functions.broadcast(b))
      .filter(dot(col("__cv"), col("__bv")) >= col("__cn") * col("__bn") * lit(threshold))
      .select(col("__id").as(idCol))
      .distinct()
  }

  /** The semantically-decontaminated corpus: drop every flagged row. */
  def embedScrub(corpus: DataFrame, benchmark: DataFrame,
                 idCol: String, vecCol: String, threshold: Double): DataFrame =
    corpus.join(embedContaminatedIds(corpus, benchmark, idCol, vecCol, threshold),
      Seq(idCol), "left_anti")

  /** IVF-accelerated [[embedContaminatedIds]] — the scale path when the
    * benchmark suite itself is large (a 100k-vector multi-benchmark sweep
    * makes the brute-force form's |benchmark| dots per corpus row the most
    * expensive pass in the pipeline): the corpus is cell-assigned ONCE
    * (the prebuilt [[graft.similarity.Similarity.IvfIndex]] — reuse a
    * maintained one, or the one-shot overload trains it), each benchmark
    * vector probes only its `nprobe` nearest cells, and exact cosine runs
    * on candidates only — per corpus row ~nprobe/numCells of the
    * benchmark instead of all of it.
    *
    * Plan shape: the benchmark side explodes to (cell, vector) pairs —
    * |benchmark| × nprobe rows, still the small side — and broadcasts
    * into ONE equi-join on the cell id against the assigned corpus; the
    * corpus never shuffles (the q253 asymmetry, kept). A corpus row lives
    * in exactly one cell and a benchmark vector probes distinct cells, so
    * candidate pairs are unique — the distinct dedups only multi-match
    * ids, same as brute force.
    *
    * Recall: cell assignment is scale-invariant (argmax of dot/|c| — a
    * positively-scaled twin lands in its source's TOP cell, which every
    * nprobe >= 1 probes), so paraphrase-shaped twins near cosine 1 are
    * caught even at nprobe = 1; vectors near the threshold on a CELL
    * BOUNDARY are the approximation loss — `nprobe = numCells` degrades
    * to exactly the brute-force form (graded, the q113 contract). */
  def embedContaminatedIdsIvf(index: graft.similarity.Similarity.IvfIndex,
                              benchmark: DataFrame, idCol: String,
                              vecCol: String, threshold: Double,
                              nprobe: Int): DataFrame = {
    import graft.similarity.Similarity
    import Similarity.{dot, finitePositive, norm}
    require(threshold >= 0, "dot-product threshold rewrite assumes cosine threshold >= 0")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val cellScores = array(
      Similarity.centroidScoreStructs(col("__bv"), index.cents): _*)
    val b = benchmark.select(col(vecCol).as("__bv"))
      .withColumn("__bn", norm(col("__bv")))
      .filter(finitePositive(col("__bn")))
      .withColumn("__centroid",
        explode(slice(array_sort(cellScores), 1, nprobe).getField("cid")))
    // build-time norms when the index has them; a hand-built index
    // without __cn pays the per-call norm pass (the knnJoinIvf contract)
    val base =
      if (index.assigned.columns.contains("__cn")) index.assigned
      else index.assigned.withColumn("__cn", norm(col(vecCol)))
    val c = base.select(col(idCol).as("__id"), col(vecCol).as("__cv"),
        col("__centroid"), col("__cn"))
      .filter(finitePositive(col("__cn")))
    c.join(broadcast(b), Seq("__centroid"))
      .filter(dot(col("__cv"), col("__bv")) >= col("__cn") * col("__bn") * lit(threshold))
      .select(col("__id").as(idCol))
      .distinct()
  }

  /** One-shot form: train `numCells` centroids over the corpus, assign
    * once, probe. Production pipelines that already maintain an IVF index
    * (`IncrementalStream.indexIngest`) should pass it to the index form
    * instead — the assignment pass is the expensive half at corpus
    * scale. */
  def embedContaminatedIdsIvf(corpus: DataFrame, benchmark: DataFrame,
                              idCol: String, vecCol: String, threshold: Double,
                              numCells: Int, nprobe: Int): DataFrame =
    embedContaminatedIdsIvf(
      graft.similarity.Similarity.ivfIndex(corpus, idCol, vecCol, numCells),
      benchmark, idCol, vecCol, threshold, nprobe)

  /** SPAN-LEVEL contamination accounting — the surgical alternative to
    * dropping whole documents: a long, mostly-clean document that quotes
    * one benchmark passage loses the quoted tokens, not its other 50k.
    * For every corpus document, the exact number of token positions
    * covered by at least one contaminated n-gram window (overlapping
    * windows UNION — a position is removed once however many windows
    * cover it). Output: (idCol, n_tokens, n_removed), one row per corpus
    * document — n_removed = 0 for clean docs and for docs shorter than n
    * tokens (no window can exist). Integers only, the engine's
    * cross-engine determinism contract.
    *
    * Plan shape: both sides build the positional n-gram index
    * (`Dedup.positionalGrams` — the passage-dedup extractor, one
    * tokenizer pass per doc, 8-byte gram hashes); the benchmark's
    * distinct gram set broadcasts (benchmark-sized by the
    * decontamination contract) into a semi join over the corpus index,
    * surviving windows explode to their n covered positions, and the
    * per-doc distinct+count shuffles only CONTAMINATED-window positions —
    * cost tracks contamination volume, not corpus size, on top of the
    * one narrow index pass. */
  /** The shared covered-position core of [[contaminatedSpanStats]] and
    * [[scrubSpans]]: (idCol, __p) — every DISTINCT 0-based token position
    * of `corpus` covered by at least one contaminated n-gram window. One
    * definition so the accounting and the scrub cannot diverge (their
    * spec pins removed = n_tokens − kept). */
  private def coveredPositions(corpus: DataFrame, benchmark: DataFrame,
                               idCol: String, textCol: String, n: Int): DataFrame = {
    val cg = Dedup.positionalGrams(corpus, idCol, textCol, n, idCol)
    val bg = Dedup.positionalGrams(benchmark, idCol, textCol, n, idCol)
      .select(col("__g")).distinct()
    cg.join(bg, Seq("__g"), "left_semi")
      .select(col(idCol), explode(sequence(col("__pos"), col("__pos") + (n - 1))).as("__p"))
      .distinct()
  }

  def contaminatedSpanStats(corpus: DataFrame, benchmark: DataFrame,
                            idCol: String, textCol: String, n: Int = 13): DataFrame = {
    val removed = coveredPositions(corpus, benchmark, idCol, textCol, n)
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_removed"))
    corpus
      .select(col(idCol),
        size(graft.text.TextAnalysis.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(removed, Seq(idCol), "left")
      .withColumn("n_removed", coalesce(col("n_removed"), lit(0L)))
  }

  /** The surgically decontaminated corpus: every document's token array
    * with the covered positions of [[contaminatedSpanStats]] removed —
    * (idCol, clean_tokens). Documents with nothing to remove keep their
    * full token array (the join is left; null coverage means clean).
    * Downstream stages that consume token arrays (chunking, packing,
    * token counting) compose directly; reconstructing surface text is
    * deliberately out of scope (tokenization is lossy — the pipeline
    * contract downstream of scrubbing is token-level anyway). */
  def scrubSpans(corpus: DataFrame, benchmark: DataFrame,
                 idCol: String, textCol: String, n: Int = 13): DataFrame =
    scrubCovered(corpus, coveredPositions(corpus, benchmark, idCol, textCol, n),
      idCol, textCol)

  /** The shared scrub tail of [[scrubSpans]] and [[selfScrubSpans]]: drop
    * every covered 0-based token position from each document's token
    * array. ONE implementation so the two scrub rules cannot diverge in
    * how coverage is applied. */
  private def scrubCovered(corpus: DataFrame, coveredPos: DataFrame,
                           idCol: String, textCol: String): DataFrame = {
    val covered = coveredPos
      .groupBy(col(idCol))
      .agg(array_sort(collect_set(col("__p"))).as("__cov"))
    corpus
      .select(col(idCol), graft.text.TextAnalysis.tokens(col(textCol)).as("__toks"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__cov").isNull, col("__toks"))
          .otherwise(filter(col("__toks"), (_, i) => !array_contains(col("__cov"), i)))
          .as("clean_tokens"))
  }

  /** CORPUS-SELF surgical span removal — the RefinedWeb/CCNet-style
    * boilerplate scrub, [[scrubSpans]]'s self-referential twin: instead of
    * a benchmark, the contamination source is the corpus ITSELF — every
    * n-gram window appearing in MORE THAN `maxDf` distinct documents is a
    * globally duplicated passage (navigation chrome, license headers,
    * templated paragraphs), and every token position it covers is removed
    * from every document carrying it. Exact duplicates of whole documents
    * scrub to empty (each of their windows recurs in the twin) — pair
    * with whole-doc dedup first if that is not intended; the operator's
    * contract is the span RULE, not a dedup policy.
    *
    * Plan shape: one positional-gram index pass (`Dedup.positionalGrams`,
    * 8-byte hashed keys), a gram-distinct df aggregate gated at `maxDf`
    * (the q94/q142 hot-key gate), and a semi join back — covered
    * positions shuffle only for DUPLICATED windows, so cost tracks
    * duplication volume, not corpus size. Returns (idCol, clean_tokens),
    * composing with chunking/packing like every scrub. */
  def selfScrubSpans(corpus: DataFrame, idCol: String, textCol: String,
                     n: Int = 8, maxDf: Int = 1): DataFrame = {
    require(n >= 1 && maxDf >= 1, s"selfScrubSpans: n/maxDf must be >= 1")
    val cg = Dedup.positionalGrams(corpus, idCol, textCol, n, idCol)
    val hot = cg.select(col(idCol), col("__g")).distinct()
      .groupBy(col("__g")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf).select(col("__g"))
    // no .distinct() here: scrubCovered's collect_set dedups positions
    // covered by overlapping hot windows — a distinct would shuffle the
    // duplicated-window position stream twice for identical output
    // (coveredPositions keeps its own distinct because spanStats COUNTS)
    val covered = cg.join(hot, Seq("__g"), "left_semi")
      .select(col(idCol),
        explode(sequence(col("__pos"), col("__pos") + (n - 1))).as("__p"))
    scrubCovered(corpus, covered, idCol, textCol)
  }

  /** CROSS-DOCUMENT maximal duplicated-span coverage — the ExactSubstr-style
    * dedup of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better": every maximal token span of length >= `minRunTokens` shared
    * verbatim between two DISTINCT documents is removed from BOTH. This is
    * the missing middle of the span family: [[selfScrubSpans]] removes hot
    * boilerplate windows (df > maxDf, no contiguity requirement),
    * `Dedup.passagePairs` DETECTS the longest shared run per doc pair —
    * this one turns every qualifying run into removed positions.
    *
    * Formulation (the suffix-array result re-expressed relationally, the
    * q94 diagonal trick): a span shared between docs a and b of token
    * length L >= k appears as L-k+1 positional k-gram matches whose
    * (pa - pb) diagonal is constant; per (pair, diagonal), maximal runs of
    * consecutive pa (islands via pa - row_number) ARE the maximal shared
    * spans, token length run + k - 1. Runs >= minRunTokens explode to
    * covered positions on BOTH sides ([s, s+rt) on a; shifted by the
    * diagonal on b); the union over all partners is what gets scrubbed.
    *
    * Scale shape: one positional-gram index pass (8-byte hashed keys,
    * `Dedup.positionalGrams`), the [2, maxDocFreq] doc-frequency gate
    * before the self-join (pair fan-out is quadratic in a gram's df; grams
    * hotter than maxDocFreq are boilerplate — [[selfScrubSpans]]'s domain —
    * so spans crossing a hot gram split at it, a documented semantic of the
    * gate, replayed identically by the oracle), island windows partitioned
    * by (pair, diagonal) — granular keys, never a corpus-sized partition.
    * Cost tracks duplication volume, not |corpus|^2. */
  private def duplicatedSpanCovered(corpus: DataFrame, idCol: String,
                                    textCol: String, k: Int,
                                    minRunTokens: Int, maxDocFreq: Int): DataFrame = {
    require(k >= 2, s"k-gram size must be >= 2, got $k")
    require(minRunTokens >= k, s"minRunTokens ($minRunTokens) must be >= k ($k)")
    require(maxDocFreq >= 2,
      s"maxDocFreq ($maxDocFreq) < 2 gates out every pairable gram — nothing could ever match")
    val grams = Dedup.positionalGrams(corpus, idCol, textCol, k, idCol)
    val pairable = grams.groupBy("__g")
      .agg(count_distinct(col(idCol)).as("__df"))
      .filter(col("__df").between(2, maxDocFreq))
      .select("__g")
    val kept = grams.join(pairable, Seq("__g"))
    val a = kept.select(col(idCol).as("__ida"), col("__pos").as("__pa"), col("__g"))
    val b = kept.select(col(idCol).as("__idb"), col("__pos").as("__pb"),
      col("__g").as("__gb"))
    val anchors = a.join(b, col("__g") === col("__gb") && col("__ida") < col("__idb"))
      .select(col("__ida"), col("__idb"), col("__pa"),
        (col("__pa") - col("__pb")).as("__d"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__ida", "__idb", "__d").orderBy("__pa")
    val spans = anchors.withColumn("__grp", col("__pa") - row_number().over(w))
      .groupBy("__ida", "__idb", "__d", "__grp")
      .agg(min(col("__pa")).cast("long").as("__s"),
        (count(lit(1)) + (k - 1)).as("__rt"))
      .filter(col("__rt") >= minRunTokens)
    // both members of the pair lose the span — the b side shifts by the
    // diagonal (pb = pa - d); distinct because overlapping spans from
    // different partners cover the same positions once
    spans.select(col("__ida").as(idCol),
        explode(sequence(col("__s"), col("__s") + col("__rt") - 1)).as("__p"))
      .unionByName(spans.select(col("__idb").as(idCol),
        explode(sequence(col("__s") - col("__d"),
          col("__s") - col("__d") + col("__rt") - 1)).as("__p")))
      .distinct()
  }

  /** Removal accounting for [[duplicatedSpanCovered]]: (idCol, n_tokens,
    * n_removed), one row per corpus document, n_removed = 0 for docs
    * carrying no qualifying shared span — the [[contaminatedSpanStats]]
    * contract with the corpus itself as both sides. Integers only. */
  def duplicatedSpanStats(corpus: DataFrame, idCol: String, textCol: String,
                          k: Int = 8, minRunTokens: Int = 20,
                          maxDocFreq: Int = 20): DataFrame = {
    val removed =
      duplicatedSpanCovered(corpus, idCol, textCol, k, minRunTokens, maxDocFreq)
        .groupBy(col(idCol)).agg(count(lit(1)).as("n_removed"))
    corpus
      .select(col(idCol),
        size(graft.text.TextAnalysis.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(removed, Seq(idCol), "left")
      .withColumn("n_removed", coalesce(col("n_removed"), lit(0L)))
  }

  /** The scrubbed corpus: every document's token array with all maximal
    * cross-document duplicated spans (>= minRunTokens) removed —
    * (idCol, clean_tokens), the [[scrubSpans]] tail applied to
    * [[duplicatedSpanCovered]]. Exact whole-document duplicates scrub each
    * other to empty (every window recurs in the twin) — run whole-doc
    * dedup first if one copy should survive; the operator's contract is
    * the span rule, not a keep-one policy. */
  def scrubDuplicatedSpans(corpus: DataFrame, idCol: String, textCol: String,
                           k: Int = 8, minRunTokens: Int = 20,
                           maxDocFreq: Int = 20): DataFrame =
    scrubCovered(corpus,
      duplicatedSpanCovered(corpus, idCol, textCol, k, minRunTokens, maxDocFreq),
      idCol, textCol)

  /** The df-gate's SPAN-SPLIT LOSS, quantified — [[duplicatedSpanCovered]]
    * deliberately diverges from Lee et al.'s exact ExactSubstr rule: grams
    * hotter than `maxDocFreq` are excluded before the pair join (the
    * quadratic-fan-out bound), so a maximal span CROSSING a hot gram
    * splits at it and any sub-span shorter than `minRunTokens` loses its
    * coverage entirely. This operator measures that divergence instead of
    * just documenting it: per document, covered positions under the exact
    * rule (the same formulation with the df gate's upper bound removed —
    * gated coverage is a SUBSET by construction, so n_lost >= 0 always)
    * vs under the gate, with the integer permille loss share
    * (n_lost*1000 div n_exact, the Drift convention). Only documents with
    * exact coverage emit — loss is trivially 0 elsewhere.
    *
    * Measured on the planted hot-crossing corpus (q204, 8-gram windows,
    * minRun 20, gate 20): a 59-token shared span crossing a 24-token hot
    * region loses exactly the interior hot windows' span — 169 permille;
    * a 44-token span whose post-split remainder falls under minRun loses
    * that whole side — 500 permille; documents whose ONLY duplication IS
    * the hot region lose everything — 1000 permille, which is the gate
    * working as designed (df > maxDocFreq boilerplate is
    * [[selfScrubSpans]]' domain, deliberately not ExactSubstr's). On the
    * un-planted sf0.01 documents corpus at the default knobs the loss is
    * 0 permille corpus-wide — natural shared spans there never cross a
    * df>20 gram, so the gate's divergence is confined to boilerplate.
    *
    * COST WARNING: the exact arm pays the quadratic pair fan-out the gate
    * exists to avoid — run this audit on a SAMPLE or a bounded slice at
    * 100 TB, never the full corpus (the audit's own df counts are still
    * one partial-aggregated pass; it is the hot grams' pair join that
    * explodes). */
  def spanGateLoss(corpus: DataFrame, idCol: String, textCol: String,
                   k: Int = 8, minRunTokens: Int = 20,
                   maxDocFreq: Int = 20): DataFrame = {
    val exact =
      duplicatedSpanCovered(corpus, idCol, textCol, k, minRunTokens, Int.MaxValue)
        .groupBy(col(idCol)).agg(count(lit(1)).cast("long").as("n_exact"))
    val gated =
      duplicatedSpanCovered(corpus, idCol, textCol, k, minRunTokens, maxDocFreq)
        .groupBy(col(idCol)).agg(count(lit(1)).cast("long").as("n_gated"))
    exact.join(gated, Seq(idCol), "left")
      .withColumn("n_gated", coalesce(col("n_gated"), lit(0L)))
      .select(col(idCol), col("n_exact"), col("n_gated"),
        (col("n_exact") - col("n_gated")).as("n_lost"),
        expr("((n_exact - n_gated) * 1000) div n_exact").cast("long").as("loss_pm"))
  }

  /** Persisted positional-gram index rows for the duplicated-span family:
    * (idCol, pos, g) — one row per k-token window, 8-byte hashed gram.
    * This is the materialization production substring-dedup pipelines
    * keep (~20 bytes/token, linear, far smaller than re-tokenizing the
    * text per probe); the continuous twin
    * (IncrementalStream.dupSpanIndexIngest) appends exactly these rows
    * per micro-batch. `k` is the family knob: every probe and every
    * append against one index must use the SAME k or diagonals are
    * meaningless — the band-index family contract. */
  def dupSpanIndexRows(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 8): DataFrame = {
    require(k >= 2, s"k-gram size must be >= 2, got $k")
    Dedup.positionalGrams(df, idCol, textCol, k, idCol)
      .select(col(idCol), col("__pos").cast("long").as("pos"), col("__g").as("g"))
  }

  /** BATCH-vs-REFERENCE duplicated-span scrub — the ingest-time deployment
    * of [[scrubDuplicatedSpans]]: spans of `batch` documents shared
    * (>= minRunTokens, maximal, same diagonal formulation) with ANY
    * `reference` document are removed from the BATCH side only; the stored
    * reference corpus is never rewritten by an arrival. Used per
    * micro-batch by the streaming gate (IncrementalStream.dupSpanScrubGate)
    * with the accumulated corpus as the reference.
    *
    * The df gate is REFERENCE-side only and [1, maxDocFreq]: one reference
    * occurrence is contamination for an arrival (unlike the batch
    * operator's [2, ...] — there a gram needs two docs to form a pair),
    * while grams hotter than maxDocFreq stay boilerplate-gated. An id
    * present on both sides never matches itself (ida =!= idb), so a
    * reference that already absorbed the arrival doesn't scrub it to
    * empty. */
  def scrubDuplicatedSpansAgainst(batch: DataFrame, reference: DataFrame,
                                  idCol: String, textCol: String,
                                  k: Int = 8, minRunTokens: Int = 20,
                                  maxDocFreq: Int = 20): DataFrame =
    scrubDuplicatedSpansAgainstIndex(batch,
      dupSpanIndexRows(reference, idCol, textCol, k),
      idCol, textCol, k, minRunTokens, maxDocFreq)

  /** [[scrubDuplicatedSpansAgainst]] with the reference side as a
    * PRE-BUILT positional-gram index ([[dupSpanIndexRows]] rows, possibly
    * accumulated by IncrementalStream.dupSpanIndexIngest) — the serving
    * shape: the reference corpus is never re-tokenized per probe, only
    * its index rows join. The df gate applies AT READ over the
    * accumulated index, so a gram crossing maxDocFreq as the index grows
    * drops from matching retroactively (the q183 at-read-gate semantics).
    * ONE implementation with the direct form (it delegates here) so the
    * two deployments cannot diverge. */
  def scrubDuplicatedSpansAgainstIndex(batch: DataFrame, refIndex: DataFrame,
                                       idCol: String, textCol: String,
                                       k: Int = 8, minRunTokens: Int = 20,
                                       maxDocFreq: Int = 20): DataFrame = {
    require(k >= 2, s"k-gram size must be >= 2, got $k")
    require(minRunTokens >= k, s"minRunTokens ($minRunTokens) must be >= k ($k)")
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val bg = Dedup.positionalGrams(batch, idCol, textCol, k, idCol)
    val rg = refIndex.select(col(idCol), col("pos").as("__pos"), col("g").as("__g"))
    val gated = rg.groupBy("__g")
      .agg(count_distinct(col(idCol)).as("__df"))
      .filter(col("__df") <= maxDocFreq)
      .select("__g")
    val ref = rg.join(gated, Seq("__g"))
      .select(col(idCol).as("__idb"), col("__pos").as("__pb"), col("__g").as("__gb"))
    val anchors = bg
      .select(col(idCol).as("__ida"), col("__pos").as("__pa"), col("__g"))
      .join(ref, col("__g") === col("__gb") && col("__ida") =!= col("__idb"))
      .select(col("__ida"), col("__idb"), col("__pa"),
        (col("__pa") - col("__pb")).as("__d"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__ida", "__idb", "__d").orderBy("__pa")
    val covered = anchors.withColumn("__grp", col("__pa") - row_number().over(w))
      .groupBy("__ida", "__idb", "__d", "__grp")
      .agg(min(col("__pa")).cast("long").as("__s"),
        (count(lit(1)) + (k - 1)).as("__rt"))
      .filter(col("__rt") >= minRunTokens)
      // batch side only — scrubCovered's collect_set dedups overlaps
      .select(col("__ida").as(idCol),
        explode(sequence(col("__s"), col("__s") + col("__rt") - 1)).as("__p"))
    scrubCovered(batch, covered, idCol, textCol)
  }

  /** STREAMING decontamination gate: `corpusStream` is an unbounded arrival
    * stream of documents; emit each contaminated id once, as it arrives —
    * the ingest-time deployment of [[contaminatedIds]] (flag eval-set
    * pollution the moment a crawler delivers it, instead of re-scanning the
    * accumulated corpus nightly).
    *
    * Plan shape (the 100 TB-stream story): the stream explodes to hashed
    * n-gram keys and STREAM-STATIC left-semi joins the benchmark's distinct
    * gram set — the static side is benchmark-sized (tiny by the
    * decontamination contract) so it broadcasts, re-planned per micro-batch
    * (a benchmark refresh is picked up automatically), and the corpus
    * stream itself never shuffles for the probe. The per-doc distinct
    * (a doc sharing many grams must flag once) is
    * `dropDuplicatesWithinWatermark` keyed on the id, the only stateful op,
    * its state expiring with a 10-minute watermark.
    *
    * `eventTimeCol` orders the expiry; a corpus with no arrival-time column
    * can pass a constant literal, which degrades exactly like q61's
    * documented single-microbatch caveat (under `Trigger.AvailableNow` with
    * one source file the whole corpus is one batch and the distinct is
    * exact; a multi-file arrival of the same id past the watermark could
    * re-emit — dedup the sink). PITFALL: the constant
    * must be LATER than epoch 0 — Spark's event-time late filter is
    * inclusive against the initial watermark (0), so epoch-0 rows are
    * silently dropped before the dedup and the gate emits nothing. */
  def contaminatedIdsStream(corpusStream: DataFrame, benchmark: DataFrame,
                            idCol: String, textCol: String,
                            eventTimeCol: org.apache.spark.sql.Column,
                            n: Int = 13): DataFrame = {
    val benchGrams = benchmark
      .select(explode(Dedup.hashedWordNgrams(col(textCol), n)).as("__g"))
      .distinct()
    corpusStream
      .select(col(idCol), eventTimeCol.cast("timestamp").as("__arrival"),
        explode(Dedup.hashedWordNgrams(col(textCol), n)).as("__g"))
      .join(benchGrams, Seq("__g"), "left_semi")
      .withWatermark("__arrival", "10 minutes")
      .dropDuplicatesWithinWatermark(idCol)
      .select(col(idCol))
  }
}
