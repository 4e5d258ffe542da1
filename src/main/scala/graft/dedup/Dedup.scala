package graft.dedup

import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * n-gram Jaccard, SimHash.
  *
  * Scale design (the point of this module): the naive near-dup formulation is
  * an all-pairs O(n²) join — dead at 100 TB. Here candidate generation is
  * MinHash banding: each doc emits `bands` small keys, the join is an
  * equi-join on (band, bandHash) — a plain shuffled hash join whose cost is
  * proportional to true collisions, not n². Verification then computes exact
  * Jaccard only on candidates, so the output has no false positives and (for
  * thresholds ≥ ~0.7 with these parameters) a ~1e-8 false-negative
  * probability per pair — deterministic in practice.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per distinct key column — one
    * hash-aggregate shuffle on the content key. For very long texts, dedup on
    * TextAnalysis.fingerprintMd5 instead so the shuffle key is 16 bytes. */
  def exact(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol)).agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col(keyCol))

  // ------------------------------------------------------------- MinHash

  /** Shingle set -> SORTED array<bigint> of xxhash64 values. Hashing once up
    * front (a) makes the 128-function MinHash family pure integer arithmetic
    * instead of 128 string re-hashes per shingle, and (b) lets verification
    * use the codegen'd SortedLongIntersectSize merge scan. 64-bit collisions
    * (~1e-15 for these set sizes) are the standard accepted risk. */
  def hashedShingles(shingles: Column): Column =
    array_sort(transform(shingles, t => xxhash64(t)))

  /** MinHash signature over hashed shingles: array of `numHashes` minima of
    * the affine family h_i(x) = ((x mod P) * (2i+1) + 12345 i + 7) mod P,
    * P = 2^31 − 1.
    * Computed by the codegen'd MinHashSignature expression — one JIT'd pass
    * over the shingle array updating all minima, replacing the
    * higher-order-function formulation Spark evaluates interpreted (nested
    * lambdas re-walking the array once per hash function); bit-identical
    * output, pinned by MinHashSpec. */
  def minhashSignature(shingleHashes: Column, numHashes: Int): Column =
    graft.functions.MinHashSignature(shingleHashes, numHashes)

  /** LSH banding: doc -> `bands` rows keyed by (band index, hash of the
    * band's signature slice). Docs sharing any band key become candidates.
    *
    * The signature is BOUND as a lambda variable (via a 1-element array) so
    * it is evaluated once per row: referencing the signature expression
    * directly from all `bands` slices lets CollapseProject re-inline it per
    * band — a `bands`× recomputation of the whole MinHash (observed 64×
    * blowup, 186 s for 500 docs, before this binding). */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    flatten(transform(array(sig), s =>
      transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("band"), xxhash64(slice(s, b * rows + 1, lit(rows))).as("bh")))))

  /** Conf key: corpora whose estimated plan size is at most this many bytes
    * take the broadcast LSH plan; larger ones take the pre-bucketed shuffle
    * plan. The gate uses Catalyst's own logical statistics (free — derived
    * from file sizes / local-relation sizes), so no extra job runs. */
  val BroadcastThresholdKey = "graft.lsh.broadcast.threshold"

  /** Default gate: 128 MB — far under Spark's hard broadcast limit, and a
    * corpus whose (id, shingles) projection is bigger than this has no
    * business living on every executor. */
  private val DefaultBroadcastThreshold = 128L * 1024 * 1024

  /** True when `df`'s estimated size fits the broadcast gate.
    *
    * Gate on the RAWEST plan available (ideally one still carrying the text
    * column): Catalyst prices an array column at ONE element
    * (`ArrayType.defaultSize`), so a shingle-array projection is
    * underestimated by ~the average shingle count and a far-over-threshold
    * corpus would slip under the gate. Text bytes ≈ hashed-shingle bytes
    * (≈6 B/token of text vs 8 B/token of hash), so the pre-shingling plan
    * is the honest proxy. */
  private def fitsBroadcast(df: DataFrame): Boolean = {
    val threshold = df.sparkSession.conf
      .get(BroadcastThresholdKey, DefaultBroadcastThreshold.toString).toLong
    df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(threshold)
  }

  /** RAW candidate pairs (idA < idB) from LSH banding over `shingleCol` —
    * NOT deduplicated: a pair sharing k bands appears k times. Callers that
    * verify candidates should dedup AFTER verification (far fewer uniques
    * survive, so the hash-agg never spills); callers that want the candidate
    * set itself apply `.distinct()`.
    *
    * Size-gated join strategy (the 100 TB story):
    *  - under the gate, the band table (n × bands tiny rows) is broadcast.
    *    Without the hint Catalyst's post-explode size estimate balloons,
    *    picks a sort-merge join, and AQE then coalesces the (byte-wise tiny,
    *    row-wise explosive) shuffle to ONE partition — measured
    *    single-threaded 200M-row emit. The hint keeps the emit parallel over
    *    the probe side's partitions.
    *  - over the gate (a corpus whose band keys cannot live on every
    *    executor), both sides are pre-bucketed by (band, bh) with an EXPLICIT
    *    partition count: the self-join reuses one exchange (ReuseExchange),
    *    needs no further shuffle, and the explicit count stops AQE's by-bytes
    *    coalescing of the row-explosive emit. No broadcast hint — and if the
    *    runtime shuffle turns out genuinely tiny, AQE's own SMJ→BHJ
    *    conversion (driven by ACTUAL sizes, not estimates) may still
    *    broadcast it, which is then safe by construction. */
  def lshCandidatesRaw(df: DataFrame, idCol: String, shingleCol: String,
                       numHashes: Int, bands: Int,
                       useBroadcast: Option[Boolean] = None): DataFrame = {
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes): bands > numHashes gives " +
        "zero-row slices (ONE constant band key = all-pairs blowup), and a " +
        "non-dividing count silently ignores tail hashes, voiding the recall bound")
    val rows = numHashes / bands
    val banded = df
      .filter(size(col(shingleCol)) > 0)
      .select(col(idCol),
        explode(bandKeys(minhashSignature(col(shingleCol), numHashes), bands, rows)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.bh").as("bh"))
    // default gate: the only plan available here carries the shingle ARRAY,
    // which Catalyst prices at one element per row — underestimating by
    // ~the mean shingle count. Compensate by shrinking the threshold 64x
    // (≈ pricing arrays at 64 elements); callers holding the raw text
    // (minhashNearDups*) gate honestly on it and pass the result instead.
    def gatedDefault: Boolean = {
      val t = df.sparkSession.conf
        .get(BroadcastThresholdKey, DefaultBroadcastThreshold.toString).toLong
      df.select(col(idCol), col(shingleCol))
        .queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(t / 64)
    }
    val joined = if (useBroadcast.getOrElse(gatedDefault)) {
      val a = banded.select(col("band"), col("bh"), col(idCol).as("id_a"))
      val b = banded.select(col("band"), col("bh"), col(idCol).as("id_b"))
      a.join(broadcast(b), Seq("band", "bh"))
    } else {
      val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val bucketed = banded.repartition(n, col("band"), col("bh"))
      val a = bucketed.select(col("band"), col("bh"), col(idCol).as("id_a"))
      val b = bucketed.select(col("band"), col("bh"), col(idCol).as("id_b"))
      a.join(b, Seq("band", "bh"))
    }
    joined
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
  }

  /** Shared exact-Jaccard tail: given candidate rows carrying the two
    * SORTED hashed-shingle arrays as __sa/__sb, keep pairs with
    * |∩| * den >= num * |∪| (integer-exact) and dedup. ONE definition for
    * the self-join and cross-corpus paths — this threshold algebra is
    * bit-exactness-critical and must never drift between them. */
  private def jaccardKeep(withSets: DataFrame, num: Int, den: Int,
                          keepCols: Seq[String] = Seq("id_a", "id_b")): DataFrame = {
    val inter = graft.functions.VectorFunctions.sortedIntersectSize(col("__sa"), col("__sb"))
    withSets
      .withColumn("__i", inter)
      .filter(col("__i") * den >= (size(col("__sa")) + size(col("__sb")) - col("__i")) * num)
      .select(keepCols.map(col): _*)
  }

  /** Exact-Jaccard verification of candidate pairs: keep pairs with
    * |∩| * den >= num * |∪| (i.e. J >= num/den, integer-exact so the
    * threshold compare is bit-identical across engines). `shingleCol` must
    * hold SORTED hashed shingles; |∩| is the codegen'd merge scan and
    * |∪| = |A| + |B| − |∩| (no array materialization per pair).
    *
    * Size-gated like lshCandidatesRaw: a set table under the gate is
    * broadcast against the (row-wise huge) candidate stream — the probes and
    * the merge-scan filter fuse into the candidate stage's codegen, and
    * rejected pairs never materialize a joined row. Over the gate the
    * candidate stream is explicitly repartitioned on each pair id and
    * shuffle-joined — two candidate shuffles of 16-byte rows, with the
    * explicit count pinning the verify stage's parallelism (AQE would
    * otherwise coalesce the byte-small candidate shuffle under row-heavy
    * merge-scan work). */
  def verifyJaccard(candidates: DataFrame, df: DataFrame, idCol: String,
                    shingleCol: String, num: Int, den: Int,
                    useBroadcast: Option[Boolean] = None): DataFrame = {
    val setsRaw = df.select(col(idCol), col(shingleCol))
    val withB = if (useBroadcast.getOrElse(fitsBroadcast(setsRaw))) {
      val sets = broadcast(setsRaw)
      candidates
        .join(sets.select(col(idCol).as("id_a"), col(shingleCol).as("__sa")), "id_a")
        .join(sets.select(col(idCol).as("id_b"), col(shingleCol).as("__sb")), "id_b")
    } else {
      val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
      candidates.repartition(n, col("id_a"))
        .join(setsRaw.select(col(idCol).as("id_a"), col(shingleCol).as("__sa")), "id_a")
        .repartition(n, col("id_b"))
        .join(setsRaw.select(col(idCol).as("id_b"), col(shingleCol).as("__sb")), "id_b")
    }
    jaccardKeep(withB, num, den)
  }

  /** Full MinHash+LSH near-dup pipeline over a text column: shingle -> hash
    * -> signature -> band join -> exact-Jaccard verify. Output: (id_a, id_b)
    * pairs with shingle-set Jaccard >= num/den.
    *
    * Plan shape, tuned on a pathologically self-similar corpus (200M raw
    * band collisions from 5k docs):
    *  - `repartition(id)` before the signature stage — a single small input
    *    file otherwise computes the whole MinHash family on ONE core;
    *  - the band self-join carries ONLY ids (16-byte rows), never the
    *    shingle arrays: a fused join+verify was measured far heavier because
    *    every collision row dragged two array payloads through the join;
    *  - the raw collision stream is verified FIRST (hash-probe the two small
    *    set tables + codegen merge scan, all in one codegen stage with no
    *    row materialization for rejected pairs) and deduplicated LAST:
    *    `distinct` on raw candidates was measured spilling its partial
    *    hash-agg (10M+ uniques per task), while post-verify uniques are
    *    ~10× fewer and map-side combine collapses the band duplicates. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingler: Column => Column,
                      num: Int, den: Int,
                      numHashes: Int = 128, bands: Int = 32): DataFrame =
    minhashNearDupsHashed(df, idCol, textCol, c => hashedShingles(shingler(c)),
      num, den, numHashes, bands)

  /** Same pipeline, but the shingler yields SORTED hashed shingles directly
    * (e.g. hashedWordNgrams) — skips per-shingle string materialization. */
  def minhashNearDupsHashed(df: DataFrame, idCol: String, textCol: String,
                            hashedShingler: Column => Column,
                            num: Int, den: Int,
                            numHashes: Int, bands: Int): DataFrame = {
    // EXPLICIT partition count: repartition(col) alone is REPARTITION_BY_COL,
    // which AQE coalesces by input BYTES — a byte-small doc table collapses
    // to 1 partition and the row-explosive band join then emits 100M+ rows
    // on a single core (measured). The explicit count pins the parallelism
    // of everything downstream of this narrow chain.
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // Repartition BEFORE shingling: below the exchange the projection would
    // run on the input's (often single-file, single-partition) layout —
    // measured as a serial trigram+hash pass. Above it, every consumer
    // computes shingles in parallel over n partitions, and ReuseExchange
    // still dedups the underlying shuffle.
    // gate decided ONCE on the raw input, whose text column gives an honest
    // byte estimate (the shingled projection's stats underprice arrays —
    // see fitsBroadcast)
    val bc = Some(fitsBroadcast(df.select(col(idCol), col(textCol))))
    val shingled = df
      .repartition(n, col(idCol))
      .select(col(idCol), hashedShingler(col(textCol)).as("__sh"))
      .filter(size(col("__sh")) > 0)
    val cands = lshCandidatesRaw(shingled, idCol, "__sh", numHashes, bands, bc)
    verifyJaccard(cands, shingled, idCol, "__sh", num, den, bc).distinct()
  }

  /** CROSS-corpus near-dup pairs: (id_a from `batch`, id_b from `corpus`)
    * with shingle-set Jaccard >= num/den — the incremental-ingest shape.
    * Where minhashNearDups self-joins one corpus, this probes only the NEW
    * batch's band keys against the existing corpus's: cost tracks the batch
    * size plus true collisions, and the 100 TB corpus is never self-joined
    * (its band table is computed in one narrow pass and would be a reusable
    * persisted index in a production ingest loop). Ids must be disjoint
    * across the two inputs for the output to be meaningful. */
  def crossNearDupsHashed(batch: DataFrame, corpus: DataFrame,
                          idCol: String, textCol: String,
                          hashedShingler: Column => Column,
                          num: Int, den: Int,
                          numHashes: Int, bands: Int): DataFrame = {
    val n = batch.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val rows = numHashes / bands
    def shingled(df: DataFrame) = df
      .repartition(n, col(idCol))
      .select(col(idCol), hashedShingler(col(textCol)).as("__sh"))
      .filter(size(col("__sh")) > 0)
    def bandedOf(df: DataFrame, as: String) = df
      .select(col(idCol).as(as),
        explode(bandKeys(minhashSignature(col("__sh"), numHashes), bands, rows)).as("bk"))
      .select(col(as), col("bk.band").as("band"), col("bk.bh").as("bh"))
    val sb = shingled(batch)
    val sc = shingled(corpus)
    // pre-bucket both band tables with an EXPLICIT partition count — the
    // same AQE protection lshCandidatesRaw's shuffle path documents: the
    // band shuffle is byte-tiny but row-explosive, and AQE's by-bytes
    // coalescing would otherwise serialize the candidate emit onto one core
    val cands = bandedOf(sb, "id_a").repartition(n, col("band"), col("bh"))
      .join(bandedOf(sc, "id_b").repartition(n, col("band"), col("bh")), Seq("band", "bh"))
      .select("id_a", "id_b")
    // verify against each side's own set table (ids live in different
    // inputs); gate on the RAW inputs' text bytes, not the underpriced
    // shingle projections (see fitsBroadcast)
    val setsA = sb.select(col(idCol).as("id_a"), col("__sh").as("__sa"))
    val setsB = sc.select(col(idCol).as("id_b"), col("__sh").as("__sb"))
    val joined =
      if (fitsBroadcast(batch.select(col(idCol), col(textCol)))
        && fitsBroadcast(corpus.select(col(idCol), col(textCol))))
        cands.join(broadcast(setsA), "id_a").join(broadcast(setsB), "id_b")
      else
        cands.repartition(n, col("id_a")).join(setsA, "id_a")
          .repartition(n, col("id_b")).join(setsB, "id_b")
    jaccardKeep(joined, num, den).distinct()
  }

  /** Novelty filter over an incoming batch: rows of `batch` with NO
    * near-dup in `corpus` at Jaccard >= num/den — cross-corpus candidate
    * mining followed by an anti-join, the dedup gate of a continuous
    * ingestion pipeline. Batch rows whose shingle set is empty are novel
    * by definition (they cannot collide). */
  def novelAgainst(batch: DataFrame, corpus: DataFrame,
                   idCol: String, textCol: String,
                   hashedShingler: Column => Column,
                   num: Int, den: Int,
                   numHashes: Int = 128, bands: Int = 32): DataFrame = {
    val dups = crossNearDupsHashed(batch, corpus, idCol, textCol,
      hashedShingler, num, den, numHashes, bands)
    batch.join(dups.select(col("id_a").as(idCol)), Seq(idCol), "left_anti")
  }

  /** Pre-built ingest-dedup index over a corpus: the LSH band index
    * (`id_b, band, bh` — one row per corpus doc per band) and the
    * exact-verify shingle-set table (`id_b, __sb` — the sorted hashed
    * shingles), the two static relations [[duplicateIdsStream]] probes per
    * micro-batch. Both are plain DataFrames, so the index persists like any
    * table: write them through a `sync.TableStore` (or straight to
    * parquet), read them back in the serving job, and the corpus is
    * shingled once per INDEX BUILD — not once per service start and never
    * per batch. At 100 TB this is the only deployable shape: the shingle
    * table is larger than the corpus text and cannot live in executor
    * local storage (a `localCheckpoint` is non-replicated — one executor
    * loss during a long-running stream invalidates the blocks and kills
    * the query), while a parquet-backed index survives any executor loss
    * and is shared by every restart and every concurrent serving job. */
  final case class NearDupIndex(bandIndex: DataFrame, shingleSets: DataFrame)

  /** Build a [[NearDupIndex]] with ONE pass over the corpus text: the
    * shingled table is localCheckpointed at build time, so materializing
    * BOTH output frames (e.g. writing each to parquet) tokenizes and
    * hashes each document exactly once — the minhash/banding plan derives
    * from the checkpointed shingle rows, never from the text. The MinHash
    * family is the identical deterministic expression as every batch path
    * ([[minhashSignature]]/[[bandKeys]]), so an index built today grades
    * bit-identically against a batch run over the same corpus. */
  def buildNearDupIndex(corpus: DataFrame, idCol: String, textCol: String,
                        hashedShingler: Column => Column,
                        numHashes: Int, bands: Int): NearDupIndex = {
    val rows = numHashes / bands
    val sc = corpus
      .select(col(idCol).as("id_b"), hashedShingler(col(textCol)).as("__sb"))
      .filter(size(col("__sb")) > 0)
      .localCheckpoint()
    val bandIndex = sc
      .select(col("id_b"),
        explode(bandKeys(minhashSignature(col("__sb"), numHashes), bands, rows)).as("bk"))
      .select(col("id_b"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    NearDupIndex(bandIndex, sc)
  }

  /** STREAMING ingest near-dup gate over a PRE-BUILT index: ids of arriving
    * documents that DUPLICATE the indexed corpus (shingle-set Jaccard >=
    * num/den against any corpus doc), each emitted once as it arrives — the
    * reject list of a continuous ingestion pipeline,
    * [[crossNearDupsHashed]] deployed at the moment of arrival instead of
    * in nightly batches (and the complement of [[novelAgainst]] over the
    * same inputs). This is the PRODUCTION entry point: `index` is a
    * [[NearDupIndex]] the caller materialized (typically parquet written
    * by [[buildNearDupIndex]] and read back), so the serving job never
    * touches the corpus text at all and an executor loss costs a re-read,
    * not the query.
    *
    * Plan shape: each micro-batch explodes ITS OWN arrivals into band keys
    * and equi-joins the static band index (Catalyst picks broadcast vs
    * shuffle per batch from the index's file stats); `numHashes`/`bands`
    * must match the index build or candidates are silently wrong — the
    * arrivals' MinHash family is the same deterministic expression, so
    * candidates (and therefore the exact verified output) cannot drift
    * between build and serve. The stream never self-joins and per-batch
    * cost is bounded by the arrival batch, not the corpus. Divergence from
    * the batch plan, documented: the arrival's shingle set rides THROUGH
    * the band join (the batch path joins ids only and re-attaches sets
    * after — a stream cannot re-join itself), so verify payload cost is
    * per-arrival-doc × its band collisions. The exact-Jaccard threshold is
    * the SAME `jaccardKeep` algebra as every batch path (never inlined —
    * the bit-exactness contract). The only stateful op is the
    * watermark-bounded per-doc distinct; `eventTimeCol` must be later than
    * epoch 0 (see [[Decontaminate.contaminatedIdsStream]]'s late-filter
    * pitfall) and the q61-family multi-file re-emission caveat applies. */
  def duplicateIdsStream(arrivals: DataFrame, index: NearDupIndex,
                         idCol: String, textCol: String,
                         hashedShingler: Column => Column,
                         num: Int, den: Int,
                         numHashes: Int, bands: Int,
                         eventTimeCol: Column,
                         watermarkDelay: String): DataFrame = {
    val rows = numHashes / bands
    val arr = arrivals
      .select(col(idCol).as("id_a"), eventTimeCol.cast("timestamp").as("__arrival"),
        hashedShingler(col(textCol)).as("__sa"))
      .filter(size(col("__sa")) > 0)
      .withWatermark("__arrival", watermarkDelay)
    val cands = arr
      .select(col("id_a"), col("__arrival"), col("__sa"),
        explode(bandKeys(minhashSignature(col("__sa"), numHashes), bands, rows)).as("bk"))
      .select(col("id_a"), col("__arrival"), col("__sa"),
        col("bk.band").as("band"), col("bk.bh").as("bh"))
      .join(index.bandIndex, Seq("band", "bh"))
      .join(index.shingleSets.select(col("id_b"), col("__sb")), Seq("id_b"))
    jaccardKeep(cands, num, den, keepCols = Seq("id_a", "__arrival"))
      .dropDuplicatesWithinWatermark("id_a")
      .select(col("id_a").as(idCol))
  }

  /** Convenience overload building the index in-process from the corpus
    * text: [[buildNearDupIndex]] + an extra localCheckpoint of the band
    * index (so micro-batches probe materialized rows, never re-running
    * minhash), delegated to the index-based overload above. Dev/test
    * shape only — the executor-local blocks do not survive executor loss
    * and the corpus is re-shingled on every service start; production
    * ingest gates should persist the index and use the primary overload. */
  def duplicateIdsStream(arrivals: DataFrame, corpus: DataFrame,
                         idCol: String, textCol: String,
                         hashedShingler: Column => Column,
                         num: Int, den: Int,
                         numHashes: Int, bands: Int,
                         eventTimeCol: Column,
                         watermarkDelay: String = "10 minutes"): DataFrame = {
    val built = buildNearDupIndex(corpus, idCol, textCol, hashedShingler, numHashes, bands)
    duplicateIdsStream(arrivals,
      NearDupIndex(built.bandIndex.localCheckpoint(), built.shingleSets),
      idCol, textCol, hashedShingler, num, den, numHashes, bands,
      eventTimeCol, watermarkDelay)
  }

  /** Word n-gram (shingle) set for the n-gram-Jaccard dedup variant —
    * order-sensitive, far more discriminative than unigram sets.
    *
    * The token array is BOUND as a lambda variable (1-element-array trick):
    * referencing the tokenizer expression from every element_at would re-run
    * the regex per position per reference — measured ~240 tokenizer passes
    * per document. */
  def wordNgrams(c: Column, n: Int): Column =
    flatten(transform(array(TextAnalysis.tokens(c)), ts =>
      when(size(ts) >= n,
        array_distinct(transform(sequence(lit(0), size(ts) - n),
          i => concat_ws(" ", (0 until n).map(j => element_at(ts, i + j + 1)): _*))))
        .otherwise(array().cast(ArrayType(StringType)))))

  /** Hashed word n-gram set: tokens are hashed ONCE (xxhash64 per token),
    * then the codegen'd HashedNgrams expression combines each n-window in
    * one JIT'd pass (sort + dedup included) — no per-shingle string
    * building and no interpreted per-window lambda evaluation. These
    * hashes are pipeline-internal (banding keys + both sides of the exact
    * verify), so only 64-bit collision risk ~1e-15 distinguishes this from
    * the string formulation. Output sorted, ready for minhashNearDups. */
  def hashedWordNgrams(c: Column, n: Int): Column =
    graft.functions.HashedNgrams(
      transform(TextAnalysis.tokens(c), t => xxhash64(t)), n)

  // ------------------------------------------- passage-level (substring) dedup

  /** Passage-level (substring) dedup: for every document pair sharing at
    * least one k-token window, the length IN TOKENS of their longest shared
    * consecutive token run — the distributed equivalent of suffix-array
    * substring dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): a 50-token boilerplate paragraph pasted into
    * two otherwise-different documents is invisible to whole-document
    * Jaccard (q21/q22 shapes) but surfaces here as a 50-token run.
    *
    * Shape, and why it scales where a suffix array cannot be built:
    *  1. positional k-gram inverted index — one narrow pass, each doc emits
    *     (xxhash64(gram), id, pos) triples (8-byte keys, never the gram
    *     strings, so the shuffle is ~20 bytes/token regardless of k);
    *  2. document-frequency gate: grams in <2 docs can never pair (that is
    *     MOST of the index — dropped before any join); grams in more than
    *     `maxDocFreq` docs are boilerplate whose pair fan-out is quadratic
    *     in doc-frequency — the gate is the skew bound that keeps the
    *     self-join linear in TRUE matches instead of quadratic in corpus;
    *  3. equi-self-join on the gram hash (id_a < id_b) — candidate
    *     anchors, cost proportional to shared content;
    *  4. run extension is pure window arithmetic, NO re-scan of the text:
    *     matches at (pa, pb) and (pa+1, pb+1) lie on the same diagonal
    *     pa-pb, so per (pair, diagonal) the longest consecutive-pa run
    *     (islands via pa - row_number) has token length run + k - 1.
    * Output: (id_a, id_b, run_tokens) for pairs with
    * run_tokens >= minRunTokens. Deterministic; 64-bit hash collisions are
    * the only divergence from the string formulation (~1e-7 at 1e6 grams).
    */
  /** Positional k-gram index: one (id, position, xxhash64(gram)) row per
    * token window. The token array is bound as a lambda variable
    * (1-element-array trick, see wordNgrams) so the tokenizer regex runs
    * once per document; docs shorter than k tokens emit nothing. Shared by
    * [[passagePairs]] and [[passageDupStats]] so the two surfaces cannot
    * drift. The result is LAZILY `localCheckpoint`ed: both consumers drive
    * it through several plan subtrees (df-gate aggregate, join probe, both
    * self-join sides), and without materialization the full tokenize +
    * explode pass over the corpus would re-execute per subtree —
    * production substring-dedup pipelines materialize exactly this index
    * (~20 bytes/token, linear, far smaller than re-reading the text).
    * Lazy (eager = false) so merely CONSTRUCTING the query launches no
    * job; the cost is the materialization barrier itself — a filter
    * composed on top of the returned frame cannot push below it. */
  private[dedup] def positionalGrams(df: DataFrame, idCol: String, textCol: String,
                              k: Int, outId: String): DataFrame =
    df.select(col(idCol).as(outId),
        posexplode(flatten(transform(array(TextAnalysis.tokens(col(textCol))), ts =>
          when(size(ts) >= k,
            transform(sequence(lit(0), size(ts) - k),
              i => xxhash64(concat_ws(" ", (0 until k).map(j => element_at(ts, i + j + 1)): _*))))
            .otherwise(array().cast(ArrayType(LongType)))))))
      .toDF(outId, "__pos", "__g")
      .localCheckpoint(eager = false)

  def passagePairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 8, minRunTokens: Int = 20,
                   maxDocFreq: Int = 20): DataFrame = {
    require(k >= 2, s"k-gram size must be >= 2, got $k")
    require(minRunTokens >= k, s"minRunTokens ($minRunTokens) must be >= k ($k)")
    require(maxDocFreq >= 2,
      s"maxDocFreq ($maxDocFreq) < 2 gates out every pairable gram — nothing could ever match")
    val grams = positionalGrams(df, idCol, textCol, k, "id_a")
      .withColumnRenamed("__pos", "pa")
    val pairable = grams.groupBy("__g")
      .agg(count_distinct(col("id_a")).as("__df"))
      .filter(col("__df").between(2, maxDocFreq))
      .select("__g")
    val kept = grams.join(pairable, Seq("__g"))
    val b = kept.select(col("__g").as("__gb"), col("id_a").as("id_b"), col("pa").as("pb"))
    val anchors = kept.join(b, col("__g") === col("__gb") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("pa"), (col("pa") - col("pb")).as("__diag"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a", "id_b", "__diag").orderBy("pa")
    anchors.withColumn("__grp", col("pa") - row_number().over(w))
      .groupBy("id_a", "id_b", "__diag", "__grp")
      .agg(count(lit(1)).as("__rl"))
      .groupBy("id_a", "id_b")
      .agg((max(col("__rl")) + (k - 1)).cast(LongType).as("run_tokens"))
      .filter(col("run_tokens") >= minRunTokens)
  }

  /** Per-document duplicated-passage share: of a document's k-token
    * windows, how many also occur in at least one OTHER document — the
    * curation-signal form of [[passagePairs]] (a doc that is 60% shared
    * boilerplate gets filtered or down-weighted even when no single pair
    * crosses a dedup threshold). Same positional gram index; instead of
    * the pair join, the doc-frequency table joins BACK onto the index and
    * aggregates per doc — one extra shuffle on the 8-byte gram hash,
    * linear in corpus size, no quadratic term at all. Docs with fewer
    * than k tokens have no windows and are omitted.
    * Output: (id, n_grams, n_dup_grams) — exact integers. */
  def passageDupStats(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 8): DataFrame = {
    require(k >= 2, s"k-gram size must be >= 2, got $k")
    val grams = positionalGrams(df, idCol, textCol, k, idCol)
    val dfreq = grams.groupBy("__g")
      .agg(count_distinct(col(idCol)).as("__df"))
    grams.join(dfreq, Seq("__g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
  }

  // ------------------------------------------------- canonicalization

  /** Connected components over near-dup pairs — the step that turns pair
    * lists into actual dedup decisions: every document gets the smallest
    * doc id of its duplicate cluster as `canon`; keeping rows where
    * id == canon yields the deduplicated corpus.
    *
    * Iterative min-label propagation WITH pointer jumping: each round every
    * vertex takes the min of its own label and its neighbors' labels; from
    * round `JumpAfter` on it also takes its label's label (canon(canon) —
    * the path-halving step), so label chains shrink geometrically and
    * convergence needs O(log diameter) rounds, not O(diameter) — a
    * length-10^6 duplicate chain converges in ~20 rounds. The jump is
    * DELAYED because real near-dup clusters are overwhelmingly shallow
    * (diameter 1-2): they converge inside the plain rounds and never pay
    * the extra self-join + checkpoint per round (engaging it from round 0
    * was measured 4.6x on the flagship canonicalization query). Each round
    * is two joins + an aggregate (three joins in jump rounds) on
    * (vertices + 2·edges) rows — fully distributed; `localCheckpoint`
    * truncates the growing lineage so round N doesn't replan rounds 1..N-1,
    * and the jump's self-join reads a CHECKPOINTED label table so the
    * propagation join+agg is never recomputed twice in one round. The
    * driver loop only compares one scalar (sum of labels, monotonically
    * non-increasing) per round. */
  def connectedComponents(vertices: DataFrame, idCol: String,
                          pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    // Eagerly free a SUPERSEDED round's local-checkpoint blocks — the
    // shared graft.Checkpoints.release (see its scaladoc for the measured
    // GC-dependent bimodality this prevents). Keeps live checkpoint
    // storage at O(1) tables regardless of round count.
    import graft.Checkpoints.release
    // materialize the edge list ONCE — its lineage is typically a whole
    // LSH pipeline, which every iteration's join would otherwise recompute
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    // iterate ONLY over vertices that appear in some pair — on a real corpus
    // near-dup members are a small fraction; everyone else is trivially
    // their own canon and joins back in at the end
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").cast("long").as("canon"))
      .localCheckpoint()
    // sum over ZERO rows is NULL, not 0 — an empty pair set (a corpus with
    // no near-dups at all) must yield all-singleton labels, not an NPE.
    // DECIMAL(38,0) accumulation, not bigint: ids are caller-chosen and
    // hash-valued ids (xxhash64 entity keys) sit near ±2^63, where a long
    // sum overflows — an ANSI failure, or worse a silent wrap that could
    // fake convergence (labels only decrease, so an EXACT sum's equality
    // is a correct fixpoint test; a wrapped one's is not)
    def labelSum(): java.math.BigDecimal = {
      val r = labels.agg(sum(col("canon").cast(DecimalType(38, 0)))).head
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    var prevSum = labelSum()
    var converged = false
    var i = 0
    // shallow clusters (the common case — near-dup clusters have diameter
    // 1-3 and converge in <= JumpAfter plain rounds) never pay the jump's
    // extra join + checkpoint; deep chains engage geometric contraction
    // from round JumpAfter on, keeping O(log d) overall
    val JumpAfter = 4
    while (!converged && i < maxIter) {
      val neighborMin = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst")).agg(min(col("canon")).as("__ncanon"))
      val viaNeighbors = labels.join(neighborMin, labels("id") === neighborMin("dst"), "left")
        .select(col("id"), least(col("canon"), coalesce(col("__ncanon"), col("canon"))).as("canon"))
        .localCheckpoint()
      // pointer jump (path halving): canon := min(canon, canon(canon)).
      // Labels always point at pair-member vertices, so the lookup is a
      // self-join of the (checkpointed — both sides read materialized rows,
      // nothing recomputes) label table — one extra shuffle per round buys
      // geometric chain contraction.
      val next =
        if (i < JumpAfter) viaNeighbors
        else {
          val jumped = viaNeighbors.join(
              viaNeighbors.select(col("id").as("__jid"), col("canon").as("__jc")),
              col("canon") === col("__jid"), "left")
            .select(col("id"), least(col("canon"), coalesce(col("__jc"), col("canon"))).as("canon"))
            .localCheckpoint()
          release(viaNeighbors) // jumped is materialized; the intermediate is dead
          jumped
        }
      release(labels) // next is materialized; last round's table is dead
      labels = next
      val s = labelSum()
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      i += 1
    }
    release(edges) // the returned plan reads only labels + vertices
    // Hitting the cap without convergence means some cluster's diameter
    // exceeds maxIter and the labels are WRONG (partial propagation). Fail
    // loudly rather than return silently-wrong canon ids — a caller with
    // genuinely chain-shaped clusters should raise maxIter.
    require(converged,
      s"connectedComponents did not converge within $maxIter rounds; " +
        "some duplicate cluster's diameter exceeds the cap — raise maxIter")
    val singletons = vertices.select(col(idCol).as("id"))
      .join(labels.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").cast("long").as("canon"))
    labels.unionByName(singletons)
  }

  /** Keep-best dedup decision: given CC labels (id, canon) and a per-doc
    * quality score, keep each cluster's HIGHEST-scoring document (lowest
    * id on ties) — production dedup keeps the best duplicate (longest /
    * cleanest / highest-quality), not the smallest id; keep-min-id
    * (id == canon) is just keepBest with a constant score. One keyed
    * window over the label table — the expensive part (pair mining + CC)
    * is the input, not this step. Output: (canon, id, score) of survivors,
    * one row per cluster including singletons. */
  def keepBest(labels: DataFrame, scores: DataFrame, idCol: String,
               scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("canon")).orderBy(col(scoreCol).desc, col("id"))
    labels.join(scores.select(col(idCol).as("id"), col(scoreCol)), Seq("id"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("canon"), col("id"), col(scoreCol))
  }

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash as an array of 64 sign bits — the codegen'd SimHash64
    * expression over PRE-HASHED tokens (hashedShingles). */
  def simhashBits(tokenHashes: Column): Column =
    graft.functions.SimHash64(tokenHashes)

  /** 64-bit SimHash packed into one long (codegen'd) — the join-friendly
    * form: 8 bytes through a shuffle instead of a 64-slot array. */
  def simhashPacked(tokenHashes: Column): Column =
    graft.functions.SimHashPacked64(tokenHashes)

  /** Hamming distance between two PACKED 64-bit signatures: builtin
    * XOR + bit_count — whole-stage-codegen'd end to end (replaces the
    * interpreted aggregate(zip_with(...)) bit-array formulation). */
  def hammingPacked(a: Column, b: Column): Column =
    call_function("bit_count", a.bitwiseXOR(b))

  /** SimHash near-dup pairs: (id_a < id_b) whose packed signatures differ in
    * at most `maxHamming` bits.
    *
    * EXACT by pigeonhole (the Manku/Jain/Sarma WWW'07 trick): the 64-bit
    * signature splits into maxHamming+1 equal bands; a pair within
    * maxHamming bit flips must agree on at least one FULL band, so the
    * banded equi-join has guaranteed 100% recall over signatures, and the
    * codegen'd bit_count verify removes band-collision false positives —
    * unlike MinHash LSH there is no probabilistic miss at all. Cost is
    * collision-driven: each doc emits maxHamming+1 band keys; the self-join
    * is pre-bucketed by (band, bh) with an explicit partition count (same
    * AQE-coalesce-proof shape as the over-gate MinHash path); the 8-byte
    * signature rides the join so verification needs no second lookup. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingler: Column => Column, maxHamming: Int = 3): DataFrame = {
    val bands = maxHamming + 1
    require(64 % bands == 0,
      s"maxHamming + 1 must divide 64 (got maxHamming=$maxHamming); use 0, 1, 3, 7, 15 or 31")
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // repartition BEFORE the signature projection for the same single-file
    // parallelism reason as minhashNearDupsHashed
    // empty shingle sets share ONE constant signature — every short doc
    // would pair with every other short doc at hamming 0 AND concentrate
    // into a single O(m^2) bucket (the MinHash path filters identically)
    val sigs = df
      .repartition(n, col(idCol))
      .select(col(idCol), hashedShingles(shingler(col(textCol))).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col(idCol), simhashPacked(col("__sh")).as("__sig"))
    packedNearDups(sigs, idCol, "__sig", maxHamming)
  }

  /** Banded-Hamming pair mining over PRECOMPUTED packed 64-bit signatures —
    * the pigeonhole band equi-join + codegen'd bit_count verify shared by
    * the text (SimHash, [[simhashNearDups]]) and image (dHash,
    * [[imageNearDups]]) paths. Same exactness guarantee as documented on
    * [[simhashNearDups]]: a pair within maxHamming flips must agree on a
    * full band, so recall over the signatures is 100%. CALLER's contract:
    * filter out degenerate constant signatures first (empty shingle sets,
    * blank images) — m rows sharing one signature form an O(m²) bucket. */
  def packedNearDups(sigs: DataFrame, idCol: String, sigCol: String,
                     maxHamming: Int = 3): DataFrame = {
    val bands = maxHamming + 1
    require(64 % bands == 0,
      s"maxHamming + 1 must divide 64 (got maxHamming=$maxHamming); use 0, 1, 3, 7, 15 or 31")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val n = sigs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val s0 = sigs.select(col(idCol), col(sigCol).as("__sig"))
    val banded = s0.select(col(idCol), col("__sig"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("__sig"), b * width).bitwiseAND(lit(mask)).as("bh"))): _*)).as("bk"))
      .select(col(idCol), col("__sig"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    val bucketed = banded.repartition(n, col("band"), col("bh"))
    val a = bucketed.select(col("band"), col("bh"), col(idCol).as("id_a"), col("__sig").as("__siga"))
    val b = bucketed.select(col("band"), col("bh"), col(idCol).as("id_b"), col("__sig").as("__sigb"))
    a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .filter(hammingPacked(col("__siga"), col("__sigb")) <= maxHamming)
      .select("id_a", "id_b")
      .distinct()
  }

  /** CROSS banded-Hamming probe — [[packedNearDups]]'s batch-vs-corpus
    * form, the packed-signature twin of [[crossNearDupsHashed]]: pairs
    * (id_a, id_b) with sig_a from `batchSigs`, sig_b from `corpusSigs`,
    * Hamming <= maxHamming. Both sides explode into the same pigeonhole
    * bands and equi-join on (band, bh) — the batch side is delta-sized,
    * so Catalyst broadcasts it against the corpus index; recall over the
    * signatures is 100% (a pair within maxHamming flips agrees on a full
    * band, the [[simhashNearDups]] theorem). Self-matches (the same id
    * present on both sides) are dropped — a re-ingested document must
    * not pair with its own index row. CALLER's contract (shared with
    * [[packedNearDups]]): degenerate constant signatures are filtered on
    * BOTH sides before banding. Output column order is (id_a, id_b) =
    * (batch, corpus) — NOT min/max like the self-join path, because the
    * arrival-vs-index direction is the information ("which arriving doc
    * duplicates what"). */
  def packedDupsAgainst(batchSigs: DataFrame, corpusSigs: DataFrame,
                        idCol: String, sigCol: String,
                        maxHamming: Int = 3): DataFrame = {
    val bands = maxHamming + 1
    require(64 % bands == 0,
      s"maxHamming + 1 must divide 64 (got maxHamming=$maxHamming); use 0, 1, 3, 7, 15 or 31")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    def bandedOf(df: DataFrame, idAs: String, sigAs: String): DataFrame =
      df.select(col(idCol).as(idAs), col(sigCol).as(sigAs),
          explode(array((0 until bands).map(b =>
            struct(lit(b).as("band"),
              shiftrightunsigned(col(sigCol), b * width).bitwiseAND(lit(mask)).as("bh"))): _*)).as("bk"))
        .select(col(idAs), col(sigAs), col("bk.band").as("band"), col("bk.bh").as("bh"))
    bandedOf(batchSigs, "id_a", "__siga")
      .join(bandedOf(corpusSigs, "id_b", "__sigb"), Seq("band", "bh"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(hammingPacked(col("__siga"), col("__sigb")) <= maxHamming)
      .select("id_a", "id_b")
      .distinct()
  }

  /** Image near-dup pairs: decode (doc_id, media) payloads to 64-bit
    * perceptual dHashes on the executors
    * ([[graft.multimodal.Multimodal.dhashImages]] — pixels never touch the
    * driver) and mine pairs within `maxHamming` bits through the same
    * banded join as the text path. Completes the dedup story's third
    * modality: re-encoded / slightly-edited renditions of one image land a
    * few dHash bits apart and pair; unrelated images sit near Hamming 32
    * and cannot. Undecodable payloads drop out before banding, and so do
    * FEATURELESS images — dHash 0 (no gray increase anywhere: solid
    * colors, falling gradients, vertical stripes) and its mirror -1
    * (monotone rising fades): like the text paths' empty-shingle filter,
    * a hash with no mixed horizontal structure carries no pairing
    * evidence, and at scale every blank/fade thumbnail in a scraped
    * corpus would otherwise share one signature — false-pairing black
    * with white (or a blue fade with a red one) AND concentrating into a
    * single O(m²) bucket. */
  def imageNearDups(media: DataFrame, maxHamming: Int = 3): DataFrame = {
    implicit val spark: org.apache.spark.sql.SparkSession = media.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // repartition BEFORE the decode for the same single-file parallelism
    // reason as the text paths — the O(pixels) hash work must spread
    val sigs = graft.multimodal.Multimodal
      .dhashImages(media.repartition(n, col("doc_id"))).toDF()
      .filter(col("phash") =!= 0L && col("phash") =!= -1L)
    packedNearDups(sigs, "doc_id", "phash", maxHamming)
  }

  /** AUDIO near-duplicate pairs — the dedup story's FOURTH modality
    * (text/image/video frames/now PCM audio): fingerprint every payload
    * with the time-domain energy-delta hash
    * ([[graft.multimodal.Multimodal.afingerprintPcm16]] — integer-exact,
    * FFT-free, volume-invariant) and mine pairs within `maxHamming` bits
    * through the SAME banded join as the image path. Re-leveled /
    * re-encoded / lightly-edited renditions of one clip land a few bits
    * apart and pair; unrelated clips sit near Hamming 32 and cannot.
    * Degenerate fingerprints drop before banding — 0 (silence, constant
    * tone, anything monotonically non-increasing: too short or no energy
    * structure) and its mirror -1 (monotone rising fades): like dHash's
    * featureless-image filter, a hash with no mixed loudness structure
    * carries no pairing evidence, and at scale every silent clip would
    * otherwise share one signature AND concentrate into one O(m²)
    * bucket. */
  def audioNearDups(media: DataFrame, maxHamming: Int = 3): DataFrame = {
    implicit val spark: org.apache.spark.sql.SparkSession = media.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // repartition BEFORE the decode — the O(samples) energy work must
    // spread (the imageNearDups discipline)
    val sigs = graft.multimodal.Multimodal
      .afingerprintAudio(media.repartition(n, col("doc_id"))).toDF()
      .filter(col("ahash") =!= 0L && col("ahash") =!= -1L)
    packedNearDups(sigs, "doc_id", "ahash", maxHamming)
  }

  /** VIDEO near-duplicate pairs — the dedup story's FIFTH modality,
    * closing the one media type that had scene analysis (q228/q231) but
    * no dedup entry: decode each (doc_id, media) MJPEG payload to
    * frames on the executors, reduce to the per-video 64-bit temporal
    * signature ([[graft.multimodal.Multimodal.videoSignature]] — scene
    * keyframes via the luminance-delta detector, bit i = "keyframe i+1
    * brighter than keyframe i", the dHash gradient idea applied across
    * TIME), and mine pairs within `maxHamming` bits through the SAME
    * banded pigeonhole join as the image/audio paths. Re-encoded /
    * re-leveled / frame-rate-changed renditions of one video preserve
    * scene structure and brightness ordering and pair; unrelated videos
    * sit near Hamming 32 and cannot. Degenerate signatures drop before
    * banding — 0 (monotone dimming, or any clip whose scenes never
    * brighten) and -1 (65 scenes, all brightening): the family's
    * no-mixed-structure rule, without which every fade-out montage
    * would share one signature AND concentrate into one O(m²) bucket.
    * `thresholdMilli` is the scene-cut luminance threshold and must
    * match the corpus's cut scale (the band-family
    * same-parameters-every-probe contract). */
  def videoNearDups(media: DataFrame, thresholdMilli: Long,
                    maxHamming: Int = 3): DataFrame = {
    implicit val spark: org.apache.spark.sql.SparkSession = media.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // repartition BEFORE the decode — the O(frames x pixels) walk must
    // spread (the imageNearDups discipline)
    val frames = graft.multimodal.Multimodal
      .decodeFramesOf(media.repartition(n, col("doc_id"))).toDF()
    val sigs = graft.multimodal.Multimodal
      .videoSignature(frames, thresholdMilli)
      .filter(col("vsig") =!= 0L && col("vsig") =!= -1L)
    packedNearDups(sigs, "doc_id", "vsig", maxHamming)
  }

  /** CROSS-SOURCE overlap matrix — the corpus-composition audit a
    * mixture release runs before weighting its components: for every
    * source pair, how many distinct k-token grams they SHARE (src_a <
    * src_b, one row per overlapping pair), plus each side's distinct
    * gram total so callers derive containment shares ("82% of src3's
    * grams also appear in src7" — a crawl that re-scraped another
    * component). Doc-level dedup can't see this: the overlap is
    * between COLLECTIONS, not document pairs.
    *
    * Scale shape: one positional-gram pass collapses to the DISTINCT
    * (source, gram) table (partial-aggregated — the big reduction
    * happens map-side), totals are one #sources-sized aggregate, and
    * the pair join fans each gram out to at most C(#sources, 2) pairs —
    * bounded by the SOURCE count squared per gram, never by corpus
    * size, so no df gate is needed (sources are dashboard-sized where
    * documents are not). Output: (src_a, src_b, n_shared, n_a, n_b,
    * cont_a_pm, cont_b_pm) — exact integers; the containment shares are
    * permille FLOORS (n_shared*1000 div n_side, the Drift convention),
    * so "cont_a_pm = 820" IS the "82% of src_a's grams also appear in
    * src_b" audit line without caller math.
    *
    * The matrix is C(#sources, 2)-bounded (dashboard-sized), so the
    * result is materialized EAGERLY and returned as a local relation:
    * the distinct (source, gram) checkpoint the two join arms share is
    * released before returning (a lazily-returned plan would pin those
    * blocks for the session lifetime — the graft.Checkpoints.release
    * convention), and downstream re-reads of the matrix cost nothing. */
  def sourceOverlapMatrix(docs: DataFrame, sourceCol: String,
                          textCol: String, k: Int = 8): DataFrame = {
    require(k >= 2, s"Dedup.sourceOverlapMatrix: k must be >= 2, got $k")
    val spark = docs.sparkSession
    val sg = positionalGrams(docs, sourceCol, textCol, k, sourceCol)
      .select(col(sourceCol), col("__g")).distinct()
      .localCheckpoint(eager = false)
    val totals = sg.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("__n"))
    val a = sg.select(col(sourceCol).as("src_a"), col("__g"))
    val b = sg.select(col(sourceCol).as("src_b"), col("__g").as("__gb"))
    val matrix = a.join(b, col("__g") === col("__gb") && col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).cast(LongType).as("n_shared"))
      .join(totals.select(col(sourceCol).as("src_a"), col("__n").as("n_a")), "src_a")
      .join(totals.select(col(sourceCol).as("src_b"), col("__n").as("n_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        col("n_a").cast(LongType).as("n_a"), col("n_b").cast(LongType).as("n_b"),
        expr("(n_shared * 1000) div n_a").cast(LongType).as("cont_a_pm"),
        expr("(n_shared * 1000) div n_b").cast(LongType).as("cont_b_pm"))
    val rows = matrix.collect()
    graft.Checkpoints.release(sg)
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), matrix.schema)
  }

  /** C4/CCNet-style LINE deduplication: drop every line whose exact
    * occurrence count ACROSS THE CORPUS exceeds `maxDf` (navigation
    * boilerplate, cookie banners, copyright footers — the highest-yield
    * single cleanup on scraped text), then reassemble each document from
    * its surviving lines in original order. Every input document
    * survives as one output row — (idCol, text_clean, n_kept,
    * n_dropped) — so curation can audit per-document kill rates and a
    * fully-boilerplate document shows up as an empty text_clean rather
    * than vanishing; NULL text reads as ''. A line is the exact
    * substring between newlines (no trimming — whitespace variants of a
    * banner are different lines, matching the C4 rule), and dropping is
    * RETROACTIVE by construction: counts range over the whole corpus,
    * so the first occurrence of a hot line drops with the rest.
    *
    * Plan: one narrow posexplode → one partial-aggregated line-count
    * shuffle (the hot set = lines with cnt > maxDf) → join back → one
    * doc-keyed reassembly shuffle (sort_array(collect_list) — the q149
    * re-assembly idiom). `broadcastHot = true` (default) ships the hot
    * set to every executor: above any practical threshold the >maxDf
    * tail is tiny relative to the corpus, and the broadcast also
    * sidesteps the empty-line/boilerplate key skew a shuffled line join
    * would concentrate. Pass false at web scale with a LOW maxDf (the
    * duplicated-line set there is boilerplate-sized, not tail-sized) —
    * the shuffled join then hash-partitions both sides on the line and
    * AQE's skew split handles the hot keys.
    *
    * PRECONDITION: `idCol` values must be distinct across `docs` (the
    * weightedSample/shardedShuffle convention — checking would cost a
    * whole extra aggregation): rows sharing an id would reassemble as
    * ONE interleaved document with summed audit counts. */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
                maxDf: Long, broadcastHot: Boolean = true,
                sep: String = "\n"): DataFrame = {
    require(maxDf >= 1, s"Dedup.lineDedup: maxDf must be >= 1, got $maxDf")
    lineDedupFromIndex(lineIndexRows(docs, idCol, textCol, sep), idCol,
      maxDf, broadcastHot, sep)
  }

  /** Working/output columns of the line-dedup family — ONE definition
    * for both guards below (a set updated on one side only would let an
    * idCol collide silently on the other); includes the __run/__batch
    * lineage stamps guardedAppend adds to ingested index rows. */
  private val LineWorkCols = Set("pos", "line", "__hot", "__ls", "__kept",
    "__df", "__run", "__batch", "text_clean", "n_kept", "n_dropped")

  /** One batch's RAW line-index rows — every (`idCol`, pos, line)
    * occurrence of a document batch, the per-micro-batch unit of
    * [[graft.streaming.IncrementalStream.lineIndexIngest]] and
    * [[lineDedup]]'s own explode. The raw accumulated table is the
    * source of truth; the hot-line gate applies AT READ inside
    * [[lineDedupFromIndex]], because hotness is a property of the whole
    * accumulated corpus, not of any one batch — a line that crosses
    * `maxDf` as arrivals fold in must drop retroactively from every
    * document it ever appeared in, including those landed before it went
    * hot (the [[graft.text.Winnow.indexRows]] contract, applied to
    * lines). Rows are keyed by (`idCol`, pos) — occurrence-exact and
    * retry-idempotent.
    *
    * `sep` is the unit boundary (a LITERAL string, not a regex): "\n"
    * is the C4 line rule (default); "\n\n" gives Dolma-style PARAGRAPH
    * dedup with the identical machinery — the separator is part of the
    * family (an index split one way cannot serve the other; keep it
    * consistent across ingest, gates, and snapshots, like the gram-size
    * manifest discipline). */
  def lineIndexRows(docs: DataFrame, idCol: String, textCol: String,
                    sep: String = "\n"): DataFrame = {
    // the id column survives into the output next to the working and
    // result columns — a colliding name would be silently clobbered
    // (the weightedSample precedent)
    require(!LineWorkCols.contains(idCol),
      s"Dedup.lineIndexRows: idCol '$idCol' collides with a working column")
    require(sep.nonEmpty, "Dedup.lineIndexRows: sep must be non-empty")
    docs.select(col(idCol),
      posexplode(split(coalesce(col(textCol), lit("")),
        java.util.regex.Pattern.quote(sep), -1))
        .as(Seq("pos", "line")))
  }

  /** [[lineDedup]]'s second half over a RAW accumulated line index
    * ([[lineIndexRows]] rows): count line occurrences across the WHOLE
    * index, drop every line over `maxDf`, reassemble each document from
    * its surviving (pos-ordered) lines. Serving a continuously-ingested
    * index through this IS running q179's batch semantics over
    * everything that ever arrived — row-identical to [[lineDedup]] on
    * the same documents (graded, q183). PRECONDITION: the ORIGINATING
    * documents' ids were distinct — i.e. (`idCol`, pos) pairs are unique
    * in the index (what the ingest guard keys on); the index itself
    * naturally holds many rows per id, one per line occurrence. */
  def lineDedupFromIndex(index: DataFrame, idCol: String, maxDf: Long,
                         broadcastHot: Boolean = true,
                         sep: String = "\n"): DataFrame = {
    require(maxDf >= 1,
      s"Dedup.lineDedupFromIndex: maxDf must be >= 1, got $maxDf")
    lineDedupAgainstHot(index, hotLines(index, maxDf), idCol, broadcastHot, sep)
  }

  /** The >maxDf hot-line set of a raw line index — ONE (line) row per
    * line whose occurrence count across the whole index exceeds the
    * threshold. [[lineDedupFromIndex]]'s gate half, exposed so a serving
    * loop can materialize it as a SNAPSHOT on a refresh cadence
    * ([[graft.text.Winnow.snapshotIndex]]'s prescription applied to
    * lines) instead of re-counting the whole accumulation per read. */
  def hotLines(index: DataFrame, maxDf: Long): DataFrame = {
    require(maxDf >= 1, s"Dedup.hotLines: maxDf must be >= 1, got $maxDf")
    index.groupBy(col("line"))
      .agg(count(lit(1)).as("__df")).filter(col("__df") > maxDf)
      .select(col("line"))
  }

  /** [[lineDedupFromIndex]]'s reassembly half against an EXTERNAL hot
    * set — the per-batch unit of the streaming serving gate
    * ([[graft.streaming.IncrementalStream.lineDedupGate]]): every index
    * row joins the (broadcast) hot set, each document reassembles from
    * its surviving pos-ordered lines with audit counts. `hot` is one
    * (line) column — typically a [[hotLines]] snapshot, so hotness is
    * pinned at the snapshot's refresh, not per batch. Same
    * distinct-`idCol` precondition as [[lineDedup]]; `hot`'s lines must
    * be DISTINCT too ([[hotLines]] output is by construction) — a
    * duplicated hot row would duplicate every matching occurrence
    * through the join. */
  def lineDedupAgainstHot(index: DataFrame, hot: DataFrame, idCol: String,
                          broadcastHot: Boolean = true,
                          sep: String = "\n"): DataFrame = {
    // reachable directly (serve-line-dedup, the streaming gate) — the
    // collision guard must hold here too, not only on the ingest side
    require(!LineWorkCols.contains(idCol),
      s"Dedup.lineDedupAgainstHot: idCol '$idCol' collides with a working column")
    val hot0 = hot.select(col("line"), lit(1).as("__hot"))
    val hotSide = if (broadcastHot) broadcast(hot0) else hot0
    index.join(hotSide, Seq("line"), "left")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(
        struct(col("pos"), col("__hot"), col("line")))).as("__ls"))
      // the surviving-lines filter is hoisted into a column so it runs
      // ONCE per document (lambda-bearing expressions are excluded from
      // Spark's common-subexpression elimination — inlining it under
      // both text_clean and n_kept would re-filter every line array
      // twice); n_dropped = total − kept, never a traversal of its own
      .withColumn("__kept",
        filter(col("__ls"), s => s.getField("__hot").isNull))
      .select(col(idCol),
        array_join(transform(col("__kept"), s => s.getField("line")), sep)
          .as("text_clean"),
        size(col("__kept")).cast(LongType).as("n_kept"),
        (size(col("__ls")) - size(col("__kept"))).cast(LongType)
          .as("n_dropped"))
  }
}
