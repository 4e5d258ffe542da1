package graft

/** Executes every invariant query (oracle = [[SparkEntry.InvariantOracleSql]],
  * a constant 0 `violations`) end-to-end at sf0.001, one test per catalog
  * entry: the DuckDB side of those rows is a constant, so THIS is the check
  * that the Spark side actually computes a zero — a regression that flips a
  * violation bit must fail here, not only in the driver's sf0.01 gate. */
class InvariantQuerySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Names kept from when these queries had hand-written tests. */
  private val described = Map(
    "q84_format_roundtrip" -> "q84 format roundtrip holds, including planted empty-string and NULL rows",
    "q85_bucketed_join" -> "q85 bucketed join is shuffle-free and result-identical to the plain join",
    "q86_srp_twin" -> "q86 SRP-LSH retrieval recovers the planted twin",
    "q87_image_decode" -> "q87 real ImageIO decode recovers true dims of executor-encoded PNG/BMP",
    "q88_compaction" -> "q88 compaction lands ceil(bytes/target) files and preserves the checksum",
    "q89_cc_deep_chain" -> "q89 a 50-link duplicate chain canonicalizes via pointer jumping",
    "q91_hash_file_sync" ->
      "q91 name-and-hash file sync re-copies modified files; existence mode stays blind",
    "q115_image_neardup" -> "q115 image near-dup pairs exactly the planted twin renditions",
    "q150_bpe_train" -> "q150 distributed BPE merges match the brute-force trainer, all rounds",
    "q151_overlap_index_ingest" -> "q151 gated overlap-index accumulation equals a from-scratch build",
    "q152_ivf_reassign" ->
      "q152 IVF reassignment is row-identical to a fresh build under new centroids",
    "q154_bpe_encode" -> "q154 BPE apply reproduces the trained segmentation for every corpus word",
    "q158_dedup_index_ingest" ->
      "q158 accumulated near-dup index equals a from-scratch build, both tables",
    "q209_stream_image_dedup" ->
      "q209 streamed fingerprint dedup ingest equals the batch miner and index",
    "q212_takedown_ann_serve" ->
      "q212 ANN takedown: gated serve equals the survivor rebuild under one quantizer",
    "q219_mmr_rerank" -> "q219 MMR re-rank matches the independent greedy and reorders vs relevance")

  private val invariant = SparkEntry.queries.keys
    .filter(SparkEntry.oracleSql(_) == SparkEntry.InvariantOracleSql).toSeq.sorted

  invariant.foreach { q =>
    test(described.getOrElse(q, s"$q reads 0 violations at sf0.001")) {
      val df = SparkEntry.queries(q)(spark, dir)
      assert(df.columns.toSeq === Seq("violations"))
      assert(df.collect().map(_.getLong(0)).toSeq === Seq(0L))
    }
  }
}
