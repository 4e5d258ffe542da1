package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** TextRank — PageRank over the word-adjacency graph (Mihalcea & Tarau
  * 2004): nodes are corpus words, edges are weighted bigram adjacencies,
  * and the stationary rank surfaces the corpus' central vocabulary — the
  * classic unsupervised keyword-extraction signal, and the engine's
  * second graph-iteration family next to connected components (q33/q89:
  * reachability; THIS: stationary mass).
  *
  * The PageRank core is deliberately INTEGER (micro-units): each
  * iteration moves floor(pr·w / wout) along every edge and damps by the
  * permille factor with integer division, so the ranks after a fixed
  * iteration count are bit-deterministic under any partitioning and the
  * whole recursion replays cross-engine as a DuckDB CTE chain (q176 —
  * the q167 generated-replay pattern; float PageRank could never grade
  * this way). Dangling mass (words that never lead anywhere — document-
  * final tokens with no successors) is dropped rather than
  * redistributed, identically in both engines: ranks are a RANKING
  * signal, not a probability distribution, and the simplification keeps
  * every step a pure edge join.
  *
  * Scale: the edge list is |bigram vocabulary|-sized (partial-aggregated
  * out of the corpus in one pass — the Zipf head combines map-side); per
  * iteration ONE keyed join of edges against the rank table and one
  * dst-keyed partial aggregate, both on the same key, with the rank
  * table localCheckpoint'd per round (the CC-loop precedent: round r
  * must not re-execute rounds 0..r-1). Iterations are fixed and small
  * (TextRank converges in tens of rounds; rankings stabilize far
  * earlier). */
object TextRank {

  /** Rank in micro-units at round 0 — every node starts equal. */
  val InitMicro = 1000000L

  /** The directed weighted word graph: (src, dst, w, wout) — one row per
    * distinct adjacent pair, w its corpus count, wout the SOURCE word's
    * total outgoing weight (precomputed once so each PageRank iteration
    * is a single join). Tokens by the shared [[TextAnalysis.tokens]]
    * class. */
  def wordGraph(docs: DataFrame, textCol: String): DataFrame = {
    val toks = docs.select(TextAnalysis.tokens(col(textCol)).as("__ts"))
      .filter(size(col("__ts")) >= 2)
    val edges = toks.select(explode(transform(
        sequence(lit(1), size(col("__ts")) - 1),
        i => struct(element_at(col("__ts"), i).as("src"),
          element_at(col("__ts"), i + 1).as("dst")))).as("__e"))
      .groupBy(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .agg(count(lit(1)).cast(LongType).as("w"))
    val outw = edges.groupBy(col("src"))
      .agg(sum(col("w")).cast(LongType).as("wout"))
    edges.join(outw, Seq("src"))
  }

  /** PageRank's damping, in permille. */
  val DampingPermille = 850L

  /** Integer PageRank over a (src, dst, w, wout) edge table: after
    * `iters` rounds, (node, pr_micro) for every node that appears as a
    * src or dst, at the classic damping 0.85 ([[DampingPermille]]). */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, s"TextRank.pageRank: iters must be >= 0, got $iters")
    val base = (1000L - DampingPermille) * 1000L
    val pinned = edges.localCheckpoint()
    try {
      // pinned too: the lazy union+distinct plan would otherwise re-run
      // its 2·|edges| exchange inside every iteration's pr checkpoint
      val nodes = pinned.select(col("src").as("node"))
        .unionByName(pinned.select(col("dst").as("node"))).distinct()
        .localCheckpoint()
      try {
        var pr = nodes.withColumn("pr_micro", lit(InitMicro)).localCheckpoint()
        var r = 0
        while (r < iters) {
          val contribs = pinned
            .join(pr.withColumnRenamed("node", "src"), Seq("src"))
            // integer mass transfer: floor(pr·w / wout), positive operands,
            // so Spark's `div` and DuckDB's `//` agree exactly
            .selectExpr("dst AS node", "(pr_micro * w) div wout AS c")
            .groupBy("node").agg(sum(col("c")).cast(LongType).as("c"))
          val prev = pr
          pr = nodes.join(contribs, Seq("node"), "left")
            .selectExpr("node",
              s"CAST($base + ($DampingPermille * coalesce(c, 0)) div 1000 AS BIGINT) AS pr_micro")
            .localCheckpoint()
          graft.Checkpoints.release(prev)
          r += 1
        }
        pr
      } finally graft.Checkpoints.release(nodes)
    } finally graft.Checkpoints.release(pinned)
  }

  /** Top-`k` corpus keywords by TextRank: (node, pr_micro, rank) under
    * the total (pr DESC, node) order. */
  def keywords(docs: DataFrame, textCol: String, iters: Int,
               k: Int): DataFrame = {
    require(k >= 1, s"TextRank.keywords: k must be >= 1, got $k")
    val ranked = pageRank(wordGraph(docs, textCol), iters)
    ranked.orderBy(col("pr_micro").desc, col("node")).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("pr_micro").desc, col("node"))).cast(LongType))
  }
}
