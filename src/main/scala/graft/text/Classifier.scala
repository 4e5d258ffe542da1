package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Linear text classifier over hashed token features — the
  * quality/language filter stage of an LLM data pipeline (the
  * fastText-filter role): hash every token into `dims` buckets, train a
  * linear separator by full-batch hinge-loss subgradient descent, score
  * every document with one narrow pass. EVERYTHING IS INTEGER — feature
  * values are token counts, weights and margins are micro-units, each
  * round's subgradient is an exact integer sum (order-independent under
  * any partition fold), and the update is a pure integer
  * multiply-subtract — so training is bit-deterministic on any cluster
  * layout AND fully replayable by a DuckDB CTE chain: both the trained
  * weights (q167) and the per-document scores (q168) grade against a
  * full cross-engine oracle, not a violations contract. (The standard
  * float alternative — logistic loss, float learning rates — loses
  * nothing conceptually here and costs cross-engine exactness; a hinge
  * subgradient with margin is the Pegasos family minus the float
  * projection step.)
  *
  * Scale shape: the corpus collapses ONCE into the per-document sparse
  * feature table ([[docFeatures]]: one token explode + one doc-keyed
  * aggregation, localCheckpoint'd by the trainer). Each round is one
  * NARROW margin projection (weights ride as a dims-bounded literal map
  * — the Vocab.encodeWith pattern, no join, no shuffle), one
  * feature-keyed aggregation of the violated docs' counts (dims-bounded
  * output), and one dims-bounded driver collect. The corpus is never
  * re-tokenized, re-joined, or re-shuffled after setup. */
object Classifier {

  /** A trained linear model: per-bucket weights and the bias, in
    * micro-units (margin 1.0 == 1,000,000). */
  final case class LinearModel(weights: Map[Long, Long], biasMicros: Long)

  /** The token hash's salt, shared by the feature builder and the scorer. */
  val Salt = "graftf"

  /** Hashed token-count features: (idCol, f, x) — f the md5 bucket of
    * the token (salted with [[Salt]], first 13 hex digits = 52 bits, mod
    * dims), x the token's occurrence count in the document. The same
    * bucket expression a DuckDB oracle writes as CAST('0x' ||
    * substring(md5(...), 1, 13) AS BIGINT) % dims. One explode + one (id, f)-keyed aggregation. */
  def hashedTokenFeatures(docs: DataFrame, idCol: String, textCol: String,
                          dims: Int): DataFrame = {
    require(dims >= 1, s"Classifier.hashedTokenFeatures: dims must be >= 1, got $dims")
    docs.select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
      .withColumn("f", bucketExpr(col("__tok"), dims))
      .groupBy(col(idCol), col("f"))
      .agg(count(lit(1)).cast(LongType).as("x"))
  }

  /** The shared token-to-bucket hash — ONE definition for the feature
    * builder and the one-pass scorer so train and deploy cannot hash
    * into different spaces. */
  private def bucketExpr(tok: org.apache.spark.sql.Column, dims: Int): org.apache.spark.sql.Column =
    conv(substring(md5(concat(lit(Salt + ":"), tok).cast("binary")),
      1, 13), 16, 10).cast(LongType) % dims

  /** The per-document sparse row the training loop iterates on: (idCol,
    * y, fs: array<struct<f,x>>) — built once, so every round is a narrow
    * pass over it. `labels` is (idCol, y) with y in {+1, -1}; documents
    * with no features (empty text) keep an empty array via the right
    * join and train/score on the bias alone. */
  def docFeatures(features: DataFrame, labels: DataFrame,
                  idCol: String): DataFrame =
    features
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("f"), col("x"))).as("__fs"))
      .join(labels, Seq(idCol), "right")
      .withColumn("__fs", coalesce(col("__fs"),
        array().cast("array<struct<f:bigint,x:bigint>>")))

  /** Full-batch hinge-subgradient training, `rounds` rounds from zero
    * weights: margin_d = bias + Σ w_f·x_df; a document with
    * y_d·margin_d < marginMicros is VIOLATED and contributes −y_d·x_df
    * to bucket f's subgradient (and −y_d to the bias's); every weight
    * then steps by −lrMicros·grad — integers end to end, graded
    * round-for-round against a DuckDB replay (q167/q168) and a driver
    * Scala reference ([[trainReference]]). `docs` must be
    * [[docFeatures]]-shaped and is localCheckpoint'd here. */
  def train(docs: DataFrame, idCol: String, dims: Int, rounds: Int,
            lrMicros: Long, marginMicros: Long): LinearModel = {
    require(rounds >= 0, s"Classifier.train: rounds must be >= 0, got $rounds")
    val pinned = docs.localCheckpoint()
    try {
      // fail closed on a feature bucket outside [0, dims): the training
      // margin's element_at lookup is deliberately strict (no coalesce),
      // so an out-of-range bucket — a dims mismatch between
      // hashedTokenFeatures and this call — would NULL the margin and
      // silently drop that doc from every round's violated set, training
      // a wrong model without error (score() coalesces, so it would
      // never surface downstream either). One bounded job, once per
      // train, not per round.
      val oob = pinned.filter(exists(col("__fs"),
        p => p.getField("f") < 0L || p.getField("f") >= dims.toLong))
        .limit(1).count()
      require(oob == 0L,
        s"Classifier.train: feature bucket outside [0, $dims) — " +
          "dims disagrees with the feature table's hashing dims")
      val w = Array.fill(dims)(0L)
      var bias = 0L
      var r = 0
      while (r < rounds) {
        val wLit = typedLit((0 until dims).map(f => f.toLong -> w(f)).toMap)
        val margin = aggregate(col("__fs"), lit(bias),
          (acc, p) => acc + element_at(wLit, p.getField("f")) * p.getField("x"))
        val violated = pinned
          .withColumn("__m", margin)
          .filter(col("y") * col("__m") < marginMicros)
        // bias subgradient and per-bucket subgradients in ONE pass:
        // bucket -1 carries the bias (x = 1 for every violated doc)
        val grads = violated
          .select(col("y"), explode(concat(col("__fs"),
            array(struct(lit(-1L).as("f"), lit(1L).as("x"))))).as("__p"))
          .groupBy(col("__p.f").as("f"))
          .agg(sum(-col("y") * col("__p.x")).cast(LongType).as("g"))
          .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
        var f = 0
        while (f < dims) { w(f) -= lrMicros * grads.getOrElse(f.toLong, 0L); f += 1 }
        bias -= lrMicros * grads.getOrElse(-1L, 0L)
        r += 1
      }
      LinearModel((0 until dims).map(f => f.toLong -> w(f)).toMap, bias)
    } finally graft.Checkpoints.release(pinned)
  }

  /** Score every document under a trained model: (idCol, margin_micros,
    * pred) with pred = +1 iff margin > 0 — one narrow projection, the
    * weights as a literal map (the serving path a streaming gate pins at
    * query start, the Vocab convention). `docs` is
    * [[docFeatures]]-shaped (the y column is not required). `keep` rides
    * extra input columns through the SAME pass — an audit needing the
    * label next to the margin (q215's threshold sweep) must not join it
    * back by id afterward, which would exchange the corpus a second
    * time. */
  def score(docs: DataFrame, idCol: String, model: LinearModel,
            keep: Seq[String] = Nil): DataFrame = {
    val wLit = typedLit(model.weights)
    val margin = aggregate(col("__fs"), lit(model.biasMicros),
      (acc, p) => acc + coalesce(element_at(wLit, p.getField("f")), lit(0L)) * p.getField("x"))
    docs.select(col(idCol) +: margin.as("margin_micros") +: keep.map(col): _*)
      .withColumn("pred", when(col("margin_micros") > 0, 1L).otherwise(-1L))
  }

  /** The ONE-PASS deployment scorer: margins + predictions straight from
    * TEXT, with no feature table at all — by linearity, bias + Σ_f w_f·x_f
    * is exactly bias + Σ_tokens w_bucket(token), so the margin is a
    * single integer array fold over the token array with the weights as a
    * dims-bounded literal map. Row-identical to [[score]] over
    * [[docFeatures]] (same hash via the shared bucket expression, same
    * integers, same sign rule — graded through the streaming gate against
    * the SAME oracle as q168) but ZERO shuffles and zero joins: the shape
    * for scoring 100 TB or a micro-batch. */
  def scoreText(docs: DataFrame, idCol: String, textCol: String,
                model: LinearModel): DataFrame = {
    val dims = model.weights.size
    require(dims >= 1, "Classifier.scoreText: empty model")
    val wLit = typedLit(model.weights)
    // NULL text folds as zero tokens -> bias-only margin, exactly the
    // empty-__fs row the docFeatures path produces (row-identity contract)
    val margin = aggregate(
      coalesce(TextAnalysis.tokens(col(textCol)), array().cast("array<string>")),
      lit(model.biasMicros),
      (acc, tok) => acc + coalesce(
        element_at(wLit, bucketExpr(tok, dims)), lit(0L)))
    docs.select(col(idCol), margin.as("margin_micros"))
      .withColumn("pred", when(col("margin_micros") > 0, 1L).otherwise(-1L))
  }

  /** The bias pseudo-feature appended to every document's feature array:
    * bucket -1 with x = 1, so the bias rides the SAME join/aggregate path
    * as every weight (train() uses the identical trick for the gradient
    * pass) and an empty-feature document still produces a margin row. */
  private def withBiasFeature(fs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(fs, array(struct(lit(-1L).as("f"), lit(1L).as("x"))))

  /** JOIN-CARRIED scorer — [[score]]'s twin for models too large to ride
    * as a plan literal: the weights stay a (f, w_micros) TABLE (the
    * [[weightsTable]] shape, bias as the reserved f = -1 row) and the
    * margin is features-explode -> weight join -> doc-keyed integer sum.
    * Row-identical to [[score]] under the same model (graded — q189, the
    * Vocab.encode/encodeJoin precedent): missing buckets contribute 0 via
    * the left join's coalesce exactly like score's element_at coalesce,
    * and the bias pseudo-feature makes bias + Sigma one sum.
    *
    * When to choose which: [[score]]/[[scoreText]] embed the weight map in
    * the plan — zero joins, zero shuffles, ideal at gate-sized dims but a
    * per-plan literal that grows with dims (impractical past ~2^18 hashed
    * buckets). This one scales with the weight TABLE: `broadcastWeights`
    * (default true — dims+1 rows is megabytes at 2^20) ships it to every
    * executor and the corpus still never shuffles for the probe; at truly
    * enormous dims pass false and the same plan degrades to a shuffled
    * join on the 8-byte bucket key. The doc-keyed margin aggregation is
    * the one shuffle the join form pays over score()'s narrow pass. */
  def scoreJoin(docs: DataFrame, idCol: String, weights: DataFrame,
                broadcastWeights: Boolean = true): DataFrame = {
    val w = weights.select(col("f"), col("w_micros"))
    val wSide = if (broadcastWeights) broadcast(w) else w
    docs
      .select(col(idCol), explode(withBiasFeature(col("__fs"))).as("__p"))
      .select(col(idCol), col("__p.f").as("f"), col("__p.x").as("x"))
      .join(wSide, Seq("f"), "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("w_micros"), lit(0L)) * col("x"))
        .cast(LongType).as("margin_micros"))
      .withColumn("pred", when(col("margin_micros") > 0, 1L).otherwise(-1L))
  }

  /** FULLY-DISTRIBUTED training — [[train]]'s twin for large dims: the
    * weights never leave the cluster. Where train() round-trips a
    * dims-sized literal map into every round's plan and collects the
    * dims-bounded gradient to the driver, this variant maintains the
    * weight TABLE (f, w_micros; bias at f = -1) as a per-round
    * localCheckpoint'd DataFrame: each round is margins (features join
    * weights — the [[scoreJoin]] plan), the violated filter, the
    * feature-keyed integer subgradient, and a spine-preserving
    * weights-minus-lr*grad join. Driver traffic per round: ZERO rows
    * (loop control only). Bit-identical to [[train]] — the same integer
    * subgradients in a different carrier (graded: q189 scores under
    * weights trained HERE against the q168 replay oracle).
    *
    * Per-round cost is one corpus-features pass + a dims-bounded join —
    * same asymptotics as train()'s narrow pass plus the margin shuffle;
    * the win is removing the dims-sized literal/collect from the driver
    * path, which is what caps train() at gate-sized dims. Returns the
    * final weight table (dims+1 rows), checkpointed. */
  def trainJoin(docs: DataFrame, idCol: String, dims: Int, rounds: Int,
                lrMicros: Long, marginMicros: Long): DataFrame = {
    require(rounds >= 0, s"Classifier.trainJoin: rounds must be >= 0, got $rounds")
    val s = docs.sparkSession
    val pinned = docs.localCheckpoint()
    try {
      // same fail-closed oob check as train(): a bucket outside [0, dims)
      // means the feature table was hashed with different dims — the left
      // join would silently score it as weight 0 forever
      val oob = pinned.filter(exists(col("__fs"),
        p => p.getField("f") < 0L || p.getField("f") >= dims.toLong))
        .limit(1).count()
      require(oob == 0L,
        s"Classifier.trainJoin: feature bucket outside [0, $dims) — " +
          "dims disagrees with the feature table's hashing dims")
      val fs = pinned
        .select(col(idCol), col("y"), explode(withBiasFeature(col("__fs"))).as("__p"))
        .select(col(idCol), col("y"), col("__p.f").as("f"), col("__p.x").as("x"))
        .localCheckpoint()
      try {
        // the weight spine: f = -1 (bias) plus 0..dims-1, all zero
        var weights = s.range(dims + 1)
          .select((col("id") - 1).as("f"), lit(0L).as("w_micros"))
          .localCheckpoint()
        var r = 0
        while (r < rounds) {
          val violated = fs.join(broadcast(weights), Seq("f"), "left")
            .groupBy(col(idCol), col("y"))
            .agg(sum(coalesce(col("w_micros"), lit(0L)) * col("x"))
              .cast(LongType).as("__m"))
            .filter(col("y") * col("__m") < marginMicros)
            .select(col(idCol), col("y").as("__vy"))
          val grads = fs.join(violated, Seq(idCol))
            .groupBy(col("f"))
            .agg(sum(-col("__vy") * col("x")).cast(LongType).as("__g"))
          val next = weights.join(grads, Seq("f"), "left")
            .select(col("f"),
              (col("w_micros") - lit(lrMicros) * coalesce(col("__g"), lit(0L)))
                .cast(LongType).as("w_micros"))
            .localCheckpoint()
          graft.Checkpoints.release(weights)
          weights = next
          r += 1
        }
        weights
      } finally graft.Checkpoints.release(fs)
    } finally graft.Checkpoints.release(pinned)
  }

  /** Collect + validate a persisted (f, w_micros) weight table into the
    * [[LinearModel]] the scorers consume — dims + 1 rows, bounded. Fails
    * closed on a missing bias row, duplicate bucket rows (toMap would
    * silently drop one), or a non-contiguous bucket space (scoring would
    * hash into buckets the model never trained). */
  def collectModel(weights: DataFrame): LinearModel = {
    val rows = weights.select(col("f"), col("w_micros")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val m = rows.toMap
    require(rows.length == m.size,
      "Classifier: duplicate bucket rows in the weight table")
    require(m.contains(-1L),
      "Classifier: weight table has no bias row (f = -1)")
    val dims = m.size - 1
    require(dims >= 1 && (0L until dims).forall(m.contains),
      s"Classifier: weight table must cover f = 0..${dims - 1} contiguously")
    LinearModel(m - (-1L), m(-1L))
  }

  /** The graded driver-side reference ([[train]]'s q167 twin, the q150
    * contract family): the identical rounds over a plain Scala feature
    * array. Grading-only — O(|docs|·rounds) on one thread. */
  def trainReference(rows: Seq[(Long, Seq[(Long, Long)])], dims: Int,
                     rounds: Int, lrMicros: Long,
                     marginMicros: Long): LinearModel = {
    val w = Array.fill(dims)(0L)
    var bias = 0L
    for (_ <- 0 until rounds) {
      val grads = Array.fill(dims)(0L)
      var gBias = 0L
      rows.foreach { case (y, fs) =>
        val m = bias + fs.iterator.map { case (f, x) => w(f.toInt) * x }.sum
        if (y * m < marginMicros) {
          fs.foreach { case (f, x) => grads(f.toInt) -= y * x }
          gBias -= y
        }
      }
      var f = 0
      while (f < dims) { w(f) -= lrMicros * grads(f); f += 1 }
      bias -= lrMicros * gBias
    }
    LinearModel(w.zipWithIndex.map { case (v, f) => f.toLong -> v }.toMap, bias)
  }

  /** Render a model as the (f, w_micros) weight table the q167 gate
    * compares cross-engine — bias as the reserved row f = -1. */
  def weightsTable(s: SparkSession, model: LinearModel): DataFrame = {
    import s.implicits._
    (model.weights.toSeq :+ (-1L -> model.biasMicros))
      .sortBy(_._1).toDF("f", "w_micros")
  }
}
