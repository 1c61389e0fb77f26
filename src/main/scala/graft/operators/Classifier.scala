package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed quality-classifier TRAINING — the step that turns
  * heuristic keep/drop labels (Gopher rules, curation gates, human
  * ratings) into a reusable linear scorer, the fasttext-style recipe
  * of the CCNet/LLaMA data pipelines (Wenzek et al. 2020 §4.4 train a
  * linear classifier over web text to imitate a quality oracle;
  * [[TextAnalysis.classifierScore]] is the matching INFERENCE path).
  *
  * The model is L2-regularized logistic regression fit by IRLS
  * (iteratively reweighted least squares — standard GLM fitting,
  * Nelder & Wedderburn 1972). The Spark shape is the whole point at
  * 100 TB: the feature dimension is BOUNDED (d = 6), so each IRLS
  * iteration is ONE narrow pass over the feature frame producing the
  * d×d normal-equation moments `XᵀWX` and the d-vector `XᵀWz` as a
  * single partial-combined aggregate row — d(d+1)/2 + d sums — and the
  * tiny symmetric solve happens on the driver. No gradient-descent
  * epochs, no per-row model state, no MLlib dependency; iterations
  * rescan a localCheckpoint of the feature frame, never re-derive it.
  *
  * Numerics note: the moment sums are double accumulations whose
  * partition order Spark does not fix, so trained weights are
  * reproducible only to float-sum tolerance (~1e-12 relative) — the
  * spec pins them against an independent local IRLS at 1e-6, and the
  * driver row is rows-only by declared design.
  */
object Classifier {

  /** Feature names, index-aligned with the [[features]] vector. */
  val featureNames: Seq[String] = Seq(
    "intercept", "log_tokens", "stop_ratio", "mean_word_len",
    "type_token_ratio", "top_token_frac")

  private val defaultStopWords =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Per-doc bounded feature vector (d = 6): intercept, log token
    * count, stopword ratio, mean word length, type/token ratio, and
    * top-token fraction. One (doc_id, tok) aggregate — the
    * [[TextAnalysis.gopherRules]] shuffle shape — then a narrow map. */
  def features(
      docs: DataFrame,
      stopWords: Seq[String] = defaultStopWords): DataFrame = {
    val perTok = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ", -1)).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
    perTok.groupBy("doc_id").agg(
        sum("n").as("n_tokens"),
        count(lit(1)).as("n_types"),
        max("n").as("top_n"),
        sum(when(col("tok").isInCollection(stopWords), col("n"))
          .otherwise(lit(0L))).as("stop_hits"),
        sum(length(col("tok")) * col("n")).as("n_chars"))
      .select(col("doc_id"), array(
        lit(1.0),
        log(lit(1.0) + col("n_tokens")),
        col("stop_hits").cast("double") / col("n_tokens"),
        col("n_chars").cast("double") / col("n_tokens"),
        col("n_types").cast("double") / col("n_tokens"),
        col("top_n").cast("double") / col("n_tokens")).as("x"))
  }

  /** Solve the symmetric system (A + ridge·I)·w = b in place on the
    * driver — d = 6, Gaussian elimination with partial pivoting. */
  private def solveRidge(
      a: Array[Array[Double]], b: Array[Double], ridge: Double): Array[Double] = {
    val d = b.length
    val m = Array.tabulate(d, d + 1) { (i, j) =>
      if (j == d) b(i) else a(i)(j) + (if (i == j) ridge else 0.0)
    }
    for (p <- 0 until d) {
      var piv = p
      for (r <- p + 1 until d) if (math.abs(m(r)(p)) > math.abs(m(piv)(p))) piv = r
      val t = m(p); m(p) = m(piv); m(piv) = t
      require(math.abs(m(p)(p)) > 1e-300,
        s"classifierTrain: singular normal equations at pivot $p — " +
          "raise ridge or check for constant features")
      for (r <- p + 1 until d) {
        val f = m(r)(p) / m(p)(p)
        for (c <- p to d) m(r)(c) -= f * m(p)(c)
      }
    }
    val w = new Array[Double](d)
    for (i <- (d - 1) to 0 by -1) {
      var s = m(i)(d)
      for (j <- i + 1 until d) s -= m(i)(j) * w(j)
      w(i) = s / m(i)(i)
    }
    w
  }

  /** Train by IRLS: `labels` is (doc_id, label∈{0,1}). Returns one row
    * per feature — (idx, term, weight, final_logloss, n_rows) — in
    * feature order; an empty training set returns the d zero-weight
    * rows with NULL loss rather than NaN weights.
    *
    * `iters` is a MAXIMUM: IRLS converges quadratically, so once the
    * mean logloss moves less than `tol` (relative) between passes the
    * loop stops — post-convergence passes each cost a full corpus
    * aggregate and change weights by less than the spec's pin
    * tolerance. `tol = 0` forces exactly `iters` passes. */
  def classifierTrain(
      docs: DataFrame, labels: DataFrame,
      iters: Int = 8, ridge: Double = 1e-3,
      stopWords: Seq[String] = defaultStopWords,
      tol: Double = 1e-9): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters must be in [1, 100], got $iters")
    require(ridge > 0.0, s"ridge must be positive, got $ridge")
    require(tol >= 0.0, s"tol must be non-negative, got $tol")
    val spark = docs.sparkSession
    import spark.implicits._
    val d = featureNames.length
    val xy = features(docs, stopWords)
      .join(labels.select(col("doc_id"),
        col("label").cast("double").as("y")), Seq("doc_id"))
      .select(col("x"), col("y"))
      // iterations rescan this frame — localCheckpoint per the
      // persistence contract (ContextCleaner-released)
      .localCheckpoint()

    def xj(j: Int): Column = element_at(col("x"), j + 1)
    var w = Array.fill(d)(0.0)
    var loss = Double.NaN
    var n = 0L
    var it = 0
    var continue = true
    while (continue && it < iters) {
      val eta = (0 until d).map(j => xj(j) * lit(w(j))).reduce(_ + _)
      val mu = lit(1.0) / (lit(1.0) + exp(-eta))
      val s = greatest(mu * (lit(1.0) - mu), lit(1e-12))
      val z = eta + (col("y") - mu) / s
      val moments =
        (for (j <- 0 until d; k <- j until d)
          yield sum(s * xj(j) * xj(k)).as(s"a_${j}_$k")) ++
        (0 until d).map(j => sum(s * xj(j) * z).as(s"b_$j")) ++
        Seq(
          sum(-(col("y") * log(greatest(mu, lit(1e-300))) +
            (lit(1.0) - col("y")) * log(greatest(lit(1.0) - mu, lit(1e-300)))))
            .as("loss"),
          count(lit(1)).as("n"))
      val row: Row = xy.agg(moments.head, moments.tail: _*).head()
      n = row.getAs[Long]("n")
      if (n == 0L) { continue = false }
      else {
        val lossNew = row.getAs[Double]("loss") / n
        // converged: the loss (evaluated at the CURRENT weights) no
        // longer moves — skip the remaining passes
        if (it > 0 && tol > 0.0 &&
            math.abs(loss - lossNew) <= tol * math.max(1.0, lossNew)) {
          loss = lossNew
          continue = false
        } else {
          val a = Array.ofDim[Double](d, d)
          for (j <- 0 until d; k <- j until d) {
            val v = row.getAs[Double](s"a_${j}_$k")
            a(j)(k) = v; a(k)(j) = v
          }
          val b = (0 until d).map(j => row.getAs[Double](s"b_$j")).toArray
          w = solveRidge(a, b, ridge)
          loss = lossNew
          it += 1
        }
      }
    }
    featureNames.zipWithIndex.map { case (t, i) =>
      (i, t, w(i), if (n == 0L) None else Some(loss), n)
    }.toDF("idx", "term", "weight", "final_logloss", "n_rows")
      .orderBy("idx")
  }

  /** Multinomial Naive-Bayes quality-classifier TRAINING — the
    * unbounded-vocabulary sparse complement to [[classifierTrain]]'s
    * bounded dense IRLS (the fastText-bigram recipe of CCNet, Wenzek
    * et al. 2020 §4.4, reduces to exactly this log-linear form when fit
    * generatively; McCallum & Nigam 1998 for the multinomial event
    * model). `labels` is (doc_id, label∈{0,1}).
    *
    * Output: one row per vocabulary term — (term, n_pos, n_neg,
    * llr_micro) where llr_micro is the Laplace-smoothed per-occurrence
    * log-likelihood ratio ln((n_pos+α)/(T_pos+αV)) −
    * ln((n_neg+α)/(T_neg+αV)) in INTEGER MICRO-NATS (the dsirWeights
    * pattern: integer model weights make every downstream document
    * score an exact integer sum — order-independent, engine-portable,
    * no float-boundary class).
    *
    * Spark shape at 100 TB: ONE corpus-sized (term) aggregation with
    * map-side combine; totals are a broadcast scalar. The model is a
    * vocabulary-sized frame — the bounded-by-language artifact every
    * NB/fastText pipeline ships. No iterations, no driver state. */
  def nbTrain(docs: DataFrame, labels: DataFrame, alpha: Double = 1.0): DataFrame =
    nbFromCounts(nbCounts(docs, labels), alpha)

  /** The (term, n_pos, n_neg) per-class count frame — [[nbTrain]]'s
    * maintainable core. Counts are LINEAR in documents (each doc
    * contributes an independent integer vector), which is what makes
    * the NB model incrementally maintainable ([[nbModelIncremental]])
    * and streamable ([[graft.streaming.AdditiveStream.nb]]): merged counts are
    * a term-wise sum, and the smoothed weights re-derive from the
    * merged frame bit-identically. One partial-combined (term)
    * aggregation — the same shuffle shape as [[nbTrain]] itself. */
  def nbCounts(docs: DataFrame, labels: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ", -1)).as("term"))
      .join(labels.select(col("doc_id"), col("label").cast("int").as("y")), Seq("doc_id"))
      .groupBy("term").agg(
        sum(when(col("y") === 1, lit(1L)).otherwise(lit(0L))).as("n_pos"),
        sum(when(col("y") === 0, lit(1L)).otherwise(lit(0L))).as("n_neg"))

  /** Derive the full NB model from a (term, n_pos, n_neg) count frame:
    * totals are ONE tiny aggregate broadcast back, and the smoothed
    * llr_micro is a deterministic function of (n_pos, n_neg, tp, tn,
    * v) — so any count frame that term-wise equals a direct
    * [[nbCounts]] run yields a bit-identical model, the property the
    * incremental and streaming maintenance proofs ride on. */
  def nbFromCounts(counts: DataFrame, alpha: Double = 1.0): DataFrame = {
    require(alpha > 0.0, s"alpha must be positive, got $alpha")
    val totals = counts.agg(
      sum("n_pos").as("tp"), sum("n_neg").as("tn"), count(lit(1)).as("v"))
    counts.crossJoin(broadcast(totals))
      .select(col("term"), col("n_pos"), col("n_neg"),
        round((
          log((col("n_pos").cast("double") + alpha) /
            (col("tp").cast("double") + lit(alpha) * col("v"))) -
          log((col("n_neg").cast("double") + alpha) /
            (col("tn").cast("double") + lit(alpha) * col("v")))) * 1e6)
          .cast("long").as("llr_micro"))
      .orderBy("term")
  }

  /** Incremental MAINTENANCE of the NB model — the
    * [[graft.operators.TextAnalysis.knModelIncremental]] contract on
    * the per-class count frame: daily ingest touches a sliver of a
    * 100 TB corpus, so the classifier refresh must cost the sliver,
    * not a full re-count. Removed/changed docs contribute NEGATED
    * counts (tokenized from the old snapshot, delta-sized),
    * added/changed docs contribute fresh counts, one signed term-wise
    * merge, terms whose counts both reach zero drop (so the merged
    * vocabulary — and with it V in the smoothing denominator — exactly
    * matches a full retrain's).
    *
    * The change detector hashes text AND label jointly: a label flip
    * with unchanged text (a doc re-classified by an upstream rule)
    * still registers as `changed` and moves its counts between
    * classes — a text-only diff would silently miss it. Docs without a
    * label row train nothing on either side (the [[nbCounts]] inner
    * join), so label appearance/disappearance is handled by the same
    * diff. Proven THROUGH serving: the driver entry scores the corpus
    * against the maintained model and hash-matches the SAME
    * full-corpus oracle as q_nb_score, so the hash gate IS the
    * incremental == full-retrain proof. */
  def nbModelIncremental(
      priorModel: DataFrame,
      oldDocs: DataFrame, oldLabels: DataFrame,
      newDocs: DataFrame, newLabels: DataFrame,
      alpha: Double = 1.0): DataFrame = {
    def labeled(docs: DataFrame, labels: DataFrame): DataFrame =
      docs.select(col("doc_id"), col("text"))
        .join(labels.select(col("doc_id"),
          col("label").cast("int").as("y")), Seq("doc_id"))
    // diff on (text, label) jointly — 32-char hashes cross the
    // exchange, never text; the surviving frame is delta-sized
    val diff = Etl.snapshotDiff(
        labeled(oldDocs, oldLabels)
          .select(col("doc_id"), concat_ws("\u0000", col("text"), col("y").cast("string")).as("text")),
        labeled(newDocs, newLabels)
          .select(col("doc_id"), concat_ws("\u0000", col("text"), col("y").cast("string")).as("text")))
      .filter(col("status") =!= "unchanged").localCheckpoint()
    val addedIds = diff.filter(col("status").isin("added", "changed"))
      .select("doc_id")
    val goneIds = diff.filter(col("status").isin("removed", "changed"))
      .select("doc_id")
    val added = nbCounts(
      newDocs.join(addedIds, Seq("doc_id"), "left_semi"), newLabels)
    val removed = nbCounts(
      oldDocs.join(goneIds, Seq("doc_id"), "left_semi"), oldLabels)
      .select(col("term"), (-col("n_pos")).as("n_pos"), (-col("n_neg")).as("n_neg"))
    val merged = priorModel.select("term", "n_pos", "n_neg")
      .unionByName(added).unionByName(removed)
      .groupBy("term").agg(
        sum("n_pos").as("n_pos"), sum("n_neg").as("n_neg"))
      .filter(col("n_pos") > 0 || col("n_neg") > 0)
    nbFromCounts(merged, alpha)
  }

  /** Score documents against an [[nbTrain]] model: per-doc score =
    * Σ_tokens llr_micro(token) — an exact integer sum of the model's
    * micro-nat weights, reported at its own 1e-6 scale (identity snap,
    * never a rounding boundary). `keep` is the balanced-prior decision
    * score > 0; out-of-vocabulary tokens take the smoothed zero-count
    * ratio ln(T_neg+αV) − ln(T_pos+αV), recovered from the model's own
    * column sums so serving needs only the artifact.
    *
    * Spark shape: token explode → broadcast-able vocabulary join →
    * per-doc integer sum; the corpus crosses one shuffle (doc_id). An
    * empty model fails loudly (the [[TextAnalysis.perplexityAgainst]]
    * contract) instead of emitting NULL scores. */
  def nbScore(docs: DataFrame, model: DataFrame, alpha: Double = 1.0): DataFrame = {
    require(alpha > 0.0, s"alpha must be positive, got $alpha")
    val totals = model.agg(
      sum("n_pos").as("tp"), sum("n_neg").as("tn"), count(lit(1)).as("v"))
    val toks = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ", -1)).as("term"))
    toks.join(model.select(col("term"), col("llr_micro")), Seq("term"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("lm",
        coalesce(col("llr_micro"),
          when(col("v") > 0,
            round((
              log(col("tn").cast("double") + lit(alpha) * col("v")) -
              log(col("tp").cast("double") + lit(alpha) * col("v"))) * 1e6)
              .cast("long")),
          raise_error(lit("nbScore: model is empty — every score would" +
            " be NULL; check the model artifact path")).cast("long")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("lm").as("score_micro"))
      .select(col("doc_id"), col("n_tokens"), col("score_micro"),
        round(col("score_micro").cast("double") / 1e6, 6).as("score"),
        (col("score_micro") > 0).as("keep"))
      .orderBy("doc_id")
  }

  /** Apply trained weights (feature-order aligned with
    * [[featureNames]]): per-doc score = σ(w·x) and the keep flag at
    * the 0.5 boundary. A narrow map over [[features]] — the weights
    * ride the plan as literals, no join, no broadcast table. */
  def classifierApply(
      docs: DataFrame, weights: Seq[Double],
      stopWords: Seq[String] = defaultStopWords): DataFrame = {
    require(weights.length == featureNames.length,
      s"expected ${featureNames.length} weights, got ${weights.length}")
    val eta = weights.zipWithIndex
      .map { case (wj, j) => element_at(col("x"), j + 1) * lit(wj) }
      .reduce(_ + _)
    features(docs, stopWords)
      .select(col("doc_id"),
        (lit(1.0) / (lit(1.0) + exp(-eta))).as("score"))
      .withColumn("keep", col("score") > 0.5)
      .orderBy("doc_id")
  }

  /** EXACT classifier evaluation report from integer scores: confusion
    * counts at the score>0 decision boundary, precision / recall / F1,
    * and ROC AUC — all computed as exact rationals and reported via
    * half-up integer micro snaps (the perplexity-mean pattern:
    * `(2a + d) div (2d)` of DECIMAL(38,0) operands, so no float
    * boundary exists anywhere and the whole report has a DuckDB oracle
    * twin; DECIMAL keeps 2·P·N·1e6 exact far past the long range).
    *
    * AUC is the Mann-Whitney U statistic over the SCORE HISTOGRAM:
    * `2U = Σ_s n_pos(s)·(2·negs_below(s) + n_neg(s))` — ties count
    * half, the standard mid-rank convention. The cumulative
    * negs-below is a TWO-LEVEL prefix sum (the ccnetBuckets /
    * packSequences pattern): within-block exclusive windows over
    * `blk = score div 2^16` partitions (≤ ~2^17 distinct scores each,
    * a constant) plus cross-block offsets windowed over the tiny
    * per-block subtotal frame — never a flat window over the whole
    * score histogram. The histogram itself is one partial-combined
    * groupBy on the integer score; documents are never windowed.
    *
    * Input: (doc_id, score_micro long, y int ∈ {0,1}). Output: ONE row
    * (n_pos, n_neg, tp, fp, fn, tn, u2 DOUBLE — ACCUMULATED in
    * DECIMAL(38,0) from the first multiply, since 2U ≈ 2·n_pos·n_neg
    * wraps a long past n_pos·n_neg ≈ 4.6e18, but REPORTED as double
    * per the output convention (never emit DECIMAL); the ratios divide
    * the exact decimal before the cast, precision, recall, f1, auc);
    * ratio columns are NULL when their denominator is empty. The
    * standard use is resubstitution eval of [[nbScore]] /
    * [[classifierApply]] against their training labels — a fidelity
    * report, not a generalization estimate. */
  def classifierEval(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = scored.groupBy("score_micro")
      .agg(sum(when(col("y") === 1, lit(1L)).otherwise(lit(0L))).as("np"),
        sum(when(col("y") === 0, lit(1L)).otherwise(lit(0L))).as("nn"))
      .withColumn("blk", expr("score_micro div 65536"))
      .localCheckpoint()
    val wIn = Window.partitionBy("blk").orderBy("score_micro")
      .rowsBetween(Window.unboundedPreceding, -1)
    // the offsets window is flat, but over the per-block SUBTOTAL
    // frame (|score range| / 2^16 rows) — the bounded cross-block half
    // of the two-level pattern
    val wOff = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = hist.groupBy("blk").agg(sum("nn").as("bn"))
      .withColumn("off", coalesce(sum("bn").over(wOff), lit(0L)))
      .select("blk", "off")
    val u2row = hist
      .withColumn("cin", coalesce(sum("nn").over(wIn), lit(0L)))
      .join(broadcast(offsets), Seq("blk"))
      // per-row operands go DECIMAL(38,0) BEFORE the multiply: the
      // product is ~2·n_pos·n_neg per score bucket, which wraps a LONG
      // once n_pos·n_neg passes ~4.6e18 — billion-doc corpora would
      // silently corrupt the AUC if the sum accumulated in longs
      .agg(coalesce(
        sum(col("np").cast("decimal(38,0)") *
          ((col("cin") + col("off")).cast("decimal(38,0)") * 2 + col("nn"))),
        lit(0).cast("decimal(38,0)")).as("u2"))
    val tot = hist.agg(
      coalesce(sum("np"), lit(0L)).as("n_pos"),
      coalesce(sum("nn"), lit(0L)).as("n_neg"),
      coalesce(sum(when(col("score_micro") > 0, col("np")).otherwise(lit(0L))),
        lit(0L)).as("tp"),
      coalesce(sum(when(col("score_micro") > 0, col("nn")).otherwise(lit(0L))),
        lit(0L)).as("fp"))
    tot.crossJoin(u2row)
      .withColumn("fn", col("n_pos") - col("tp"))
      .withColumn("tn", col("n_neg") - col("fp"))
      .withColumn("precision_m", expr(
        """CASE WHEN tp + fp = 0 THEN NULL ELSE
          | (CAST(tp AS DECIMAL(38,0)) * 2000000 + (tp + fp))
          |  div (CAST(tp + fp AS DECIMAL(38,0)) * 2) END""".stripMargin))
      .withColumn("recall_m", expr(
        """CASE WHEN n_pos = 0 THEN NULL ELSE
          | (CAST(tp AS DECIMAL(38,0)) * 2000000 + n_pos)
          |  div (CAST(n_pos AS DECIMAL(38,0)) * 2) END""".stripMargin))
      .withColumn("f1_m", expr(
        """CASE WHEN 2 * tp + fp + fn = 0 THEN NULL ELSE
          | (CAST(tp AS DECIMAL(38,0)) * 4000000 + (2 * tp + fp + fn))
          |  div (CAST(2 * tp + fp + fn AS DECIMAL(38,0)) * 2) END""".stripMargin))
      .withColumn("auc_m", expr(
        """CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL ELSE
          | (CAST(u2 AS DECIMAL(38,0)) * 2000000
          |   + CAST(n_pos AS DECIMAL(38,0)) * n_neg * 2)
          |  div (CAST(n_pos AS DECIMAL(38,0)) * n_neg * 4) END""".stripMargin))
      .select(col("n_pos"), col("n_neg"), col("tp"), col("fp"), col("fn"),
        col("tn"),
        // reported as DOUBLE (approximate past 2^53 — the display
        // column only; precision/recall/F1/AUC divide the exact
        // decimal BEFORE this cast, so the ratios stay exact)
        col("u2").cast("double").as("u2"),
        round(col("precision_m").cast("double") / 1e6, 6).as("precision"),
        round(col("recall_m").cast("double") / 1e6, 6).as("recall"),
        round(col("f1_m").cast("double") / 1e6, 6).as("f1"),
        round(col("auc_m").cast("double") / 1e6, 6).as("auc"))
  }

  /** Equal-probability calibration bin boundaries in LLR micro-nats:
    * p ∈ [k/n, (k+1)/n) ⟺ llr ∈ [logit(k/n), logit((k+1)/n)) — logit
    * is monotone, so binning the INTEGER score against these literals
    * is exactly probability-decile binning with no per-doc sigmoid at
    * the bin boundary. Computed once driver-side and embedded as plan
    * literals in BOTH engines (the oracle SQL injects the same
    * longs — no float boundary can disagree). */
  def calibrationBoundsMicro(nBins: Int): Seq[Long] = {
    require(nBins >= 2 && nBins <= 1000, s"nBins must be in [2,1000], got $nBins")
    (1 until nBins).map(k =>
      math.round(math.log(k.toDouble / (nBins - k)) * 1e6))
  }

  /** Calibration / reliability report (Guo et al. 2017, "On
    * Calibration of Modern Neural Networks"): bucket documents into
    * `nBins` predicted-probability bins, compare each bin's mean
    * predicted confidence against its observed positive rate, and
    * report the expected calibration error Σ (n_b/N)·|acc_b − conf_b|
    * — the companion report to [[classifierEval]] (AUC says the
    * RANKING is right; this says the PROBABILITIES are).
    *
    * Input is [[classifierEval]]'s: (doc_id, score_micro long LLR,
    * y ∈ {0,1}). Binning is integer comparison against
    * [[calibrationBoundsMicro]] literals (see there); per-doc
    * confidence is the micro-snapped sigmoid (the one transcendental,
    * same per-row round-then-integer-sum posture as nbScore's ln); all
    * ratios are half-up integer micro snaps of DECIMAL(38,0) operands
    * (the classifierEval overflow posture — a per-bin sum of 10⁶-scale
    * confidences wraps a long past ~9·10¹² docs). Empty bins are
    * absent rows (both engines agree); `ece_micro` rides every row as
    * the report's headline. One partial-combined groupBy on the bin
    * key — documents are never windowed. */
  def calibrationReport(scored: DataFrame, nBins: Int = 10): DataFrame = {
    val bounds = calibrationBoundsMicro(nBins)
    val binCol = bounds.map(b =>
      when(col("score_micro") >= lit(b), 1).otherwise(0))
      .reduce(_ + _).cast("int")
    val confMicro = round(lit(1e6) /
      (lit(1.0) + exp(-(col("score_micro").cast("double") / lit(1e6)))))
      .cast("long")
    val bins = scored
      .select(binCol.as("bin"), col("y").cast("long").as("y"),
        confMicro.as("conf_micro"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
        sum(col("conf_micro").cast("decimal(38,0)")).as("sum_conf"))
      .withColumn("frac_pos_micro", expr(
        "(CAST(n_pos AS DECIMAL(38,0)) * 2000000 + n) " +
          "div (CAST(n AS DECIMAL(38,0)) * 2)").cast("long"))
      .withColumn("avg_conf_micro", expr(
        "(sum_conf * 2 + n) div (CAST(n AS DECIMAL(38,0)) * 2)").cast("long"))
      .withColumn("gap_micro", col("avg_conf_micro") - col("frac_pos_micro"))
      .localCheckpoint()
    val ece = bins.agg(expr(
      "(sum(CAST(n AS DECIMAL(38,0)) * abs(gap_micro)) * 2 + sum(n)) " +
        "div (CAST(sum(n) AS DECIMAL(38,0)) * 2)").cast("long").as("ece_micro"))
    bins.crossJoin(broadcast(ece))
      .select("bin", "n", "n_pos", "frac_pos_micro", "avg_conf_micro",
        "gap_micro", "ece_micro")
      .orderBy("bin")
  }
}
