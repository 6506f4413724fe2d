package graft.ml

import graft.operators.Sampling
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}
import org.apache.spark.storage.StorageLevel

/** Fitted logistic model: `weights(0)` is the intercept, `weights(j)`
  * the coefficient of the j-1'th feature column passed to [[Logit.fit]].
  */
case class LogitModel(weights: Seq[Double], iters: Int, lr: Double, n: Long)

/** Distributed logistic-regression quality classifier — the
  * train-a-cheap-classifier-on-weak-labels corpus-curation pattern
  * (CCNet, Wenzek et al. LREC 2020; LLaMA's Wikipedia-reference
  * classifier): fit on a labeled seed set, score every document, keep
  * what clears a threshold. Complements the generative scorers
  * ([[graft.text.Text.bigramLogProb]] perplexity, DSIR importance
  * weights) with a DISCRIMINATIVE one.
  *
  * Training is full-batch gradient ascent on the log-likelihood: per
  * iteration ONE map-side-combined aggregation computes the gradient
  * `g_j = Σ_i x_ij (y_i − σ(w·x_i))` — d+2 numbers cross the wire per
  * partition regardless of corpus size — and the d+1-double weight
  * update runs on the driver (the same bounded driver-state shape as
  * BPE rounds and k-means). The feature frame is persisted across the
  * `iters` scans; at 100 TB the caller projects features once
  * (scan-side expressions) and the per-iteration cost is a cached
  * d+1-column pass.
  *
  * Engine parity (the repo's round6 + DECIMAL policy): feature columns
  * MUST arrive round6'd; per-row probabilities and gradient terms are
  * round6'd and summed as DECIMAL(28,6) (exact, order-independent),
  * and weights re-round to 6 dp after every update — so the fitted
  * weights are bit-identical on any partitioning and reproducible in
  * the DuckDB oracle as an unrolled per-iteration CTE chain.
  */
object Logit {

  /** Spark's `round(v*1e6)/1e6` double semantics in the JVM — the
    * shared engine-parity rounder (one definition, see functions).
    */
  private def round6jvm(v: Double): Double = graft.functions.round6Jvm(v)

  private def round6(c: Column): Column = graft.functions.round6(c)

  /** Exact order-independent sum of a round6'd double expression. */
  private def decSum6(c: Column): Column =
    sum(c.cast(DecimalType(28, 6))).cast(DoubleType)

  /** `w0 + w1*x1 + ... + wd*xd`, left-associated — the same IEEE
    * evaluation order the SQL oracle's infix chain produces.
    */
  def margin(weights: Seq[Double], featureCols: Seq[String]): Column =
    featureCols.zipWithIndex
      .map { case (f, i) => lit(weights(i + 1)) * col(f) }
      .foldLeft(lit(weights.head): Column)(_ + _)


  /** round6'd `σ(w·x)` under the fitted weights. */
  def score(weights: Seq[Double], featureCols: Seq[String]): Column =
    round6(lit(1.0) / (lit(1.0) + exp(-margin(weights, featureCols))))

  /** Fit by `iters` rounds of full-batch gradient ascent at rate `lr`
    * from w = 0. `labelCol` must be 0/1 (any numeric type); feature
    * columns must be round6'd doubles with no NULLs. The no-NULL
    * contract is ENFORCED: a NULL label/feature (or NULL/negative
    * weight in [[fitWeighted]]) would silently drop from the gradient
    * sums but not the normalizer, shrinking every update — the fit
    * fails loudly instead (one extra long in the same aggregation
    * row).
    */
  def fit(
      df: DataFrame,
      labelCol: String,
      featureCols: Seq[String],
      iters: Int = 3,
      lr: Double = 1.0
  ): LogitModel = fitImpl(df, labelCol, featureCols, iters, lr, None)

  /** Importance-weighted [[fit]] — train under per-row weights (DSIR
    * importance ratios, dedup cluster sizes, inverse class frequency)
    * instead of materializing a resampled corpus: the gradient becomes
    * `Σ w_i·x_ij(y_i − p_i) / Σ w_i`. `weightCol` must be round6'd,
    * non-negative, non-NULL. Parity shape: per-row terms round6 FIRST,
    * then multiply by the weight, then re-round6 before the DECIMAL
    * sum — so an integer weight w is EXACTLY w duplicated rows
    * (spec-pinned), and the fit stays bit-identical on any
    * partitioning.
    */
  def fitWeighted(
      df: DataFrame,
      labelCol: String,
      featureCols: Seq[String],
      weightCol: String,
      iters: Int = 3,
      lr: Double = 1.0
  ): LogitModel = fitImpl(df, labelCol, featureCols, iters, lr, Some(weightCol))

  private def fitImpl(
      df: DataFrame,
      labelCol: String,
      featureCols: Seq[String],
      iters: Int,
      lr: Double,
      weightCol: Option[String]
  ): LogitModel = {
    require(featureCols.nonEmpty, "need at least one feature column")
    withProjection(df, labelCol, featureCols, weightCol.map(col).toSeq) { feats =>
      lockstep(feats, labelCol, featureCols, Seq(lit(true)), weightCol, iters, lr).head
    }
  }

  /** Runs `body` over the persisted training projection of `df` (the
    * label as double, the feature columns, then `extra`), released when
    * `body` returns: the fit loop scans it once per iteration.
    */
  private def withProjection[T](
      df: DataFrame,
      labelCol: String,
      featureCols: Seq[String],
      extra: Seq[Column]
  )(body: DataFrame => T): T = {
    val keep =
      col(labelCol).cast(DoubleType).as(labelCol) +: (featureCols.map(col) ++ extra)
    val feats = df.select(keep: _*).persist(StorageLevel.MEMORY_AND_DISK)
    try body(feats)
    finally { feats.unpersist(); () }
  }

  /** The one gradient loop: `iters` rounds of full-batch gradient
    * ascent from w = 0 for one model per training-set predicate in
    * `trainSets` (`lit(true)` for a plain fit), all in lockstep.
    * Round t is ONE aggregation over `feats` carrying, for every model
    * k, its training-row count, its gradient normalizer (row count, or
    * total weight when `weightCol` is set) and its gradient sums over
    * the rows where `trainSets(k)` holds, under model k's current
    * weights. Each sum is the same round6'd terms in exact
    * DECIMAL(28,6) arithmetic, so a model's weights do not depend on
    * the partitioning or on which other models share the pass.
    */
  private def lockstep(
      feats: DataFrame,
      labelCol: String,
      featureCols: Seq[String],
      trainSets: Seq[Column],
      weightCol: Option[String],
      iters: Int,
      lr: Double
  ): Seq[LogitModel] = {
    require(iters > 0, s"iters must be positive, got $iters")
    // rows violating the fit contract: NULL label/feature, or (when
    // weighted) NULL/negative weight — counted in the first gradient
    // pass and required to be zero, so a contract violation fails
    // loudly instead of biasing every update
    val violation = {
      val nulls = (col(labelCol) +: featureCols.map(col)).map(_.isNull).reduce(_ || _)
      weightCol.fold(nulls)(wc => nulls || col(wc).isNull || col(wc) < 0.0)
    }
    val models = trainSets.indices
    var w = models.map(_ => Seq.fill(featureCols.length + 1)(0.0))
    var n = models.map(_ => 0L)
    var t = 0
    while (t < iters) {
      // weights enter as literals: an A/B against a broadcast
      // one-row weights table (which would share one compiled plan
      // across iterations) measured the broadcast-stage overhead at
      // ~+0.3 s per fit with NO codegen saving to offset it — the
      // per-iteration recompile is cheaper than the extra AQE
      // broadcast stages at any scale where the fit loop matters
      val aggs = models.flatMap { k =>
        val in = trainSets(k)
        val p = round6(lit(1.0) / (lit(1.0) + exp(-margin(w(k), featureCols))))
        val resid = col(labelCol) - p
        val grads = (lit(1.0) +: featureCols.map(col)).zipWithIndex.map { case (x, j) =>
          // weighted: per-row term round6 FIRST, then the weight, then
          // round6 again — an integer weight w is exactly w copies
          val term = round6(x * resid)
          decSum6(when(in, weightCol.fold(term)(wc => round6(col(wc) * term)))).as(s"_g${k}_$j")
        }
        val denom = weightCol.map(wc => decSum6(when(in, col(wc))).as(s"_w$k"))
        // the contract check rides ONLY the first pass: the frame is
        // persisted and cannot change across iterations
        val bad = if (t == 0) Seq(count(when(in && violation, 1)).as(s"_bad$k")) else Nil
        (count(when(in, 1)).as(s"_n$k") +: grads) ++ denom ++ bad
      }
      val row = feats.agg(aggs.head, aggs.tail: _*).head()
      n = models.map(k => row.getAs[Long](s"_n$k"))
      models.foreach { k =>
        require(n(k) > 0, s"cannot fit on an empty training frame (training set $k)")
        if (t == 0) {
          val bad = row.getAs[Long](s"_bad$k")
          require(
            bad == 0L,
            s"$bad row(s) violate the fit contract (NULL label/feature" +
              weightCol.fold("")(wc => s", or NULL/negative $wc") +
              ") — filter them upstream; they would bias every update"
          )
        }
      }
      w = models.map { k =>
        val denom = weightCol.fold(n(k).toDouble)(_ => row.getAs[Double](s"_w$k"))
        require(denom > 0, "total weight must be positive")
        w(k).zipWithIndex.map { case (wj, j) =>
          round6jvm(wj + lr * row.getAs[Double](s"_g${k}_$j") / denom)
        }
      }
      t += 1
    }
    models.map(k => LogitModel(w(k), iters, lr, n(k)))
  }

  /** Attach `scoreCol` (round6'd σ(w·x)) and `predCol`
    * (1 when score ≥ 0.5) to `df` — pure scan-side expressions, the
    * scoring pass is free on the first corpus read.
    */
  def scored(
      df: DataFrame,
      model: LogitModel,
      featureCols: Seq[String],
      scoreCol: String = "score",
      predCol: String = "pred"
  ): DataFrame = {
    val s = score(model.weights, featureCols)
    df.withColumn(scoreCol, s)
      .withColumn(predCol, (col(scoreCol) >= 0.5).cast(IntegerType))
  }

  /** Exact ROC AUC of a scored frame via the tie-aware Mann-Whitney
    * rank statistic — threshold-free ranking quality, the number a
    * curation team compares classifiers by before picking any cut.
    *
    * Scale shape: NO global row sort, and no un-partitioned window
    * over anything corpus-sized — this is [[aucByGroup]] with a single
    * constant group. Scores are round6'd, so the distinct-score table
    * the rank window sorts is ≤ ~10⁶+1 rows at ANY corpus size: one
    * map-side-combined groupBy(score) pass bounds it BEFORE the window
    * (the bound is load-bearing and spec-asserted on the physical
    * plan: the window's input is the aggregated table, never the
    * corpus). Tie handling is exact: a tie group's average rank
    * `cum_before + (cnt+1)/2` enters doubled (`2·cum + cnt + 1`, an
    * integer) and the positive-weighted rank sum accumulates in
    * DECIMAL(38,0) — no FP in the statistic until the final division.
    * Output: one row (n_pos, n_neg, auc); auc NULL when either class
    * is absent.
    */
  def auc(df: DataFrame, labelCol: String, scoreCol: String): DataFrame =
    aucByGroup(df.withColumn("_all", lit(0)), "_all", labelCol, scoreCol)
      .select(col("n_pos"), col("n_neg"), col("auc"))

  /** [[auc]] per group — the per-domain/per-source quality drilldown:
    * a classifier with corpus-level AUC 0.95 can still be BLIND on one
    * source, and that source's docs are exactly what a threshold cut
    * then keeps or drops at random. Same bounded shape as [[auc]] with
    * the rank window partitioned by group: per-group distinct-score
    * tables, no global single-partition stage at all. Output: one row
    * per group (group, n_pos, n_neg, auc); single-class groups get
    * NULL auc.
    */
  def aucByGroup(
      df: DataFrame,
      groupCol: String,
      labelCol: String,
      scoreCol: String
  ): DataFrame = {
    val dec = DecimalType(38, 0)
    val perScore = df
      .select(
        col(groupCol).as("_g"),
        col(scoreCol).cast(DoubleType).as("_s"),
        col(labelCol).cast(DoubleType).as("_y")
      )
      .groupBy("_g", "_s")
      .agg(
        sum(col("_y")).cast(LongType).as("_pos"),
        count(lit(1)).as("_cnt")
      )
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_g")
      .orderBy("_s")
      .rowsBetween(Long.MinValue, 0)
    val ranked = perScore.withColumn(
      "_cumb",
      sum(col("_cnt")).over(w) - col("_cnt")
    )
    ranked
      .groupBy("_g")
      .agg(
        sum(col("_pos")).cast(LongType).as("n_pos"),
        sum(col("_cnt") - col("_pos")).cast(LongType).as("n_neg"),
        sum(
          col("_pos").cast(dec) *
            (lit(2) * col("_cumb") + col("_cnt") + lit(1)).cast(dec)
        ).as("_sr2")
      )
      .select(
        col("_g").as(groupCol),
        col("n_pos"),
        col("n_neg"),
        when(
          col("n_pos") > 0 && col("n_neg") > 0,
          round6(
            (col("_sr2") - col("n_pos").cast(dec) * (col("n_pos") + lit(1)))
              .cast(DoubleType) /
              (lit(2.0) * col("n_pos") * col("n_neg"))
          )
        ).as("auc")
      )
  }

  /** Reliability table: scores bucketed into `bins` equal-width bins,
    * each with its count, positive count, mean score and empirical
    * positive rate — "is a 0.8 really an 80%?" read before trusting
    * classifier scores as keep-probabilities. ONE map-side-combined
    * aggregation with ≤ `bins` rows of state. Scores are expected in
    * [0, 1] (the [[score]] contract) but arbitrary score columns are
    * accepted: out-of-range values CLAMP into the edge bins (a score
    * of exactly 1.0 or above folds into the top bin, below 0 into bin
    * 0) — the bin id is never negative or ≥ `bins`.
    */
  def calibration(
      df: DataFrame,
      labelCol: String,
      scoreCol: String,
      bins: Int = 10
  ): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    df.select(
      greatest(
        lit(0L),
        least(floor(col(scoreCol).cast(DoubleType) * bins), lit(bins - 1))
      ).cast(IntegerType)
        .as("bin"),
      col(scoreCol).cast(DoubleType).as("_s"),
      col(labelCol).cast(DoubleType).as("_y")
    ).groupBy("bin")
      .agg(
        count(lit(1)).as("n"),
        sum(col("_y")).cast(LongType).as("n_pos"),
        round6(decSum6(col("_s")) / count(lit(1))).as("mean_score"),
        round6(sum(col("_y")).cast(DoubleType) / count(lit(1))).as("pos_rate")
      )
  }

  /** k-fold cross-validated AUC — the honest generalization estimate
    * behind "ship this classifier or keep engineering features": folds
    * are assigned by the repo's deterministic md5 52-bit uniform of
    * the id (portable, salt-rotatable, partitioning-independent — the
    * same keying every sampling operator uses), each fold's model
    * trains on the other k−1 and is scored on the held-out fold only.
    *
    * Cost shape (r14 optimization): the folded feature projection is
    * materialized ONCE, and every fold's gradient rides ONE shared
    * aggregation per iteration — `folds × (d+2)` numbers per partition
    * per pass instead of k separate [[fit]] loops each re-scanning the
    * corpus (3 folds × 6 iters was 18 sequential jobs + 6 feature
    * passes; now `iters` jobs + 1 pass). The folds train through the
    * same gradient loop as [[fit]], one training-set predicate
    * `_fold <> k` per fold, so the trained weights — and therefore
    * every score and AUC — are bit-identical to a per-fold [[fit]]
    * (spec-pinned against it).
    * Output: one row per fold (fold, n_train, n_pos, n_neg, auc),
    * returned as a LOCAL frame: the operator is eager end to end (the
    * training loop is k actions anyway), which lets the corpus-sized
    * persisted projection be released before returning instead of
    * living until driver GC (r15; r14 ADVICE).
    */
  def cvAuc(
      df: DataFrame,
      labelCol: String,
      featureCols: Seq[String],
      idCol: String,
      folds: Int = 3,
      iters: Int = 3,
      lr: Double = 1.0,
      salt: String = "graft"
  ): DataFrame = {
    require(folds >= 2, s"need at least 2 folds, got $folds")
    val fold = pmod(Sampling.hash52(col(idCol), salt), lit(folds)).cast(IntegerType)
    // one corpus pass: every fit scan and every scoring scan below
    // reads this compact persisted projection. persist, NOT
    // localCheckpoint (r14 ADVICE): checkpoint blocks lived until
    // driver GC and a truncated lineage is unrecoverable after
    // executor loss without a reliable checkpoint dir — persist keeps
    // the lineage and is released when the block returns.
    withProjection(df, labelCol, featureCols, Seq(fold.as("_fold"))) { withFold =>
      // fold k's model trains on the rows with _fold <> k
      val models = lockstep(
        withFold, labelCol, featureCols, (0 until folds).map(k => col("_fold") =!= k),
        None, iters, lr)
      val out = models.zipWithIndex
        .map { case (m, k) =>
          auc(
            scored(withFold.filter(col("_fold") === k), m, featureCols),
            labelCol,
            "score"
          ).select(
            lit(k).as("fold"),
            lit(m.n).as("n_train"),
            col("n_pos"),
            col("n_neg"),
            col("auc")
          )
        }
        .reduce(_ union _)
      // The k fold-AUC rows are computed HERE (the operator is already
      // eager — the training loop above ran one action per iteration)
      // and returned as a local frame, so the corpus-sized projection
      // can be RELEASED instead of pinning its blocks until driver GC
      // (r14 ADVICE). Values/schema are verbatim.
      val rows = out.collect()
      out.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    }
  }

  /** Per-feature point-biserial correlation with the label — the
    * "which features matter" read BEFORE training: a feature with
    * near-zero |corr| is shuffle weight the model will ignore, and a
    * surprisingly strong one is often label leakage. ONE group-less
    * aggregation computes every feature's DECIMAL-exact moments (Σx at
    * 6 dp, Σx² at 12 dp, Σx·y at 6 dp) and the per-feature rows
    * explode from that single row — corpus scanned once for the whole
    * feature set. Features must be round6'd (the [[fit]] contract).
    * Output: feature, n, n_pos, mean_pos, mean_neg, corr; degenerate
    * cases (single class, zero variance) yield NULL, never NaN.
    */
  def featureStats(
      df: DataFrame,
      labelCol: String,
      featureCols: Seq[String]
  ): DataFrame = {
    require(featureCols.nonEmpty, "need at least one feature column")
    val dec12 = DecimalType(38, 12)
    val y = col(labelCol).cast(DoubleType)
    val aggs = featureCols.flatMap { f =>
      Seq(
        decSum6(col(f)).as(s"_sx_$f"),
        sum((col(f) * col(f)).cast(dec12)).cast(DoubleType).as(s"_sxx_$f"),
        decSum6(when(y === 1.0, col(f)).otherwise(lit(0.0))).as(s"_sxy_$f")
      )
    }
    val one = df.agg(
      count(lit(1)).as("_n"),
      (sum(y).cast(LongType).as("_n1") +: aggs): _*
    )
    val rows = one.select(
      col("_n"),
      col("_n1"),
      explode(
        array(featureCols.map { f =>
          struct(
            lit(f).as("feature"),
            col(s"_sx_$f").as("_sx"),
            col(s"_sxx_$f").as("_sxx"),
            col(s"_sxy_$f").as("_sxy")
          )
        }: _*)
      ).as("_e")
    )
    val n = col("_n").cast(DoubleType)
    val n1 = col("_n1").cast(DoubleType)
    val n0 = (col("_n") - col("_n1")).cast(DoubleType)
    val meanPos = col("_e._sxy") / n1
    val meanNeg = (col("_e._sx") - col("_e._sxy")) / n0
    val varX = col("_e._sxx") / n - (col("_e._sx") / n) * (col("_e._sx") / n)
    rows.select(
      col("_e.feature").as("feature"),
      col("_n").as("n"),
      col("_n1").as("n_pos"),
      when(col("_n1") > 0, round6(meanPos)).as("mean_pos"),
      when(col("_n") - col("_n1") > 0, round6(meanNeg)).as("mean_neg"),
      when(
        col("_n1") > 0 && col("_n") - col("_n1") > 0 && varX > 0.0,
        round6(
          (meanPos - meanNeg) / sqrt(varX) * sqrt(n1 * n0 / (n * n))
        )
      ).as("corr")
    )
  }

  /** Hard-example mining — the active-learning / relabeling queue: per
    * class, the k most misranked documents (negatives the classifier
    * scores highest, positives it scores lowest). These are exactly the
    * rows a curation team sends for human labels or feature review
    * before the next training round.
    *
    * ONE aggregation: hardness `h = (y==1 ? −score : score)` feeds the
    * bounded-heap top-k aggregate, so ≤ k entries per class per
    * partition cross the wire — no per-class sort, no window over the
    * corpus. Ties break on the smaller id (deterministic on any
    * partitioning). Output: label, rank (1 = hardest), id, score.
    */
  def hardExamples(
      df: DataFrame,
      labelCol: String,
      scoreCol: String,
      idCol: String,
      k: Int
  ): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // the bounded-heap aggregate carries LONG ids — a silent cast
    // would NULL every string id (the library's canonical doc_id for
    // file-path and jsonl corpora) and return a relabeling queue of
    // NULLs. Refuse loudly; hash string ids upstream (cvAuc's rule)
    // or select a numeric surrogate.
    require(
      Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        LongType
      ).contains(df.schema(idCol).dataType),
      s"hardExamples: id column '$idCol' must be integral, got " +
        s"${df.schema(idCol).dataType.simpleString} — hash or surrogate it upstream"
    )
    val y = col(labelCol).cast(DoubleType)
    val h = when(y === 1.0, -col(scoreCol)).otherwise(col(scoreCol))
      .cast(DoubleType)
    df.select(
      y.as("label"),
      h.as("_h"),
      col(idCol).cast(LongType).as("_id")
    ).groupBy("label")
      .agg(
        graft.functions.topkAggregate.topKBy(col("_h"), col("_id"), k).as("_top")
      )
      .select(col("label"), posexplode(col("_top")).as(Seq("_pos", "_e")))
      .select(
        col("label"),
        (col("_pos") + 1).cast(IntegerType).as("rank"),
        col("_e.id").as(idCol),
        round6(
          when(col("label") === 1.0, -col("_e.metric")).otherwise(col("_e.metric"))
        ).as("score")
      )
  }

  /** Precision/recall/F1 at each threshold over a scored frame — the
    * keep-rate-vs-quality dial a curation pipeline reads before
    * committing to a cut. ONE scan: thresholds explode scan-side
    * (|thresholds| small), conditional counts map-side-combine, so the
    * aggregate state is |thresholds| rows of 4 longs at any corpus
    * size. Counts are exact longs; ratios round6'd; a ratio with a
    * zero denominator is NULL, never NaN.
    */
  def prCurve(
      df: DataFrame,
      labelCol: String,
      scoreCol: String,
      thresholds: Seq[Double]
  ): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val counted = df
      .select(
        col(labelCol).cast(DoubleType).as("_y"),
        col(scoreCol).cast(DoubleType).as("_s"),
        explode(array(thresholds.map(lit): _*)).as("threshold")
      )
      .groupBy("threshold")
      .agg(
        sum(when(col("_s") >= col("threshold") && col("_y") === 1.0, 1L).otherwise(0L))
          .cast(LongType)
          .as("tp"),
        sum(when(col("_s") >= col("threshold") && col("_y") =!= 1.0, 1L).otherwise(0L))
          .cast(LongType)
          .as("fp"),
        sum(when(col("_s") < col("threshold") && col("_y") === 1.0, 1L).otherwise(0L))
          .cast(LongType)
          .as("fn"),
        sum(when(col("_s") < col("threshold") && col("_y") =!= 1.0, 1L).otherwise(0L))
          .cast(LongType)
          .as("tn")
      )
    val p = col("tp").cast(DoubleType) / (col("tp") + col("fp"))
    val r = col("tp").cast(DoubleType) / (col("tp") + col("fn"))
    counted.select(
      col("threshold"),
      col("tp"),
      col("fp"),
      col("fn"),
      col("tn"),
      when(col("tp") + col("fp") > 0, round6(p)).as("prec"),
      when(col("tp") + col("fn") > 0, round6(r)).as("rec"),
      when(
        (col("tp") + col("fp") > 0) && (col("tp") + col("fn") > 0) &&
          (p + r > 0.0),
        round6(lit(2.0) * p * r / (p + r))
      ).as("f1")
    )
  }
}
