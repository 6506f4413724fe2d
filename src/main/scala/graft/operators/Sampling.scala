package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling & dataset splitting — the reproducibility
  * primitives of a training-data pipeline. `df.sample()` /
  * `randomSplit()` depend on partition layout and reshuffle between
  * runs; these operators derive membership purely from a content hash,
  * so the same row lands in the same split on any cluster, any
  * partitioning, any engine, forever.
  *
  * This object owns the id-hash membership contract that every
  * deterministic sampler, split, fold and shard in graft reads
  * (`Corpus`'s mixture samplers, `Logit.cvAuc` folds, `Export` shard
  * cells, DSIR feature buckets):
  *  - the digest [[idDigest]] = md5(id ":" salt), 32 lowercase hex;
  *  - the 8-hex uniform [[bucketHex]] (its first 8 chars, a uniform
  *    32-bit value) against a hex threshold — [[thresholdHex]] on the
  *    driver, [[thresholdHexCol]] in the plan. Membership compares the
  *    HEX STRING: lexicographic order on fixed-width lowercase hex
  *    equals numeric order, so no engine-specific hex->int conversion
  *    is needed and the exact same predicate runs in any SQL dialect
  *    (md5 is universal). Scan-side projection, zero shuffle,
  *    trivially codegen'd;
  *  - the 52-bit uniform [[hash52]] (the digest's first 13 hex chars as
  *    a long), decoded by [[hexValue]].
  * The SQL mirrors are `graft.queries.sqlBucketHex`, `sqlThresholdHex`
  * and `sqlHexValue`.
  */
object Sampling {

  private[graft] val Two32 = 4294967296d // 2^32
  private val HexFormat = "%08x"

  /** md5(id ":" salt) as 32 lowercase hex chars; a NULL id digests to
    * NULL, so it never passes a membership predicate.
    */
  private[graft] def idDigest(id: Column, salt: String): Column =
    md5(concat(id.cast("string"), lit(s":$salt")))

  /** The 8-hex uniform: the first 8 chars of [[idDigest]]. */
  private[graft] def bucketHex(id: Column, salt: String): Column =
    substring(idDigest(id, salt), 1, 8)

  /** `digits` hex chars of the digest column `h` from 1-based `pos`,
    * decoded as a long.
    */
  private[graft] def hexValue(h: Column, pos: Int, digits: Int): Column =
    conv(substring(h, pos, digits), 16, 10).cast("long")

  /** The 52-bit uniform integer in [0, 2^52) of (id, salt). */
  private[graft] def hash52(id: Column, salt: String): Column =
    hexValue(idDigest(id, salt), 1, 13)

  /** Hex threshold for a fraction of the 32-bit space. Fraction 1.0
    * returns "g" — lexicographically above every hex string, so
    * `bucket < threshold` is always true (2^32 itself does not fit in
    * 8 hex chars).
    */
  private[graft] def thresholdHex(fraction: Double): String = {
    val f = math.min(math.max(fraction, 0.0), 1.0)
    if (f >= 1.0) "g" else HexFormat.format((f * Two32).toLong)
  }

  /** [[thresholdHex]] of an in-plan keep-fraction column in [0, 1]:
    * the same exactly rounded double arithmetic, so a threshold derived
    * from aggregates needs no driver round-trip.
    */
  private[graft] def thresholdHexCol(f: Column): Column =
    when(f >= 1.0, lit("g")).otherwise(format_string(HexFormat, floor(f * lit(Two32))))

  /** Add a `split` column assigning each row to one of the named
    * fractions, e.g. `Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)`.
    * Fractions must sum to 1 (+-1e-9); assignment is by cumulative
    * threshold, so enlarging an earlier fraction only MOVES the
    * boundary — rows never swap between non-adjacent splits.
    */
  def hashSplit(
      df: DataFrame,
      idCol: String,
      fractions: Seq[(String, Double)],
      salt: String = "graft"
  ): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 >= 0))
    require(
      math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${fractions.map(_._2).sum}"
    )
    val cum = fractions.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    val b = bucketHex(col(idCol), salt)
    val expr = fractions
      .zip(cum)
      .dropRight(1)
      .foldRight(lit(fractions.last._1)) { case (((name, _), c), elseCol) =>
        when(b < lit(thresholdHex(c)), lit(name)).otherwise(elseCol)
      }
    df.withColumn("split", expr)
  }

  /** Leakage-safe GROUP-aware split: membership is derived from the
    * hash of `groupCol`, so every row of a group (all documents of one
    * duplicate cluster, all events of one user) lands in the SAME
    * split — the train/test-contamination guard that a row-level split
    * cannot give (near-identical rows of one entity straddling the
    * boundary is leakage, not evaluation). Fractions apportion GROUPS,
    * so realized row fractions track group sizes; same scan-side
    * zero-shuffle predicate as [[hashSplit]].
    */
  def groupSplit(
      df: DataFrame,
      groupCol: String,
      fractions: Seq[(String, Double)],
      salt: String = "graft"
  ): DataFrame = hashSplit(df, groupCol, fractions, salt)

  /** Keep a deterministic `fraction` of rows (uniform within every
    * stratum by construction — hash membership is independent of any
    * other column).
    */
  def deterministicSample(
      df: DataFrame,
      idCol: String,
      fraction: Double,
      salt: String = "graft"
  ): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction out of range: $fraction")
    df.where(bucketHex(col(idCol), salt) < lit(thresholdHex(fraction)))
  }

  /** Deterministic per-stratum sampling: each stratum value gets its
    * own keep-fraction (class rebalancing — downsample the dominant
    * class, keep all of a rare one). Same content-hash membership as
    * [[deterministicSample]], so raising a stratum's fraction only ADDS
    * rows (prefix property per stratum) and results are stable across
    * runs, partitionings and engines. Scan-side filter, zero shuffle.
    *
    * `fractions` maps stratum (as string) to fraction; unlisted strata
    * use `defaultFraction`.
    */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      fractions: Seq[(String, Double)],
      defaultFraction: Double = 0.0,
      salt: String = "graft"
  ): DataFrame = {
    require(
      (defaultFraction +: fractions.map(_._2)).forall(f => f >= 0.0 && f <= 1.0),
      "fractions must be in [0, 1]"
    )
    val thr = fractions.foldRight(lit(thresholdHex(defaultFraction))) {
      case ((k, f), elseCol) =>
        when(col(strataCol).cast("string") === k, lit(thresholdHex(f))).otherwise(elseCol)
    }
    df.where(bucketHex(col(idCol), salt) < thr)
  }

  /** SQL mirror of [[stratifiedSample]]'s predicate. */
  def stratifiedSampleSql(
      idExpr: String,
      strataExpr: String,
      fractions: Seq[(String, Double)],
      defaultFraction: Double = 0.0,
      salt: String = "graft"
  ): String = {
    val b = graft.queries.sqlBucketHex(idExpr, salt)
    val whens = fractions
      .map { case (k, f) =>
        s"WHEN CAST($strataExpr AS VARCHAR) = '$k' THEN '${thresholdHex(f)}'"
      }
      .mkString(" ")
    s"$b < CASE $whens ELSE '${thresholdHex(defaultFraction)}' END"
  }

  /** SQL fragment computing the same split column — for oracle /
    * cross-engine parity (any dialect with md5, substr, ||).
    */
  def hashSplitSql(idExpr: String, fractions: Seq[(String, Double)], salt: String = "graft"): String = {
    val cum = fractions.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    val b = graft.queries.sqlBucketHex(idExpr, salt)
    val whens = fractions
      .zip(cum)
      .dropRight(1)
      .map { case ((name, _), c) => s"WHEN $b < '${thresholdHex(c)}' THEN '$name'" }
      .mkString(" ")
    s"CASE $whens ELSE '${fractions.last._1}' END"
  }

  /** Deterministic weighted sample WITHOUT replacement: the k rows per
    * group with the largest Efraimidis–Spirakis keys
    * u^(1/w) (Inf. Proc. Letters 97(5), 2006) — every row's inclusion
    * probability is proportional to its weight, yet membership is a
    * pure function of (id, salt), so the same rows are drawn on any
    * cluster, any partitioning, any engine. The training-data mixture
    * primitive: "k documents per source, weighted by length/quality".
    *
    * Mechanics: u = (md5-52-bit-uniform + 1) / 2^52 in (0, 1];
    * rank key = round6(ln(u)/w) (monotone in u^(1/w); round6 keeps the
    * boundary engine-exact — ties resolve by id). Selection runs
    * through [[graft.functions.TopKByAgg]], so each map task reduces
    * its slice of a group to <= k candidates BEFORE the exchange —
    * O(partitions*k) shuffle rows per group, no corpus sort.
    *
    * Rows with NULL id or weight <= 0 (NULL or NaN) are excluded.
    * `idCol` must be a ROW KEY (unique per row): the ES key is a pure
    * function of (id, salt, weight), so duplicate ids carry correlated
    * keys and could occupy several top-k slots — without-replacement
    * semantics hold per distinct id, as with every id-hash-membership
    * operator in this file.
    * Output: group columns, `rank` (1 = strongest), the id column,
    * `sample_key`.
    */
  def weightedSamplePerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      idCol: String,
      weight: Column,
      k: Int,
      salt: String = "graft"
  ): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    require(k > 0, s"k must be positive, got $k")
    val u = (hash52(col(idCol), salt) + 1) / lit(4503599627370496.0) // 2^52
    val key = graft.functions.round6(log(u) / weight)
    // NaN > 0 is true under Spark's NaN-greatest ordering and a NaN
    // rank key would sort above every finite key — exclude explicitly
    df.where(weight > 0 && !isnan(weight))
      .groupBy(groupCols.map(col): _*)
      .agg(graft.functions.topkAggregate.topKBy(key, col(idCol), k).as("_top"))
      .select(
        groupCols.map(col) :+ posexplode(col("_top")).as(Seq("_pos", "_e")): _*
      )
      .select(
        groupCols.map(col) ++ Seq(
          (col("_pos") + 1).as("rank"),
          col("_e.id").as(idCol),
          col("_e.metric").as("sample_key")
        ): _*
      )
  }

  /** Deterministic importance resample WITHOUT replacement via the
    * Gumbel-max trick: the k rows with the largest
    * `logWeight + Gumbel(0,1)` keys are exactly a weight-proportional
    * sample without replacement (Vieira 2014; the sampling half of
    * DSIR, Xie et al. NeurIPS 2023 — feed
    * [[graft.text.Text.dsirLogWeights]]'s `log_weight` in). Working in
    * LOG space is the point: importance weights span hundreds of nats
    * and `exp(log_weight)` would overflow doubles where this never
    * does.
    *
    * The Gumbel draw is a pure function of (id, salt) — md5 52-bit
    * uniform u in (0,1), g = −ln(−ln u) — so membership is identical
    * on any cluster, any partitioning, any engine (same determinism
    * contract as [[weightedSamplePerGroup]]; `idCol` must be a row
    * key). Keys round6 to keep the selection boundary engine-exact;
    * ties resolve by id. Rows with NULL `logWeight` (e.g. featureless
    * docs) are excluded. Selection runs through the bounded-heap
    * top-k aggregate — O(partitions·k) shuffle rows, no corpus sort.
    * Output: `rank` (1 = strongest), the id column, `sample_key`.
    */
  def gumbelTopK(
      df: DataFrame,
      idCol: String,
      logWeight: Column,
      k: Int,
      salt: String = "graft"
  ): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // u in (0,1) OPEN: (h52 + 1) / (2^52 + 1) — u = 1 would send
    // g = -ln(-ln 1) to +Inf and pin the row into every sample.
    val u = (hash52(col(idCol), salt) + 1) / lit(4503599627370497.0) // 2^52 + 1
    val key = graft.functions.round6(logWeight - log(-log(u)))
    // NaN log-weight (degenerate upstream score) would sort above
    // every finite key in the bounded heap and pin itself into every
    // sample — same exclusion as weightedSamplePerGroup
    df.where(logWeight.isNotNull && !isnan(logWeight))
      .agg(graft.functions.topkAggregate.topKBy(key, col(idCol), k).as("_top"))
      .select(posexplode(col("_top")).as(Seq("_pos", "_e")))
      .select(
        (col("_pos") + 1).as("rank"),
        col("_e.id").as(idCol),
        col("_e.metric").as("sample_key")
      )
  }

  /** Cap rows per group at `k`, keeping the top-k by `rankMetric`
    * (descending, id ascending tiebreak) — the per-domain document cap
    * of web-corpus curation (no single domain may dominate the
    * mixture). Selection runs through the bounded-heap top-k aggregate:
    * O(groups × k) shuffled state instead of a per-group full sort, so
    * a hot domain with 10^8 pages costs the same shuffle as a cold one.
    * Kept ids then semi-join back to preserve the full original rows.
    */
  def capPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      idCol: String,
      rankMetric: Column,
      k: Int
  ): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    require(k > 0, s"k must be positive, got $k")
    val kept = df
      .groupBy(groupCols.map(col): _*)
      .agg(
        graft.functions.topkAggregate.topKBy(rankMetric, col(idCol), k).as("_top")
      )
      .select(explode(col("_top.id")).as("_keep_id"))
    df.join(kept, col(idCol) === col("_keep_id"), "left_semi")
  }

  /** EXACT stratified split: every stratum is apportioned to the named
    * fractions by count, not by expectation — stratum s of n rows
    * sends its hash-ordered rows 1..floor(cum_1·n) to the first split,
    * floor(cum_1·n)+1..floor(cum_2·n) to the second, and so on (the
    * last split absorbs the remainder). [[hashSplit]]'s thresholds
    * only hit the fractions in expectation, which is fine at web scale
    * but lets a 50-document language draw zero validation rows; here a
    * (train 0.8, val 0.1, test 0.1) split of a 50-row stratum is
    * exactly 40/5/5, every run, every engine (ordering is the same
    * md5(id:salt) content hash — no RNG, no partition dependence).
    *
    * Cost of exactness: one window (rank + count) per stratum — a
    * shuffle on `stratumCol` that [[hashSplit]] does not pay, and a
    * hot stratum sorts in one partition. Use THIS for bounded-
    * cardinality strata (language × source); at billions of rows per
    * stratum use hashSplit, whose binomial deviation is then
    * negligible anyway.
    */
  def stratifiedSplit(
      df: DataFrame,
      stratumCol: String,
      idCol: String,
      fractions: Seq[(String, Double)],
      salt: String = "graft"
  ): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 >= 0))
    require(
      math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${fractions.map(_._2).sum}"
    )
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol)
      .orderBy(bucketHex(col(idCol), salt), col(idCol))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(stratumCol)
    // EXACT boundary arithmetic: the fractions are re-read as the
    // decimals the caller WROTE (shortest-repr toString — 0.1 means
    // 1/10, not the nearest binary double), summed in BigDecimal, and
    // the floor(cum_j * n) boundary is a DECIMAL multiply of that
    // literal — so 0.1+0.2 can never fold to 0.30000000000000004 and
    // shift a boundary by one row on an unlucky stratum size (the
    // double path floors 0.3*10 to 2). The oracle mirrors the same
    // decimal literals.
    val cum = fractions
      .scanLeft(BigDecimal(0)) { case (acc, (_, f)) => acc + BigDecimal(f.toString) }
      .tail
    // floor(cum_j * n) boundaries; row i -> first j with i <= boundary
    val expr = fractions
      .zip(cum)
      .dropRight(1)
      .foldRight(lit(fractions.last._1)) { case (((name, _), c), elseCol) =>
        when(col("_i") <= floor(lit(c.underlying) * col("_n")), lit(name))
          .otherwise(elseCol)
      }
    df.withColumn("_i", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("split", expr)
      .drop("_i", "_n")
  }
}
