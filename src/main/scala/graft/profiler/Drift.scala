package graft.profiler

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift detection over a time-partitioned dataset —
  * the day-over-day companion to the point-in-time profiler
  * (reference scope: thoth monitors per-day metric series; PSI is the
  * standard industry extension for *distribution* change, not just
  * moment change).
  *
  * Scale shape: one scan bins every row (the global min/max ride a
  * 1-row broadcast), one map-side-combinable count per (day, bin),
  * and everything after operates on |days| x |bins| rows — grain-level
  * data, independent of raw size. Nothing here rescans raw data per
  * day pair.
  */
object Drift {

  /** Day-over-day Population Stability Index of a numeric column.
    *
    * Bins are equi-width over the GLOBAL [min, max] — shared edges are
    * what makes day-to-day proportions comparable (per-day edges would
    * conflate range drift with shape drift). Each day's per-bin
    * proportion is clamped to `eps` so empty bins contribute a large
    * finite term instead of infinity; PSI(d) = sum_bins
    * (p_d - p_{d-1}) * (ln p_d - ln p_{d-1}) against the previous
    * CALENDAR day (a missing day yields no pair — surface those with
    * [[missingDays]]).
    *
    * Interpretation rule of thumb: < 0.1 stable, 0.1-0.25 moderate
    * shift, > 0.25 action.
    */
  def psiDrift(
      df: DataFrame,
      tsCol: String = "ts",
      valueCol: String = "value",
      bins: Int = 10,
      eps: Double = 1e-6
  ): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    require(eps > 0, s"eps must be positive, got $eps")
    val e = df
      .where(col(valueCol).isNotNull)
      .select(
        date_trunc("day", col(tsCol)).as("_day"),
        col(valueCol).as("_v")
      )
    val global = e
      .agg(min(col("_v")).as("_mn"), max(col("_v")).as("_mx"))
      .withColumn("_k", lit(1))
    val binned = e
      .withColumn("_k", lit(1))
      .join(broadcast(global), "_k")
      .select(
        col("_day"),
        when(col("_mx") === col("_mn"), lit(0))
          .otherwise(
            least(
              floor((col("_v") - col("_mn")) / (col("_mx") - col("_mn")) * bins)
                .cast("int"),
              lit(bins - 1)
            )
          )
          .as("_bin")
      )
    val counts = binned.groupBy(col("_day"), col("_bin")).agg(count(lit(1)).as("_n"))
    val totals = counts.groupBy(col("_day")).agg(sum(col("_n")).as("_nt"))
    // dense (day x bin) grid — a bin empty on one day but not its
    // neighbor must still contribute an eps-clamped term
    val grid = totals.select(
      col("_day"),
      col("_nt"),
      explode(sequence(lit(0), lit(bins - 1))).as("_bin")
    )
    val p = grid
      .join(counts, Seq("_day", "_bin"), "left_outer")
      .select(
        col("_day"),
        col("_bin"),
        greatest(
          coalesce(col("_n"), lit(0L)).cast("double") / col("_nt"),
          lit(eps)
        ).as("_p")
      )
    val q = p.select(
      col("_day").as("_qday"),
      col("_bin").as("_qbin"),
      col("_p").as("_q")
    )
    p.join(
        q,
        // CALENDAR-day step (date_sub on DATE), not a fixed 24h
        // interval: in a DST session timezone the spring-forward
        // midnights are 23h apart and the pair row would vanish
        col("_qday").cast("date") === date_sub(col("_day").cast("date"), 1) &&
          col("_qbin") === col("_bin")
      )
      .groupBy(col("_day").as("ts"))
      .agg(
        graft.functions
          .round6(sum((col("_p") - col("_q")) * (log(col("_p")) - log(col("_q")))))
          .as("psi")
      )
  }

  /** Day-over-day two-sample Kolmogorov-Smirnov statistic of a numeric
    * column — the nonparametric companion to [[psiDrift]]: no binning
    * choice, sensitive to ANY distribution change (location, scale,
    * shape), KS(d) = sup_x |F_d(x) - F_{d-1}(x)| against the previous
    * calendar day. A day with no predecessor data yields no row.
    *
    * Scale shape: one scan collapses raw rows to per-(day, value)
    * counts (map-side combinable — the CDF only needs counts at each
    * distinct value); each day's counts are then replayed twice, once
    * as the "current" side of its own pair and once as the "previous"
    * side of the next day's pair, via a union — no self-join of raw
    * data. The only ordered step is a cumulative sum over DISTINCT
    * values within one (day-pair) partition — value-grain, not
    * row-grain, so a 100 TB day with bounded value cardinality costs
    * |values| per partition. For unbounded-cardinality doubles at
    * extreme scale, quantize first (the profiler's quantile grid) —
    * the operator is exact on whatever grain it is fed.
    *
    * Interpretation: KS in [0,1]; with day sizes n, m the 95%
    * rejection threshold is ~1.358*sqrt((n+m)/(n*m)).
    */
  def ksDrift(
      df: DataFrame,
      tsCol: String = "ts",
      valueCol: String = "value"
  ): DataFrame = {
    // materialized (r15): the two union branches below consume these
    // counts once each, and the r15 executed plans showed the raw scan
    // + aggregation executing TWICE (exchange reuse did not fire), so
    // "one scan collapses raw rows to counts" was only true per
    // branch. The count table is metric-grain (|days| × |values|),
    // so checkpointing it is cheap at any raw-data scale.
    val c = graft.functions.materialize(
      df
        .where(col(valueCol).isNotNull)
        .groupBy(
          date_trunc("day", col(tsCol)).as("_day"),
          col(valueCol).as("_v")
        )
        .agg(count(lit(1)).as("_n"))
    )
    // replay each day's counts onto both sides of its adjacent pairs:
    // keyed by the CURRENT day of the pair (_pday)
    val sides = c
      .select(
        // calendar-day step — see the psiDrift pair join
        date_add(col("_day").cast("date"), 1).cast("timestamp").as("_pday"),
        col("_v"),
        col("_n").as("_na"),
        lit(0L).as("_nb")
      )
      .unionAll(
        c.select(col("_day").as("_pday"), col("_v"), lit(0L).as("_na"), col("_n").as("_nb"))
      )
    ksStatistic(sides, Seq("_pday")).select(
      col("_pday").as("ts"),
      col("ks"),
      col("_nat").as("n_prev"),
      col("_nbt").as("n_cur")
    )
  }

  /** The two-sample KS tail of [[ksDrift]] and [[ksBetweenGroups]].
    * `sides` holds count rows keyed by `pairCols` and a value `_v`,
    * each carrying its side-a count `_na` or side-b count `_nb` (the
    * other side 0). Per pair: the merged per-value counts, the side
    * totals `_nat`/`_nbt` (pairs missing a side yield no row), and
    * `ks` = round6(max |CDF_a − CDF_b|) over the cumulative sums at
    * distinct-value grain.
    */
  private def ksStatistic(sides: DataFrame, pairCols: Seq[String]): DataFrame = {
    val pair = pairCols.map(col)
    val merged = sides
      // ONE pair-keyed exchange for the whole tail (r15; guide §2.4):
      // the pair partitioning satisfies the clustering of this
      // groupBy(pair, _v), the totals aggregate, the totals join AND
      // the cumulative-CDF window — without it each re-exchanged
      // ((pair, _v) partitioning does not satisfy pair clustering),
      // measured 11 jobs → 7 at sf0.1 for ksDrift. The pair was
      // already the window's partition grain, so skew is unchanged by
      // keying the exchange on it.
      .repartition(pair: _*)
      .groupBy(pair :+ col("_v"): _*)
      .agg(sum(col("_na")).as("_na"), sum(col("_nb")).as("_nb"))
    val totals = merged
      .groupBy(pair: _*)
      .agg(sum(col("_na")).as("_nat"), sum(col("_nb")).as("_nbt"))
      .where(col("_nat") > 0 && col("_nbt") > 0)
    val w = Window.partitionBy(pair: _*).orderBy("_v")
    merged
      .join(totals, pairCols)
      .select(
        pair ++ Seq(
          col("_nat"),
          col("_nbt"),
          sum(col("_na")).over(w).as("_ca"),
          sum(col("_nb")).over(w).as("_cb")
        ): _*
      )
      .groupBy(pair: _*)
      .agg(
        graft.functions
          .round6(
            max(abs(
              col("_ca").cast("double") / col("_nat") -
                col("_cb").cast("double") / col("_nbt")
            ))
          )
          .as("ks"),
        max(col("_nat")).as("_nat"),
        max(col("_nbt")).as("_nbt")
      )
  }

  /** Repair a day-grain metric series by last-observation-carried-
    * forward: densify each key's series over ITS OWN [first, last]
    * observed day span and fill the gaps with the most recent observed
    * value, flagging filled rows. The repair companion to
    * [[missingDays]] (which only detects) — forecast models
    * ([[graft.anomaly.Models]]) assume contiguous series; a silent
    * 3-day pipeline outage would otherwise shift every seasonal lag
    * after it.
    *
    * Contract: one row per (keys, day) in the input (the profiler's
    * long-format metric tables satisfy this by construction); `tsCol`
    * is truncated to day. Leading gaps cannot exist — each key's spine
    * starts at its first observation.
    *
    * Scale shape: the spine explodes from a per-key 1-row span
    * aggregate (|keys| × span rows — metric-grain, not raw-grain); the
    * fill is one window per key ordered by day, whose partition is the
    * series length. Raw data is never rescanned.
    */
  def gapFill(
      series: DataFrame,
      tsCol: String,
      valueCol: String,
      keyCols: Seq[String]
  ): DataFrame = {
    require(keyCols.nonEmpty, "gapFill needs at least one key column")
    val day = date_trunc("day", col(tsCol))
    val obs = series.select(
      keyCols.map(col) :+ day.as("_day") :+ col(valueCol).as("_v"): _*
    )
    val spine = obs
      .groupBy(keyCols.map(col): _*)
      .agg(min(col("_day")).as("_mn"), max(col("_day")).as("_mx"))
      .select(
        keyCols.map(col) :+
          // DATE-typed spine: a timestamp sequence steps fixed 24h and
          // drifts off local midnights across a DST transition
          explode(transform(
            sequence(col("_mn").cast("date"), col("_mx").cast("date"),
              expr("INTERVAL 1 DAY")),
            d => d.cast("timestamp")
          )).as("_day"): _*
      )
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(obs, keyCols :+ "_day", "left_outer")
      .select(
        keyCols.map(col) :+
          col("_day").as(tsCol) :+
          last(col("_v"), ignoreNulls = true).over(w).as(valueCol) :+
          col("_v").isNull.as("filled"): _*
      )
  }

  /** Calendar days with NO rows per key, within the dataset's global
    * [min day, max day] span — the "silent partition" detector (a
    * pipeline that stops delivering for one key is invisible to
    * per-day aggregates, which simply have no row to flag).
    *
    * Scale shape: the observed (key, day) set is a distinct aggregate
    * of the scan; expected days explode from a 1-row global span onto
    * the distinct key list (|keys| x |span| rows, grain-level); the
    * anti-join is keyed on (key, day). Raw data is scanned once.
    */
  def missingDays(
      df: DataFrame,
      tsCol: String,
      keyCols: Seq[String]
  ): DataFrame = {
    require(keyCols.nonEmpty, "missingDays needs at least one key column")
    val day = date_trunc("day", col(tsCol))
    val observed = df
      .select(keyCols.map(col) :+ day.as("_day"): _*)
      .distinct()
    val span = df
      .agg(min(day).as("_min_day"), max(day).as("_max_day"))
      .withColumn("_k", lit(1))
    val expected = observed
      .select(keyCols.map(col): _*)
      .distinct()
      .withColumn("_k", lit(1))
      .join(broadcast(span), "_k")
      .select(
        keyCols.map(col) :+
          explode(transform(
            sequence(col("_min_day").cast("date"), col("_max_day").cast("date"),
              expr("INTERVAL 1 DAY")),
            d => d.cast("timestamp")
          )).as("_day"): _*
      )
    expected
      .join(observed, keyCols :+ "_day", "left_anti")
      .select(keyCols.map(col) :+ col("_day").as("missing_day"): _*)
  }

  /** Two-sample Kolmogorov-Smirnov between every GROUP pair (not day
    * pair — [[ksDrift]]'s sibling for the mixture question): "do my
    * sources draw from the same length/score distribution?" —
    * `(group_a, group_b, n_a, n_b, ks)` for group_a < group_b.
    * Sources that re-serve each other show ks ≈ 0; a crawler whose
    * new source is truncating documents shows a length-KS spike long
    * before means move.
    *
    * Scale shape: one (group, value) count aggregation over raw data
    * is the only raw exchange; each count row replays onto the pairs
    * containing its group via two equi-joins + a union (no raw
    * self-join, no OR-join); the CDF sup-gap is a cumulative-sum
    * window per pair at DISTINCT-VALUE grain. Group count carries an
    * explicit bound (`maxGroups`, TakeOrdered) — the pair table is
    * |groups|² by construction.
    */
  def ksBetweenGroups(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      maxGroups: Int = 100
  ): DataFrame = {
    require(maxGroups >= 2, s"maxGroups must be >= 2, got $maxGroups")
    // materialized (r15) for the same reason as [[ksDrift]]'s count
    // table: three consumers below (the group roster + both pair
    // sides) otherwise re-run the raw scan + aggregation each
    val counts = graft.functions.materialize(
      df
        .where(col(groupCol).isNotNull && col(valueCol).isNotNull)
        .groupBy(col(groupCol).as("_g"), col(valueCol).as("_v"))
        .agg(count(lit(1)).as("_n"))
    )
    val groups = counts
      .select("_g")
      .distinct()
      .orderBy("_g")
      .limit(maxGroups)
    val ga = groups.select(col("_g").as("group_a")).withColumn("_k", lit(1))
    val gb = groups.select(col("_g").as("group_b")).withColumn("_k", lit(1))
    val pairs = ga
      .join(broadcast(gb), "_k")
      .where(col("group_a") < col("group_b"))
      .drop("_k")
    val sideA = pairs
      .join(counts.withColumnRenamed("_g", "group_a"), "group_a")
      .select(
        col("group_a"),
        col("group_b"),
        col("_v"),
        col("_n").as("_na"),
        lit(0L).as("_nb")
      )
    val sideB = pairs
      .join(counts.withColumnRenamed("_g", "group_b"), "group_b")
      .select(
        col("group_a"),
        col("group_b"),
        col("_v"),
        lit(0L).as("_na"),
        col("_n").as("_nb")
      )
    ksStatistic(sideA.unionAll(sideB), Seq("group_a", "group_b")).select(
      col("group_a"),
      col("group_b"),
      col("_nat").as("n_a"),
      col("_nbt").as("n_b"),
      col("ks")
    )
  }

  /** Row-level snapshot diff — the dataset regression test: compare
    * two snapshots BY KEY and report `(n_added, n_removed, n_changed,
    * n_unchanged)` in one summary row. "The pipeline change was
    * supposed to be a no-op" becomes a single assertion instead of a
    * hash of the whole table (which can only say *something* moved).
    *
    * Rows compare via an md5 content hash over `compareCols` with
    * explicit NULL sentinels — `concat_ws` silently DROPS nulls, so
    * ('a', NULL, 'b') and ('a', 'b', NULL) would otherwise collide;
    * every column goes through `coalesce(cast(c as string), sentinel)`
    * first. Key columns match NULL-SAFELY (`<=>`): a row whose key is
    * NULL on both sides is the same row, not an add+remove pair.
    * Duplicate keys are a caller error this op surfaces: the counts
    * are per KEY OCCURRENCE pairing (full outer join), so a key
    * duplicated on one side inflates added/removed visibly.
    *
    * Scale shape: two scan-side hash projections (16-byte digests —
    * the payload never shuffles), ONE full-outer join on the key, one
    * group-less count aggregation.
    */
  def snapshotDiff(
      a: DataFrame,
      b: DataFrame,
      keyCols: Seq[String],
      compareCols: Seq[String]
  ): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column")
    require(compareCols.nonEmpty, "at least one compare column")
    def hashed(df: DataFrame, prefix: String, h: String): DataFrame =
      df.select(
        keyCols.zipWithIndex.map { case (k, i) => col(k).as(s"_$prefix$i") } :+
          md5(
            concat_ws(
              "\u0001",
              compareCols.map(c =>
                coalesce(col(c).cast("string"), lit("\u0000NULL\u0000"))
              ): _*
            )
          ).as(h): _*
      )
    val ha = hashed(a, "ka", "_ha")
    val hb = hashed(b, "kb", "_hb")
    val cond = keyCols.indices
      .map(i => col(s"_ka$i") <=> col(s"_kb$i"))
      .reduce(_ && _)
    ha.join(hb, cond, "full_outer")
      .agg(
        sum(when(col("_ha").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("_hb").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(
          when(
            col("_ha").isNotNull && col("_hb").isNotNull &&
              col("_ha") =!= col("_hb"),
            1L
          ).otherwise(0L)
        ).as("n_changed"),
        sum(when(col("_ha") === col("_hb"), 1L).otherwise(0L))
          .as("n_unchanged")
      )
  }

  /** Key-novelty profile: per day, how many distinct key values were
    * seen, how many appeared for the FIRST time, their share, and the
    * running distinct total — `(day, n_values, n_new, new_share,
    * cum_distinct)`. The freshness signal every ingest needs: a crawl
    * re-serving yesterday's pages shows a novelty collapse days
    * before corpus size moves; a dedup regression shows as novelty
    * stuck at 1.0.
    *
    * Scale shape: ONE distinct over (day, key) — the only raw-data
    * exchange — then two map-side-combinable aggregations at pair
    * grain (per-day counts; first-day counts via groupBy(key).min),
    * joined at |days| grain where a window computes the running total
    * (cum_distinct = running sum of n_new, since each key counts
    * exactly once, at its first day). Nothing rescans raw data, no
    * distinct-union across days.
    */
  def noveltyProfile(
      df: DataFrame,
      tsCol: String,
      keyCol: String
  ): DataFrame = {
    val day = date_trunc("day", col(tsCol))
    val pairs = df
      .where(col(keyCol).isNotNull)
      .select(day.as("day"), col(keyCol).as("_key"))
      .distinct()
    val perDay = pairs.groupBy("day").agg(count(lit(1)).as("n_values"))
    val firstSeen = pairs
      .groupBy("_key")
      .agg(min(col("day")).as("day"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_new"))
    val w = Window
      .orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDay
      .join(firstSeen, Seq("day"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn(
        "new_share",
        graft.functions.round6(col("n_new") / col("n_values"))
      )
      // |days|-grain window: the single-partition sort is over the
      // day table, never the raw data
      .withColumn("cum_distinct", sum(col("n_new")).over(w))
  }
}
