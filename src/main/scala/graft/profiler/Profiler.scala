package graft.profiler

import graft.core.{Granularity, Metric}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Maps a Spark type predicate to the analyzers applied to columns of
  * that type (reference: thoth/profiler.py:32-83 `Type2Analyzers` +
  * `ProfilingBuilder`).
  */
case class TypeMapping(appliesTo: DataType => Boolean, analyzers: Seq[ColumnAnalyzer])

/** Builds the (metric, aggregate expression) set for a schema.
  *
  * The resulting plan is declarative: every analyzer is an aggregate
  * `Column`, so Catalyst fuses them into one physical aggregation.
  */
class ProfilingBuilder(
    val typeMappings: Seq[TypeMapping],
    val datasetAnalyzers: Seq[ColumnAnalyzer] = Seq(Analyzers.Size)
) extends Serializable {
  require(
    typeMappings.nonEmpty || datasetAnalyzers.nonEmpty,
    "At least typeMappings or datasetAnalyzers must be provided."
  )

  /** All (metric key, aggregate expression) pairs for the given fields. */
  def metricExprs(fields: Seq[StructField]): Seq[(Metric, Column)] = {
    val columnMetrics = for {
      field <- fields
      mapping <- typeMappings if mapping.appliesTo(field.dataType)
      analyzer <- mapping.analyzers
    } yield Metric("Column", field.name, analyzer.name) -> analyzer.expr(field.name)
    val datasetMetrics =
      datasetAnalyzers.map(a => Metric("Dataset", "*", a.name) -> a.expr("*"))
    columnMetrics ++ datasetMetrics
  }
}

object ProfilingBuilder {
  import Analyzers._

  /** Default analyzer set — mirrors the reference's
    * DefaultProfilingBuilder (thoth/profiler.py:86-112): numeric →
    * Mean/StdDev/Quantiles(.25/.5/.75); everything → Completeness;
    * string → CountDistinct; dataset → Size.
    */
  def default: ProfilingBuilder = new ProfilingBuilder(
    typeMappings = Seq(
      TypeMapping(
        _.isInstanceOf[NumericType],
        Seq(Mean, StandardDeviation) ++ Quantiles(Seq(0.25, 0.5, 0.75))
      ),
      TypeMapping(_ => true, Seq(Completeness)),
      TypeMapping(_.isInstanceOf[StringType], Seq(CountDistinct))
    ),
    datasetAnalyzers = Seq(Size)
  )

  /** Minimal set — mirrors SimpleProfilingBuilder
    * (thoth/profiler.py:115-135).
    */
  def simple: ProfilingBuilder = new ProfilingBuilder(
    typeMappings = Seq(
      TypeMapping(_.isInstanceOf[NumericType], Seq(Mean)),
      TypeMapping(_ => true, Seq(Completeness))
    ),
    datasetAnalyzers = Seq(Size)
  )

  /** Everything-on set: default plus min/max/sum, distribution shape
    * (skewness/kurtosis from raw moments) and distinctness. Still one
    * join-free aggregation, but note the EXACT distincts
    * (CountDistinct/Distinctness) are not constant-state partials —
    * Spark plans Expand + an extra exchange for them; at 100 TB swap
    * them for [[Analyzers.ApproxCountDistinct]] (the `sketch` builder's
    * choice).
    */
  def extended: ProfilingBuilder = new ProfilingBuilder(
    typeMappings = Seq(
      TypeMapping(
        _.isInstanceOf[NumericType],
        Seq(
          Mean,
          StandardDeviation,
          Min,
          Max,
          Sum,
          Skewness,
          Kurtosis
        ) ++ Quantiles(Seq(0.25, 0.5, 0.75))
      ),
      TypeMapping(_ => true, Seq(Completeness)),
      TypeMapping(_.isInstanceOf[StringType], Seq(CountDistinct, Distinctness))
    ),
    datasetAnalyzers = Seq(Size)
  )

  /** Scale-oriented set: sketch-only aggregates (HLL, approx
    * percentiles) whose partial state is constant-size — the 100 TB
    * configuration.
    */
  def sketch: ProfilingBuilder = new ProfilingBuilder(
    typeMappings = Seq(
      TypeMapping(
        _.isInstanceOf[NumericType],
        Seq(Mean, StandardDeviation) ++ ApproxQuantiles(Seq(0.25, 0.5, 0.75))
      ),
      TypeMapping(_ => true, Seq(Completeness)),
      TypeMapping(_.isInstanceOf[StringType], Seq(ApproxCountDistinct()))
    ),
    datasetAnalyzers = Seq(Size)
  )
}

/** Single-pass distributed profiler.
  *
  * Reference behavior (thoth/profiler.py:282-338): collect distinct
  * timestamps to the driver, then run one profiling job per timestamp.
  * graft instead truncates ts to the granularity and computes ALL
  * metrics for ALL partitions in ONE `groupBy`: the shuffle is keyed on
  * the truncated ts, every aggregate is partial-aggregatable, and the
  * shuffled state per (day, metric) is O(1) (or sketch-sized). One job,
  * any number of days — this is the shape that survives 100 TB.
  */
object Profiler {

  /** Unpivot a wide frame into the long metric format
    * `(ts, entity, instance, name, value)`: each `metrics` entry is one
    * (entity, instance, name, value) column set, evaluated per input
    * row and exploded from a generated array-of-structs — a narrow
    * (no-shuffle) projection on top of whatever built `wide`. Every
    * long-format series graft derives (batch and streaming profiles,
    * funnel, event-funnel and trend series) is built here, so their
    * output shapes cannot drift.
    */
  private[graft] def unpivotMetrics(
      wide: DataFrame,
      ts: Column,
      metrics: Seq[(Column, Column, Column, Column)]
  ): DataFrame = {
    val entries = metrics.map { case (entity, instance, name, value) =>
      struct(entity.as("entity"), instance.as("instance"), name.as("name"), value.as("value"))
    }
    wide
      .select(ts.as("ts"), explode(array(entries: _*)).as("pv"))
      .select(
        col("ts"),
        col("pv.entity").as("entity"),
        col("pv.instance").as("instance"),
        col("pv.name").as("name"),
        col("pv.value").as("value")
      )
  }

  /** [[unpivotMetrics]] entries of a profiler aggregate whose i-th
    * metric of `metricExprs` sits in column `_m<i>`.
    */
  private[graft] def analyzerMetrics(
      metricExprs: Seq[(Metric, Column)]
  ): Seq[(Column, Column, Column, Column)] =
    metricExprs.zipWithIndex.map { case ((m, _), i) =>
      (lit(m.entity), lit(m.instance), lit(m.name), col(s"_m$i"))
    }

  /** Day/hour/week/month truncation into the internal `_gts` column
    * (original event-time column dropped). `_gts` stays internal
    * through each profile's aggregations and is renamed to `ts` only in
    * the final select — renaming earlier would collide with a DATA
    * column literally named "ts" next to a differently-named event-time
    * column (ambiguous-reference failures downstream).
    */
  private def truncated(df: DataFrame, tsColumn: String, granularity: String): DataFrame =
    df.withColumn("_gts", date_trunc(Granularity.truncUnit(granularity), col(tsColumn)))
      .drop(tsColumn)

  /** Profile `df` into the long-format metrics table:
    * `(ts, entity, instance, name, value)`.
    *
    * @param df          input data
    * @param tsColumn    event-time column
    * @param builder     analyzer configuration
    * @param granularity partition grain (see [[graft.core.Granularity]])
    */
  def profile(
      df: DataFrame,
      tsColumn: String,
      builder: ProfilingBuilder = ProfilingBuilder.default,
      granularity: String = Granularity.Day
  ): DataFrame = {
    val fields = df.schema.fields.filterNot(_.name == tsColumn).toSeq
    val metricExprs = builder.metricExprs(fields)
    require(
      metricExprs.nonEmpty,
      s"No analyzer applies to any column of ${df.schema.simpleString} — " +
        "check the builder's type mappings"
    )
    val aliased = metricExprs.zipWithIndex.map { case ((_, expr), i) => expr.as(s"_m$i") }
    // the truncated event-time lives under an internal name so a DATA
    // column named "ts" is still profiled as data, not clobbered
    val wide = df
      .withColumn("_gts", date_trunc(Granularity.truncUnit(granularity), col(tsColumn)))
      .groupBy(col("_gts"))
      .agg(aliased.head, aliased.tail: _*)
      .withColumnRenamed("_gts", "ts")
    unpivotMetrics(wide, col("ts"), analyzerMetrics(metricExprs))
  }

  /** Distinctness + Uniqueness ratios per ts partition (Deequ-style;
    * beyond the reference's analyzer set). These need value-frequency
    * counts, i.e. a two-level aggregation — still two map-side-
    * combinable shuffles, no driver loop:
    * distinctness = |distinct values| / rows,
    * uniqueness   = |values appearing exactly once| / rows.
    */
  def uniquenessProfile(
      df: DataFrame,
      tsColumn: String,
      column: String,
      granularity: String = Granularity.Day
  ): DataFrame =
    truncated(df, tsColumn, granularity)
      .where(col(column).isNotNull)
      .groupBy(col("_gts"), col(column))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("_gts"))
      .agg(
        lit(column).as("instance"),
        (count(lit(1)) / sum(col("cnt"))).as("distinctness"),
        (sum(when(col("cnt") === 1, 1L).otherwise(0L)) / sum(col("cnt")))
          .as("uniqueness")
      )
      .select(col("_gts").as("ts"), col("instance"), col("distinctness"), col("uniqueness"))

  /** Equi-width histogram of a numeric column per ts partition:
    * `(ts, instance, bucket, count)`. Bucket = floor((v-min)/width)
    * clamped into [0, nBuckets-1]; fixed [min,max) bounds keep the
    * aggregation a single map-side-combinable groupBy (data-dependent
    * bounds would need a prior pass — do that pass and feed the result
    * here when bounds are unknown).
    */
  def histogramProfile(
      df: DataFrame,
      tsColumn: String,
      column: String,
      nBuckets: Int,
      min: Double,
      max: Double,
      granularity: String = Granularity.Day
  ): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(max > min, s"empty bucket range [$min, $max)")
    val width = (max - min) / nBuckets
    truncated(df, tsColumn, granularity)
      .where(col(column).isNotNull)
      .withColumn(
        "bucket",
        least(
          greatest(floor((col(column) - min) / width), lit(0L)),
          lit(nBuckets - 1L)
        )
      )
      .groupBy("_gts", "bucket")
      .agg(lit(column).as("instance"), count(lit(1)).as("count"))
      .select(col("_gts").as("ts"), col("instance"), col("bucket"), col("count"))
  }

  /** Functional-dependency check (Deequ's hasUniqueness cousin, the
    * pydeequ-style constraint the reference exposes as column-pair
    * assertions): for each (determinant -> dependent) pair, does one
    * determinant value always map to one dependent value? Reported as
    * measurement, not assertion: `(determinant, dependent, n_groups,
    * violating_groups, violating_rows, max_dependents, consistency)`
    * where consistency = 1 - violating_rows / rows.
    *
    * Scale shape: one scan per pair — groupBy(determinant) with a
    * distinct-count of the dependent (two exchanges, both
    * map-side-combinable), then a single-row rollup. Pairs are
    * independent jobs; at many pairs over one fact table, run them in
    * one multi-agg scan upstream and feed the per-group table here.
    */
  def functionalDependencyProfile(
      df: DataFrame,
      pairs: Seq[(String, String)]
  ): DataFrame = {
    require(pairs.nonEmpty, "at least one (determinant, dependent) pair")
    pairs
      .map { case (det, dep) =>
        df.where(col(det).isNotNull)
          .groupBy(col(det))
          .agg(countDistinct(col(dep)).as("_nd"), count(lit(1)).as("_n"))
          .agg(
            lit(det).as("determinant"),
            lit(dep).as("dependent"),
            count(lit(1)).as("n_groups"),
            sum(when(col("_nd") > 1, 1L).otherwise(0L)).as("violating_groups"),
            sum(when(col("_nd") > 1, col("_n")).otherwise(0L))
              .as("violating_rows"),
            max(col("_nd")).as("max_dependents"),
            graft.functions.round6(
              lit(1.0) -
                sum(when(col("_nd") > 1, col("_n")).otherwise(0L)) /
                sum(col("_n"))
            ).as("consistency")
          )
      }
      .reduce(_.unionAll(_))
  }

  /** Equi-DEPTH histogram per ts partition: bucket boundaries are the
    * exact j/nBuckets quantiles of the partition (so buckets hold
    * ~equal row counts — the right view for skewed columns where
    * [[histogramProfile]]'s fixed-width buckets collapse into one hot
    * bar). `(ts, instance, bucket, lo, hi, count)`; buckets are
    * half-open [lo, hi) on the INNER boundaries (a row equal to an
    * inner boundary goes up), so duplicates never split.
    *
    * Scale shape: one exact-percentile aggregation per partition (the
    * grain table is small), broadcast back onto the rows — bucket
    * assignment is a codegen'd filter over the (nBuckets-1)-element
    * boundary array, then one map-side-combinable count. Exact
    * percentile parity with DuckDB's quantile_cont is the established
    * float policy; at extreme per-partition cardinality swap in the
    * approx-sketch boundaries and the bucket semantics stay identical.
    */
  def equiDepthProfile(
      df: DataFrame,
      tsColumn: String,
      column: String,
      nBuckets: Int,
      granularity: String = Granularity.Day
  ): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val probs = array((0 to nBuckets).map(j => lit(j.toDouble / nBuckets)): _*)
    val rows = truncated(df, tsColumn, granularity).where(col(column).isNotNull)
    // Boundaries are rounded to 6 dp BEFORE bucketing (the library
    // float policy): engines interpolate quantiles with different
    // operation order, and a row sitting exactly on an inner boundary
    // must bucket identically everywhere.
    val bounds = rows
      .groupBy("_gts")
      .agg(
        transform(percentile(col(column), probs), c => graft.functions.round6(c))
          .as("_bs")
      )
    rows
      .join(broadcast(bounds), "_gts")
      .withColumn(
        "bucket",
        size(filter(slice(col("_bs"), 2, nBuckets - 1), b => b <= col(column)))
      )
      .groupBy(col("_gts"), col("bucket"))
      .agg(
        lit(column).as("instance"),
        first(element_at(col("_bs"), col("bucket") + 1)).as("lo"),
        first(element_at(col("_bs"), col("bucket") + 2)).as("hi"),
        count(lit(1)).as("count")
      )
      .select(
        col("_gts").as("ts"),
        col("instance"),
        col("bucket").cast("long").as("bucket"),
        col("lo"),
        col("hi"),
        col("count")
      )
  }

  /** Top-k most frequent values of a column per ts partition (Deequ
    * Histogram analog for categoricals): `(ts, instance, value_str,
    * count, rank)`. Two map-side-combinable aggregations + a window
    * rank; ties break on the value for determinism. At very high
    * cardinality swap the exact count for a count-min sketch — rank
    * semantics stay identical.
    */
  def topKValuesProfile(
      df: DataFrame,
      tsColumn: String,
      column: String,
      k: Int,
      granularity: String = Granularity.Day
  ): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_gts"))
      .orderBy(col("count").desc, col("value_str"))
    truncated(df, tsColumn, granularity)
      .where(col(column).isNotNull)
      .groupBy(col("_gts"), col(column).cast("string").as("value_str"))
      .agg(count(lit(1)).as("count"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(
        col("_gts").as("ts"),
        lit(column).as("instance"),
        col("value_str"),
        col("count"),
        col("rank")
      )
  }

  /** Tukey-fence outlier profile of a numeric column per ts partition:
    * `(ts, instance, n, n_outliers, lo, hi)` with fences at
    * q1/q3 -+ k*IQR. Two aggregations over the same day keying — the
    * per-day fences (one tiny row per day) broadcast back onto the
    * second scan; no driver loop.
    */
  def outlierProfile(
      df: DataFrame,
      tsColumn: String,
      column: String,
      k: Double = 1.5,
      granularity: String = Granularity.Day
  ): DataFrame = {
    val days = truncated(df, tsColumn, granularity).where(col(column).isNotNull)
    val fences = days
      .groupBy("_gts")
      .agg(
        percentile(col(column), lit(0.25)).as("_q1"),
        percentile(col(column), lit(0.75)).as("_q3")
      )
      .withColumn("_lo", col("_q1") - (col("_q3") - col("_q1")) * k)
      .withColumn("_hi", col("_q3") + (col("_q3") - col("_q1")) * k)
      .select("_gts", "_lo", "_hi")
    days
      .join(broadcast(fences), "_gts")
      .groupBy("_gts")
      .agg(
        lit(column).as("instance"),
        count(lit(1)).as("n"),
        sum(when(col(column) < col("_lo") || col(column) > col("_hi"), 1L).otherwise(0L))
          .as("n_outliers"),
        first(col("_lo")).as("lo"),
        first(col("_hi")).as("hi")
      )
      .select(
        col("_gts").as("ts"),
        col("instance"),
        col("n"),
        col("n_outliers"),
        col("lo"),
        col("hi")
      )
  }

  /** Pairwise Pearson correlation between numeric columns per ts
    * partition, long format `(ts, col_a, col_b, corr)` — all pairs in
    * ONE groupBy pass (corr is a partial-aggregatable moment sketch, so
    * k*(k-1)/2 pairs still shuffle O(1) state per day).
    */
  def correlationProfile(
      df: DataFrame,
      tsColumn: String,
      columns: Seq[String],
      granularity: String = Granularity.Day
  ): DataFrame = {
    require(columns.size >= 2, s"correlation needs >= 2 columns, got $columns")
    val pairs = for {
      (a, i) <- columns.zipWithIndex
      b <- columns.drop(i + 1)
    } yield (a, b)
    val aggs = pairs.zipWithIndex.map { case ((a, b), i) =>
      corr(col(a), col(b)).as(s"_c$i")
    }
    val wide = df
      .withColumn("_gts", date_trunc(Granularity.truncUnit(granularity), col(tsColumn)))
      .groupBy("_gts")
      .agg(aggs.head, aggs.tail: _*)
    val entries = pairs.zipWithIndex.map { case ((a, b), i) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"), col(s"_c$i").as("corr"))
    }
    wide
      .select(col("_gts").as("ts"), explode(array(entries: _*)).as("p"))
      .select(col("ts"), col("p.col_a"), col("p.col_b"), col("p.corr").as("corr"))
  }

  /** Shannon entropy (nats) of a column's value distribution per ts
    * partition, via the numerically stable ln(N) - sum(c*ln c)/N form.
    */
  def entropyProfile(
      df: DataFrame,
      tsColumn: String,
      column: String,
      granularity: String = Granularity.Day
  ): DataFrame =
    truncated(df, tsColumn, granularity)
      .where(col(column).isNotNull)
      .groupBy(col("_gts"), col(column))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("_gts"))
      .agg(
        lit(column).as("instance"),
        (log(sum(col("cnt"))) - sum(col("cnt") * log(col("cnt"))) / sum(col("cnt")))
          .as("entropy")
      )
      .select(col("_gts").as("ts"), col("instance"), col("entropy"))

  /** Identifier-integrity profile over a column expected to be dense
    * and duplicate-free (auto-increment keys, Kafka offsets, event
    * ids): per ts partition — `(ts, n, n_distinct, min_id, max_id,
    * missing, duplicates, density)` where missing = span − distinct
    * (ids that should exist in [min, max] but don't — dropped
    * messages), duplicates = n − distinct (redelivery), density =
    * distinct/span. The ingest-pipeline QA check: a loader that
    * silently skips a file shows as `missing` jumping by one file's
    * worth, an at-least-once replay as `duplicates` > 0.
    *
    * One groupBy(day) pass; the exact COUNT(DISTINCT) plans an Expand
    * exchange — at extreme scale swap `approx_count_distinct` in
    * (the sketch-report convention) and read `missing`/`duplicates`
    * as estimates.
    */
  def idIntegrityProfile(
      df: DataFrame,
      tsColumn: String,
      idCol: String,
      granularity: String = Granularity.Day
  ): DataFrame =
    truncated(df, tsColumn, granularity)
      .where(col(idCol).isNotNull)
      .groupBy(col("_gts").as("ts"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col(idCol)).as("n_distinct"),
        min(col(idCol)).cast("long").as("min_id"),
        max(col(idCol)).cast("long").as("max_id")
      )
      .select(
        col("ts"),
        col("n"),
        col("n_distinct"),
        col("min_id"),
        col("max_id"),
        greatest(
          col("max_id") - col("min_id") + 1 - col("n_distinct"),
          lit(0L)
        ).as("missing"),
        (col("n") - col("n_distinct")).as("duplicates"),
        graft.functions.round6(
          col("n_distinct") / (col("max_id") - col("min_id") + 1)
        ).as("density")
      )

  /** Type inference over STRING columns — the schema-discovery step
    * for schemaless ingest (CSV dumps, JSON strings, spreadsheet
    * exports): per column, the fraction of non-null values parseable
    * as BIGINT / DOUBLE / DATE plus an exact boolean-literal check,
    * and the inferred narrowest type when a candidate covers every
    * value. `(column, n_nonnull, frac_long, frac_double, frac_date,
    * frac_bool, inferred)`; a column with no non-null values infers
    * `string` with NULL fractions (nothing to vote).
    *
    * Every check is SHAPE-constrained, not cast folklore — engines
    * genuinely disagree at the edges (this engine parses a bare
    * integer string as an extended-year DATE; DuckDB rounds '17.0'
    * into a BIGINT): integers must match `^[+-]?[0-9]+$` AND survive
    * `try_cast` (the regex pins the shape, the cast rejects
    * overflow); dates must carry a `yyyy-mm-dd` prefix AND parse as a
    * timestamp; booleans are the explicit literals. Doubles keep the
    * plain `try_cast` (standard float grammar agrees across engines).
    * All scan-side, NULL/0 on failure, never an exception mid-scan;
    * ONE aggregation pass for every column, no shuffle beyond one
    * partial row.
    */
  def typeInferenceProfile(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "at least one column")
    def fracs(c: String): Seq[Column] = Seq(
      count(col(c)).as(s"_n_$c"),
      sum(
        when(
          col(c).rlike("^[+-]?[0-9]+$") &&
            expr(s"try_cast(`$c` AS BIGINT)").isNotNull,
          1L
        ).otherwise(0L)
      ).as(s"_l_$c"),
      count(expr(s"try_cast(`$c` AS DOUBLE)")).as(s"_d_$c"),
      sum(
        when(
          col(c).rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}") &&
            expr(s"try_cast(`$c` AS TIMESTAMP)").isNotNull,
          1L
        ).otherwise(0L)
      ).as(s"_t_$c"),
      sum(when(lower(col(c)).isin("true", "false"), 1L).otherwise(0L))
        .as(s"_b_$c")
    )
    val aggs = columns.flatMap(fracs)
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries = columns.map { c =>
      val n = col(s"_n_$c")
      def frac(x: Column): Column =
        when(n > 0, graft.functions.round6(x / n))
      val all = (x: Column) => n > 0 && x === n
      struct(
        lit(c).as("column"),
        n.as("n_nonnull"),
        frac(col(s"_l_$c")).as("frac_long"),
        frac(col(s"_d_$c")).as("frac_double"),
        frac(col(s"_t_$c")).as("frac_date"),
        frac(col(s"_b_$c")).as("frac_bool"),
        when(all(col(s"_b_$c")), "boolean")
          .when(all(col(s"_l_$c")), "bigint")
          .when(all(col(s"_d_$c")), "double")
          .when(all(col(s"_t_$c")), "date")
          .otherwise("string")
          .as("inferred")
      )
    }
    wide
      .select(explode(array(entries: _*)).as("e"))
      .select("e.column", "e.n_nonnull", "e.frac_long", "e.frac_double",
        "e.frac_date", "e.frac_bool", "e.inferred")
  }

  /** Sketch-priced population overlap between segments: per segment
    * pair, HLL estimates of \|A\|, \|B\|, \|A∪B\| and the derived
    * intersection (inclusion-exclusion) + Jaccard — "how much do these
    * crawls / cohorts / sources share" WITHOUT shuffling the actor
    * sets: one ~2^lgK-byte sketch per segment is the only state, so
    * the pair table prices at \|segments\|² sketch merges regardless
    * of population size (an exact answer needs a distinct-pair
    * shuffle of every actor). Estimates, by design — rows-only gate,
    * accuracy bound spec-pinned on known overlaps.
    */
  def overlapSketchProfile(
      df: DataFrame,
      keyCol: String,
      segCol: String,
      lgK: Int = 12,
      maxSegments: Int = 1000
  ): DataFrame = {
    require(maxSegments >= 1, s"maxSegments must be >= 1, got $maxSegments")
    val sk = df
      .where(col(keyCol).isNotNull)
      .groupBy(col(segCol))
      .agg(hll_sketch_agg(col(keyCol), lit(lgK)).as("_sk"))
    val a = sk
      .select(col(segCol).as("seg_a"), col("_sk").as("_ska"))
      .withColumn("_k", lit(1))
    // the pair table is |segments|² — an explicit, generous segment
    // bound keeps that quadratic honest AND makes the pair join
    // provably bounded in the plan; raise it explicitly when you
    // really want a million-cell overlap matrix
    val b = sk
      .select(col(segCol).as("seg_b"), col("_sk").as("_skb"))
      .orderBy("seg_b")
      .limit(maxSegments)
      .withColumn("_k", lit(1))
    a.join(broadcast(b), "_k")
      .where(col("seg_a") < col("seg_b"))
      .withColumn("n_a", hll_sketch_estimate(col("_ska")))
      .withColumn("n_b", hll_sketch_estimate(col("_skb")))
      .withColumn(
        "n_union",
        hll_sketch_estimate(hll_union(col("_ska"), col("_skb")))
      )
      .withColumn(
        "n_overlap",
        greatest(col("n_a") + col("n_b") - col("n_union"), lit(0L))
      )
      .withColumn(
        "jaccard",
        when(
          col("n_union") > 0,
          graft.functions.round6(col("n_overlap") / col("n_union"))
        )
      )
      .select("seg_a", "seg_b", "n_a", "n_b", "n_union", "n_overlap", "jaccard")
  }

  /** Benford first-significant-digit conformance per ts partition —
    * the classic fabricated-data / unit-mix-up tripwire for numeric
    * columns that span orders of magnitude (amounts, populations,
    * counts): `(ts, digit, n, p_obs, p_exp, chi2)` with 9 rows per
    * day (zero-count digits filled in — they still contribute their
    * expected mass to the statistic) and the day's Pearson χ² on
    * every row.
    *
    * The first significant digit is taken from the value's string
    * form (`[1-9]` first match) — identical for plain and scientific
    * notation, so the extraction is engine-portable by construction;
    * zero/NaN/Inf values carry no leading digit and are excluded.
    * Expected masses log10(1+1/d) are embedded as plan literals (the
    * oracle interpolates the same constants — no cross-engine log in
    * the hot path).
    *
    * Scale shape: one scan + one map-side-combinable (day, digit)
    * count; the spine fill and χ² run at |days|×9 grain.
    */
  def benfordProfile(
      df: DataFrame,
      tsColumn: String,
      column: String,
      granularity: String = Granularity.Day
  ): DataFrame = {
    val pExp = (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d)).toMap
    val digit = regexp_extract(col(column).cast("string"), "[1-9]", 0)
    val counts = truncated(df, tsColumn, granularity)
      .where(col(column).isNotNull && digit =!= "")
      .groupBy(col("_gts").as("ts"), digit.cast("int").as("digit"))
      .agg(count(lit(1)).as("n"))
    val spine = counts
      .select("ts")
      .distinct()
      .select(col("ts"), explode(lit((1 to 9).toArray)).as("digit"))
    val pExpCol = (1 to 9).foldLeft(lit(0.0)) { case (acc, d) =>
      when(col("digit") === d, lit(pExp(d))).otherwise(acc)
    }
    val wDay = org.apache.spark.sql.expressions.Window.partitionBy(col("ts"))
    spine
      .join(counts, Seq("ts", "digit"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("_total", sum(col("n")).over(wDay))
      .withColumn("p_exp", graft.functions.round6(pExpCol))
      .withColumn("p_obs", graft.functions.round6(col("n") / col("_total")))
      .withColumn(
        "_contrib",
        (col("n") - col("_total") * pExpCol) *
          (col("n") - col("_total") * pExpCol) / (col("_total") * pExpCol)
      )
      .withColumn("chi2", graft.functions.round6(sum(col("_contrib")).over(wDay)))
      .select("ts", "digit", "n", "p_obs", "p_exp", "chi2")
  }

  /** Missingness-pattern profile: pairwise null co-occurrence over
    * the chosen columns — `(col_a, col_b, n, n_a_null, n_b_null,
    * n_both_null, phi)` per unordered pair, where phi is the
    * correlation of the two is-null indicators ((n·n11 − na·nb) /
    * sqrt(na(n−na)·nb(n−nb)), NULL when either column is never or
    * always null). Completeness says HOW MUCH is missing; this says
    * whether columns go missing TOGETHER — phi ≈ 1 reveals a shared
    * upstream failure (one broken join/source wiping a column group),
    * phi ≈ 0 independent noise.
    *
    * Scale shape: ONE aggregation pass — |cols| null counts +
    * |pairs| both-null counts, all map-side-combinable sums of 0/1
    * ints, reduced to a single row then exploded to the pair table
    * (same shape as [[correlationProfile]]). Counts are exact
    * BIGINTs; the phi products run in double (n·n11 overflows BIGINT
    * past ~3e9 rows), which is engine-deterministic for exact-integer
    * inputs.
    */
  def nullCorrelationProfile(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.size >= 2, s"null correlation needs >= 2 columns, got $columns")
    val pairs = for {
      (a, i) <- columns.zipWithIndex
      b <- columns.drop(i + 1)
    } yield (a, b)
    def isNull(c: String): Column = when(col(c).isNull, 1L).otherwise(0L)
    val nullCounts = columns.map(c => sum(isNull(c)).as(s"_n_$c"))
    val bothCounts = pairs.zipWithIndex.map { case ((a, b), i) =>
      sum(isNull(a) * isNull(b)).as(s"_b$i")
    }
    val aggs = (count(lit(1)).as("_n") +: nullCounts) ++ bothCounts
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries = pairs.zipWithIndex.map { case ((a, b), i) =>
      val n = col("_n").cast("double")
      val na = col(s"_n_$a").cast("double")
      val nb = col(s"_n_$b").cast("double")
      val n11 = col(s"_b$i").cast("double")
      val denom = sqrt(na * (n - na) * nb * (n - nb))
      struct(
        lit(a).as("col_a"),
        lit(b).as("col_b"),
        col(s"_n_$a").as("n_a_null"),
        col(s"_n_$b").as("n_b_null"),
        col(s"_b$i").as("n_both_null"),
        when(denom > 0, graft.functions.round6((n * n11 - na * nb) / denom))
          .as("phi")
      )
    }
    wide
      .select(col("_n"), explode(array(entries: _*)).as("e"))
      .select(
        col("e.col_a"),
        col("e.col_b"),
        col("_n").as("n"),
        col("e.n_a_null"),
        col("e.n_b_null"),
        col("e.n_both_null"),
        col("e.phi")
      )
  }

  /** Grouping-key skew profile — the pre-shuffle diagnostic for a
    * planned `groupBy`/`join` key: one row per candidate key column
    * with `(key_column, n_rows, n_keys, max_count, top1_share,
    * topk_share, entropy, cv)`. A top1_share near 1 or a huge cv
    * says "salt this key" ([[graft.operators.Skew]]) before the job
    * runs, not after the straggler; the companion to
    * [[graft.operators.JoinStats.joinCardinality]] (which prices a
    * specific join, where this prices the key itself).
    *
    * NULL is a real key value here — a null-heavy foreign key is the
    * single most common skew cause, so unlike
    * [[functionalDependencyProfile]] nothing is filtered.
    *
    * Scale shape, per column: ONE map-side-combinable
    * `groupBy(key).count`, then a single global aggregation over the
    * \|keys\|-row table that computes the moments AND the top-k count
    * sum in the same pass — top-k via the bounded-heap
    * [[graft.functions.TopKByAgg]], so every partition emits <= k
    * entries plus O(1) moment partials (no window, no sort, no second
    * scan of the fact table). Group sizes are exact BIGINTs and the
    * variance runs on integer raw moments, so cv is
    * engine-deterministic; entropy's double sum is absorbed by
    * round6 (the library float policy).
    */
  def keySkewProfile(
      df: DataFrame,
      keyCols: Seq[String],
      topK: Int = 10
  ): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    keyCols
      .map { k =>
        df.groupBy(col(k).as("_key"))
          .agg(count(lit(1)).as("_n"))
          .agg(
            lit(k).as("key_column"),
            sum(col("_n")).as("_s1"),
            count(lit(1)).as("n_keys"),
            max(col("_n")).as("max_count"),
            // group sizes squared sum through DECIMAL(38,0) — a long
            // product overflows silently past single keys of ~3e9 rows
            sum(col("_n").cast("decimal(19,0)") * col("_n").cast("decimal(19,0)"))
              .cast("double")
              .as("_s2"),
            sum(col("_n") * log(col("_n"))).as("_nlogn"),
            // ties at the k-th slot: which entry the heap keeps is
            // hash-arbitrary, but tied entries have EQUAL counts, so
            // the top-k SUM is deterministic regardless
            aggregate(
              graft.functions.topkAggregate
                .topKBy(col("_n").cast("double"), xxhash64(col("_key")), topK),
              lit(0.0),
              (acc, x) => acc + x.getField("metric")
            ).as("_topn")
          )
          .select(
            col("key_column"),
            col("_s1").as("n_rows"),
            col("n_keys"),
            col("max_count"),
            graft.functions.round6(col("max_count") / col("_s1")).as("top1_share"),
            graft.functions.round6(col("_topn") / col("_s1")).as("topk_share"),
            graft.functions.round6(
              log(col("_s1")) - col("_nlogn") / col("_s1")
            ).as("entropy"),
            // cv = stddev_pop / mean of group sizes, from exact
            // integer raw moments: sqrt(S2/K - (S1/K)^2) / (S1/K)
            graft.functions.round6(
              sqrt(greatest(
                col("_s2") / col("n_keys") -
                  (col("_s1") / col("n_keys")) * (col("_s1") / col("n_keys")),
                lit(0.0)
              )) / (col("_s1") / col("n_keys"))
            ).as("cv")
          )
      }
      .reduce(_.unionAll(_))
  }
}
