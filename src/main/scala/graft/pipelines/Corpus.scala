package graft.pipelines

import graft.operators.Sampling
import graft.queries.{sqlBucketHex, sqlThresholdHex}
import graft.text.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end corpus preparation — the composition layer over the
  * individual training-data operators (text rules, langid, dedup,
  * sampling). The reference exposes each analysis step separately
  * (thoth/profiler.py, the thoth.anomaly modules); a training-data pipeline
  * additionally needs them CHAINED with per-stage accounting, and at
  * 100 TB that accounting must not cost one action per stage.
  *
  * Design: single-pass funnel. Instead of filtering after every stage
  * (N jobs, N scans — the driver-loop shape this library exists to
  * avoid), every row is tagged with the FIRST stage that would drop
  * it. One scan computes all scan-side signals, one fingerprint
  * shuffle resolves duplicates, and both the surviving corpus and the
  * per-stage loss report read from the same annotated frame — funnel
  * stats cost one extra aggregation of an already-computed column, not
  * a rescan of the corpus.
  */
object Corpus {

  /** Predefined `extraStages` building blocks for [[prepareFunnel]] —
    * each returns the (reasonName, dropWhen) pair the funnel's
    * first-failing machinery consumes. All pure scan-side Column
    * predicates.
    */
  object Stages {

    /** Drop documents from blocklisted domains (suffix match — a
      * blocklist entry "spam.example" also catches its subdomains).
      */
    def blocklistedDomain(domainCol: Column, suffixes: Seq[String]): (String, Column) = {
      require(suffixes.nonEmpty, "blocklist needs at least one suffix")
      "blocklisted_domain" -> suffixes
        .map(sfx => domainCol === sfx || domainCol.endsWith("." + sfx))
        .reduce(_ || _)
    }

    /** Drop documents carrying long digit runs (phone/account/SSN-ish
      * identifiers) — the cheap scan-side PII tripwire ahead of a real
      * redaction pass ([[graft.text.Text.redact]]).
      */
    def piiDigits(textCol: Column, minRunLen: Int = 9): (String, Column) = {
      require(minRunLen >= 1, s"minRunLen must be >= 1, got $minRunLen")
      "pii_digits" -> (regexp_count(textCol, lit(s"[0-9]{$minRunLen,}")) > 0)
    }

    /** Drop documents over a hard character budget (the Gopher word
      * ceiling guards tokens; this guards raw bytes — a 500 MB
      * pathological "document" should die before tokenization cost).
      */
    def maxChars(textCol: Column, max: Int): (String, Column) = {
      require(max >= 1, s"max must be >= 1, got $max")
      "too_many_chars" -> (length(textCol) > max)
    }

    /** Drop documents whose duplicated-bigram fraction exceeds
      * `maxFrac` — the scan-side repetition ceiling (looping spam,
      * keyword stuffing). `toksCol` MUST be the funnel's pre-projected
      * `col("_toks")` (see [[prepareFunnel]]); fraction =
      * 1 - distinct/total over word bigrams, native ArrayDistinct,
      * no shuffle. Documents with fewer than two tokens have no
      * bigrams and never trip the ceiling.
      */
    def repetitionCeiling(toksCol: Column, maxFrac: Double): (String, Column) = {
      require(
        maxFrac > 0.0 && maxFrac < 1.0,
        s"maxFrac must be in (0, 1), got $maxFrac"
      )
      val bi = Text.wordShinglesFromTokens(toksCol, 2)
      val frac = lit(1.0) -
        size(array_distinct(bi)).cast("double") / size(bi).cast("double")
      "repetitive" -> (size(bi) > 0 && frac > maxFrac)
    }
  }

  /** First-failing-stage annotation. Each stage is `(name, dropWhen)`;
    * the result column holds the name of the first stage whose
    * predicate fires, NULL for survivors. Pure scan-side projection —
    * zero shuffle, rides whole-stage codegen with the read.
    */
  def firstFailing(stages: Seq[(String, Column)]): Column =
    coalesce(
      stages.map { case (name, drop) => when(drop, lit(name)) } :+
        lit(null).cast("string"): _*
    )

  /** The standard prepare recipe over a documents table: Gopher rule
    * filter -> language gate -> exact near-order dedup, with
    * first-failing accounting.
    *
    * Output: the input columns plus `predicted` (language),
    * `drop_reason` ("too_short" | "too_long" | "word_len" |
    * "symbol_ratio" | "few_stopwords" | "non_english" |
    * "contaminated" | "duplicate" | "kept"), `kept` boolean.
    *
    * `extraStages` appends caller-defined scan-side stages after the
    * built-in rules (each is (reasonName, dropWhen) over the input
    * columns — a quality floor, a URL blocklist, a PII flag); they
    * participate in first-failing accounting and the dedup ordering
    * like the built-ins. Stages may also reference `col("_toks")`,
    * the funnel's pre-projected token array — token-level stages
    * (e.g. [[Stages.repetitionCeiling]]) MUST use it instead of
    * re-splitting, or every interpreted lambda re-tokenizes the
    * document per element.
    *
    * `decontaminateAgainst` inserts a benchmark-decontamination stage
    * between the language gate and dedup: a surviving document
    * sharing >= `minShared` exact `spanWords`-word spans with ANY
    * benchmark document is tagged "contaminated"
    * ([[graft.dedup.Dedup.crossSpanOverlap]] semantics — the GPT-3/
    * PaLM-style n-gram overlap test).
    *
    * Duplicate resolution honors the stage ORDER: only documents that
    * survive the scan-side stages compete for a fingerprint's
    * canonical slot. That is one `row_number` window partitioned by
    * fingerprint with rule-failed rows ordered LAST — a dropped
    * boilerplate page never shadows a clean duplicate of itself, and
    * the window costs exactly the one shuffle exact-dedup needs
    * anyway. Exact-duplicate groups stream through `row_number`
    * without buffering, so a hot fingerprint (the million-copy
    * boilerplate page) is one streaming task, not a blowup.
    *
    * `keepFpCol` retains the normalized content fingerprint under the
    * given name instead of dropping it. Besides saving downstream
    * consumers the md5 recompute, it preserves a PLAN property: the
    * funnel's output is hash-partitioned by the fingerprint (the dedup
    * window's exchange), and a later equi-join on the retained column
    * — the incremental prior-batch dedup — reuses that partitioning
    * instead of shuffling the documents a second time
    * ([[graft.pipelines.Incremental.demotePriorDuplicates]];
    * spec-asserted).
    */
  def prepareFunnel(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      keepLang: String = "en",
      decontaminateAgainst: Option[DataFrame] = None,
      spanWords: Int = 8,
      minShared: Long = 1,
      extraStages: Seq[(String, Column)] = Nil,
      keepFpCol: Option[String] = None
  ): DataFrame = {
    keepFpCol.foreach(name =>
      require(
        !docs.columns.contains(name) && name != "_fp",
        s"keepFpCol '$name' collides with an input column"
      ))
    // tokenize ONCE into an attribute: every downstream signal
    // (gopher, langid) runs lambdas over the tokens, and interpreted
    // lambdas re-evaluate their input subtree per element. Original
    // columns ride along so `where(kept)` IS the prepared corpus —
    // the dedup shuffle has to carry the documents anyway if the
    // documents are to come out the other side.
    val toks = docs
      .withColumn("_toks", Text.tokens(col(textCol)))
      .withColumn("predicted", Text.langIdFromTokens(col("_toks")))
      .withColumn(
        "_gopher",
        Text.gopherReasonFromTokens(col(textCol), col("_toks"))
      )
      .withColumn("_fp", Text.fingerprint(col(textCol)))
    // same shape as [[firstFailing]], but the gopher stage contributes
    // its per-rule reason rather than a single stage name — the rule
    // name IS the account line
    // user stages slot in AFTER the built-in rule stages, before
    // decontamination/dedup — arbitrary Column predicates over the
    // input columns (a quality floor, a URL blocklist, a PII flag),
    // first-failing like everything else and still scan-side
    val rulePre = toks
      .withColumn(
        "_rulePre",
        coalesce(
          Seq(
            when(col("_gopher") =!= "ok", col("_gopher")),
            when(col("predicted") =!= keepLang, lit("non_english"))
          ) ++ extraStages.map { case (name, drop) => when(drop, lit(name)) }: _*
        )
      )
      // every consumer of the token array (built-ins + extraStages) has
      // been projected — drop it HERE so the document-sized array never
      // rides the fingerprint exchange
      .drop("_toks")
    // optional benchmark-decontamination stage between the language
    // gate and dedup (the real prepare order: cheap scan rules first,
    // then the one cross-corpus span join, then dedup). The span join
    // runs only over rule-surviving docs — first-failing means a
    // rule-dropped doc's contamination is never consulted, so skipping
    // its spans changes nothing but the work. The flag set is doc ids
    // only (small — AQE broadcasts it back).
    val withPre = decontaminateAgainst match {
      case None =>
        rulePre.withColumn("_pre", col("_rulePre"))
      case Some(bench) =>
        val contaminated = graft.dedup.Dedup
          .crossSpanOverlap(
            bench,
            rulePre.where(col("_rulePre").isNull).select(col(idCol), col(textCol)),
            textCol,
            idCol,
            spanWords,
            minShared,
            // 1 MiB bloom over the bench spans drops the overwhelming
            // non-matching majority of corpus spans before the join
            // shuffle; exact join removes false positives, results
            // bit-identical (the decon oracle stays hash-exact)
            benchBloomBits = 8L * 1024 * 1024
          )
          .select(col("id_r").as(idCol))
          .distinct()
          .withColumn("_contaminated", lit(true))
        rulePre
          .join(contaminated, Seq(idCol), "left")
          .withColumn(
            "_pre",
            coalesce(
              col("_rulePre"),
              when(col("_contaminated"), lit("contaminated"))
            )
          )
          .drop("_contaminated")
    }
    val w = Window
      .partitionBy("_fp")
      .orderBy(col("_pre").isNotNull.cast("int"), col(idCol))
    val tagged = withPre
      .withColumn("_rn", row_number().over(w))
      .withColumn(
        "drop_reason",
        coalesce(
          col("_pre"),
          when(col("_rn") > 1, lit("duplicate")),
          lit("kept")
        )
      )
      .withColumn("kept", col("drop_reason") === "kept")
      .drop("_gopher", "_pre", "_rulePre", "_rn")
    keepFpCol.fold(tagged.drop("_fp"))(tagged.withColumnRenamed("_fp", _))
  }

  /** Per-stage loss report from a funnel frame: documents lost at
    * each stage, plus (with `weightCol`) the volume lost in that
    * column's units — "dedup dropped 4% of documents but 31% of
    * characters" is the report that actually matters when stages
    * correlate with document size. One aggregation of columns the
    * funnel already computed — never a rescan of the corpus.
    */
  def funnelStats(
      funnel: DataFrame,
      reasonCol: String = "drop_reason",
      weightCol: Option[String] = None
  ): DataFrame = {
    val aggs = count(lit(1)).as("n_docs") +:
      weightCol.toSeq.map(w =>
        sum(col(w).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("long")
          .as(s"sum_$w")
      )
    funnel
      .groupBy(col(reasonCol))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col(reasonCol))
  }

  /** Adaptive quality cut: keep the top `keepTop` fraction of rows by
    * `scoreCol`, with the threshold computed FROM THE DATA in the same
    * job — the usual pipeline contract is "drop the worst 20%", not a
    * hand-tuned absolute cutoff that silently rots as the corpus
    * shifts. Optionally per group (e.g. per language: each language
    * keeps its own top fraction, so a high-resource language's score
    * distribution doesn't starve the others).
    *
    * One exact-percentile aggregation (rows out = |groups|, map-side
    * partials), broadcast back, one scan-side `>=` filter — the
    * corpus never shuffles. Exact `percentile` keeps the operator
    * oracle-checkable (Spark `percentile` == DuckDB `quantile_cont`
    * bit-for-bit); swap in `percentile_approx` for the sketch-sized
    * state at extreme cardinality — same plan, approximate boundary.
    * Ties AT the threshold are kept (>=), so the kept fraction can
    * slightly exceed `keepTop` on discrete scores. NULL scores never
    * pass the filter.
    */
  /** SemDeDup as a funnel post-stage: demote kept rows that lose the
    * semantic-dedup sweep to `drop_reason = "semantic_duplicate"`,
    * preserving the funnel's first-failing accounting (rows already
    * dropped keep their original reason — lexical verdicts are
    * cheaper and ran first, and a rule-failed doc must not consume
    * the semantic slot of a clean paraphrase). Runs
    * [[graft.similarity.Similarity.semanticDedupSweep]] over the KEPT
    * rows only, so the expensive embedding pass prices at the
    * post-funnel survivor count, not the crawl size.
    *
    * `prepared` is [[prepareFunnel]] output that also carries an
    * embedding column; returns the same frame with demotions applied
    * — `funnelStats` picks the new reason up unchanged.
    *
    * Unlike the low-level [[graft.similarity.Similarity
    * .semanticDedupPairs]] (exact by default), this PIPELINE entry
    * point defaults `bucketCap` to
    * [[graft.dedup.BucketJoin.PipelineDefaultCap]]: a degenerate
    * embedding cluster in an unvetted crawl must cost O(m), not m^2.
    * Pass 0 for the exact uncapped sweep. Rows with a NULL `idCol`
    * skip semantic dedup (pass through undemoted) — identity-based
    * demotion cannot track them.
    */
  def semanticDedupStage(
      prepared: DataFrame,
      vecCol: String,
      idCol: String = "doc_id",
      threshold: Double = 0.95,
      nlist: Int = 64,
      nAssign: Int = 1,
      bucketCap: Int = graft.dedup.BucketJoin.PipelineDefaultCap,
      seed: Long = 42L
  ): DataFrame = {
    val kept = prepared.where(col("kept"))
    val survivors = graft.similarity.Similarity
      .semanticDedupSweep(kept, idCol, vecCol, threshold, nlist, nAssign, bucketCap, seed)
      .select(col(idCol).as("_sem_keep"))
    prepared
      .join(survivors, prepared(idCol) === col("_sem_keep"), "left_outer")
      .withColumn(
        "drop_reason",
        // NULL-id guard: a null id can never equi-join the survivor
        // side, so without it every null-id kept row would be demoted
        // — silent data loss where all other funnel stages pass
        // null-id rows through. Null ids skip semantic dedup instead
        // (they are untrackable by identity, same as the decon stage).
        when(
          col("kept") && col(idCol).isNotNull && col("_sem_keep").isNull,
          lit("semantic_duplicate")
        ).otherwise(col("drop_reason"))
      )
      .withColumn("kept", col("drop_reason") === "kept")
      .drop("_sem_keep")
  }

  /** Semantic decontamination as a funnel post-stage: demote kept
    * rows whose embedding is within `threshold` cosine of ANY
    * benchmark embedding to `drop_reason = "semantic_contaminated"` —
    * the paraphrase-robust complement of the exact-span decon stage
    * (a reworded eval question shares no 8-gram but keeps its
    * semantic neighborhood). Same accounting contract as
    * [[semanticDedupStage]]: lexical verdicts keep precedence, the
    * cosine join ([[graft.similarity.Similarity.crossCosineAbove]] —
    * broadcast bench, one survivor scan) prices at the post-funnel
    * survivor count. Cost is |bench|·|survivors| by construction (no
    * bucketing to cap — the bench side broadcasts whole). Rows with a
    * NULL `idCol` pass through undemoted, same as the dedup stage:
    * identity-based demotion cannot track them.
    */
  def semanticDecontaminationStage(
      prepared: DataFrame,
      bench: DataFrame,
      vecCol: String,
      idCol: String = "doc_id",
      benchIdCol: String = "doc_id",
      threshold: Double = 0.95
  ): DataFrame = {
    val kept = prepared.where(col("kept"))
    val contaminated = graft.similarity.Similarity
      .crossCosineAbove(
        bench.select(col(benchIdCol).as("id"), col(vecCol)),
        kept.select(col(idCol).as("id"), col(vecCol)),
        "id",
        vecCol,
        threshold
      )
      .select(col("id_corpus").as("_sem_hit"))
      .distinct()
    prepared
      .join(contaminated, prepared(idCol) === col("_sem_hit"), "left_outer")
      .withColumn(
        "drop_reason",
        when(col("kept") && col("_sem_hit").isNotNull, lit("semantic_contaminated"))
          .otherwise(col("drop_reason"))
      )
      .withColumn("kept", col("drop_reason") === "kept")
      .drop("_sem_hit")
  }

  def qualityCut(
      df: DataFrame,
      scoreCol: String,
      keepTop: Double,
      groupCols: Seq[String] = Nil
  ): DataFrame = {
    require(keepTop > 0.0 && keepTop <= 1.0, s"keepTop must be in (0, 1], got $keepTop")
    val q = 1.0 - keepTop
    val thrAgg = percentile(col(scoreCol), lit(q)).as("_q_thr")
    if (groupCols.isEmpty) {
      val thr = df.agg(thrAgg)
      df.join(broadcast(thr)).where(col(scoreCol) >= col("_q_thr")).drop("_q_thr")
    } else {
      // NULL-SAFE group join: a NULL group (unknown language, missing
      // source tag) gets its own percentile row like any other group —
      // a null-unsafe equi-join would silently DELETE every NULL-group
      // row regardless of score (the mixtureTemperature convention:
      // nothing is dropped by a join artifact).
      val thr = df
        .groupBy(groupCols.map(col): _*)
        .agg(thrAgg)
        .select(groupCols.map(c => col(c).as(s"_qg_$c")) :+ col("_q_thr"): _*)
      val cond = groupCols.map(c => col(c) <=> col(s"_qg_$c")).reduce(_ && _)
      df.join(broadcast(thr), cond)
        .where(col(scoreCol) >= col("_q_thr"))
        .drop("_q_thr" +: groupCols.map(c => s"_qg_$c"): _*)
    }
  }

  /** Deterministic domain-mixture sampling: draw a corpus whose
    * per-domain composition follows `weights` (target shares summing
    * to 1) at a total budget of ~`budget` rows, regardless of the
    * corpus's own skew. The training-data mixing primitive: "sample
    * 200B tokens at 60% web / 30% books / 10% code" from a corpus
    * that is 95% web.
    *
    * Per-domain keep-fraction f_d = min(1, budget * w_d / count_d);
    * membership is the same content-hash predicate as
    * [[graft.operators.Sampling]] (md5 hex-prefix compare), so the
    * draw is reproducible across runs, partitionings and engines, and
    * raising the budget only ADDS rows (prefix property). Domains
    * absent from `weights` (a NULL domain included) get weight 0 and
    * drop entirely; rows with a NULL id never pass the filter, like
    * every id-hash operator in [[graft.operators.Sampling]].
    *
    * Cost model at scale: one map-side-combined count per domain
    * (output rows = |domains|), thresholds derived IN-PLAN from the
    * counts (no driver round-trip, no literal baking), broadcast back,
    * and the corpus itself is touched by exactly one scan-side filter
    * — no shuffle of the data being sampled. A domain under-supplied
    * for its target (f_d capped at 1) keeps everything it has; the
    * shortfall is visible by comparing the output's domain counts to
    * budget * w_d.
    */
  def mixtureSample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      weights: Seq[(String, Double)],
      budget: Long,
      salt: String = "graft"
  ): DataFrame = {
    val share = listedShare(strataCol, weights)
    val strata = df
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("_total"))
      .select(col(strataCol).as("_stratum"), share.as("_share"), col("_total"))
    keepByStratum(df, idCol, strataCol, strata, budget, salt)
  }

  /** [[mixtureSample]] with the budget measured in a WEIGHT column's
    * units instead of rows — the actual LLM-mixing contract is "this
    * many TOKENS per domain", not "this many documents". Per-domain
    * keep-fraction f_d = min(1, budget * w_d / sum(weight)_d); hash
    * membership is uniform and independent of the weight, so the
    * sampled set's weight total concentrates on budget * w_d (exact
    * only in expectation — documented, not hidden). Same single
    * map-side-combined aggregation + broadcast + scan-filter shape as
    * the row-budget variant; the weight sum runs through DECIMAL so
    * the threshold arithmetic stays engine-exact for the oracle.
    */
  def mixtureSampleByWeight(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      weightCol: String,
      weights: Seq[(String, Double)],
      budget: Long,
      salt: String = "graft"
  ): DataFrame = {
    val share = listedShare(strataCol, weights)
    // DECIMAL(38,6), not (38,0): the sum must stay cross-engine exact
    // AND faithful for FRACTIONAL weights (per-doc token estimates,
    // quality-scaled weights) — a per-row cast to scale 0 rounds each
    // weight before summing, and a domain of sub-0.5 weights would
    // round to a zero total and be dropped from the sample entirely.
    val strata = df
      .groupBy(col(strataCol))
      .agg(
        sum(col(weightCol).cast(org.apache.spark.sql.types.DecimalType(38, 6)))
          .as("_total")
      )
      .where(col("_total") > 0)
      .select(col(strataCol).as("_stratum"), share.as("_share"), col("_total"))
    keepByStratum(df, idCol, strataCol, strata, budget, salt)
  }

  /** Temperature-scaled (α-sampling) domain mixing — the standard
    * multilingual/domain rebalance (mBERT, XLM): target shares derive
    * from the data itself as `w_d ∝ n_d^τ`, so τ=1 keeps natural
    * proportions and τ→0 approaches uniform — low-resource domains are
    * up-sampled RELATIVE to their size without anyone hand-writing a
    * share list (the hand-written-list variant is [[mixtureSample]]).
    *
    * Same engine-portable shape as [[mixtureSample]]: one map-side-
    * combined count per domain, pow + DECIMAL-exact share
    * normalization on the |domains|-row table (shares round6'd so
    * cross-libm pow ulps cannot reach the threshold), per-domain
    * hex-prefix threshold broadcast back, membership decided by the
    * deterministic md5 bucket at scan time. Zero shuffles of sampled
    * data; re-running reproduces the identical sample (prefix
    * property: raising `budget` only ADDS rows).
    *
    * A NULL stratum is just another domain: the threshold join is
    * null-safe, so NULL-stratum rows get their own count-derived
    * share instead of silently vanishing from the sample (the repo's
    * flagged-never-guessed convention — nothing is dropped by a join
    * artifact).
    */
  def mixtureTemperature(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      tau: Double,
      budget: Long,
      salt: String = "graft"
  ): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    val counts = df
      .groupBy(col(strataCol).as("_stratum"))
      .agg(count(lit(1)).as("_total"))
      .withColumn(
        "_p",
        graft.functions.round6(pow(col("_total").cast("double"), lit(tau)))
      )
    val total =
      counts.agg(sum(col("_p").cast(dec)).cast("double").as("_s"))
    val strata = counts
      .crossJoin(broadcast(total))
      .withColumn("_share", graft.functions.round6(col("_p") / col("_s")))
    keepByStratum(df, idCol, strataCol, strata, budget, salt)
  }

  /** A hand-written share list as a per-stratum column, after checking
    * it: non-negative weights summing to 1. Strata absent from
    * `weights` get share 0.
    */
  private def listedShare(strataCol: String, weights: Seq[(String, Double)]): Column = {
    require(weights.nonEmpty && weights.forall(_._2 >= 0), "weights must be >= 0")
    require(
      math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"weights must sum to 1, got ${weights.map(_._2).sum}"
    )
    weights.foldRight(lit(0.0)) { case ((k, v), e) =>
      when(col(strataCol) === k, lit(v)).otherwise(e)
    }
  }

  /** The shared tail of the mixture samplers. `strata` holds one row
    * per stratum: `_stratum`, its target `_share` and its `_total`
    * (rows or weight). The keep-fraction f = min(1, budget * share /
    * total) and its hex threshold are computed with engine-portable
    * double arithmetic (mul, div, floor — all exactly rounded IEEE
    * ops), so an oracle in any md5-capable SQL dialect lands on the
    * identical row set. The |strata|-row threshold table is broadcast
    * back and matched null-safely (a NULL stratum matches ITS row);
    * a row is kept when its id's 8-hex uniform is below its stratum's
    * threshold. The input's columns come back unchanged.
    */
  private def keepByStratum(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      strata: DataFrame,
      budget: Long,
      salt: String
  ): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val f = least(lit(1.0), (lit(budget.toDouble) * col("_share")) / col("_total").cast("double"))
    val thr = strata.select(col("_stratum"), Sampling.thresholdHexCol(f).as("_thr"))
    df.join(broadcast(thr), col(strataCol) <=> col("_stratum"))
      .where(Sampling.bucketHex(col(idCol), salt) < col("_thr"))
      .drop("_stratum", "_thr")
  }

  /** SQL mirror of [[mixtureSample]]'s threshold table + predicate,
    * for oracle parity (same shape as [[Sampling.stratifiedSampleSql]]
    * but with in-query thresholds). Returns (thresholdCteSql,
    * predicateSql) to splice into a WITH ... WHERE query; the CTE is
    * named `_thr`.
    */
  def mixtureSampleSql(
      table: String,
      idExpr: String,
      strataExpr: String,
      weights: Seq[(String, Double)],
      budget: Long,
      salt: String = "graft"
  ): (String, String) = {
    val f = sqlKeepFraction(budget, sqlListedShare(strataExpr, weights), "count(*)")
    val cte =
      s"""_thr AS (
         |  SELECT $strataExpr AS _stratum,
         |    ${sqlThresholdHex(f)} AS _th
         |  FROM $table GROUP BY $strataExpr)""".stripMargin
    (cte, sqlKeep(idExpr, salt))
  }

  /** SQL mirror of [[mixtureSampleByWeight]]'s threshold CTE +
    * predicate (DECIMAL(38,6) weight sums for exact cross-engine
    * totals). CTE is named `_thr`.
    */
  def mixtureSampleByWeightSql(
      table: String,
      idExpr: String,
      strataExpr: String,
      weightExpr: String,
      weights: Seq[(String, Double)],
      budget: Long,
      salt: String = "graft"
  ): (String, String) = {
    val wsum = s"SUM(CAST($weightExpr AS DECIMAL(38,6)))"
    val f = sqlKeepFraction(budget, sqlListedShare(strataExpr, weights), wsum)
    val cte =
      s"""_thr AS (
         |  SELECT $strataExpr AS _stratum,
         |    ${sqlThresholdHex(f)} AS _th
         |  FROM $table GROUP BY $strataExpr
         |  HAVING $wsum > 0)""".stripMargin
    (cte, sqlKeep(idExpr, salt))
  }

  /** DuckDB mirror of [[mixtureTemperature]] — (CTE chain, membership
    * predicate), same contract as [[mixtureSampleSql]].
    */
  def mixtureTemperatureSql(
      table: String,
      idExpr: String,
      strataExpr: String,
      tau: Double,
      budget: Long,
      salt: String = "graft"
  ): (String, String) = {
    val f = sqlKeepFraction(budget, "round(_p / _s, 6)", "_cnt")
    val cte =
      s"""_tcnt AS (
         |  SELECT $strataExpr AS _stratum, count(*) AS _cnt,
         |    round(pow(CAST(count(*) AS DOUBLE), $tau), 6) AS _p
         |  FROM $table GROUP BY $strataExpr),
         |_ttot AS (SELECT CAST(SUM(CAST(_p AS DECIMAL(38,6))) AS DOUBLE) AS _s FROM _tcnt),
         |_thr AS (
         |  SELECT _stratum,
         |    ${sqlThresholdHex(f)} AS _th
         |  FROM _tcnt, _ttot)""".stripMargin
    (cte, sqlKeep(idExpr, salt))
  }

  private def sqlListedShare(strataExpr: String, weights: Seq[(String, Double)]): String =
    weights
      .map { case (k, v) => s"WHEN '$k' THEN CAST($v AS DOUBLE)" }
      .mkString(s"CASE $strataExpr ", " ", " ELSE 0.0 END")

  private def sqlKeepFraction(budget: Long, share: String, total: String): String =
    s"least(1.0, (CAST($budget AS DOUBLE) * $share) / CAST($total AS DOUBLE))"

  private def sqlKeep(idExpr: String, salt: String): String =
    s"${sqlBucketHex(idExpr, salt)} < _thr._th"
}
