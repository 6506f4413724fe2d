package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity operators over embedding columns (SURVEY §2.5).
  *
  * Embeddings are `array<float>`; all math is done in double via
  * element-wise higher-order functions (codegen'd — no UDF). The dot
  * product folds left-to-right over the index sequence, which makes the
  * result bit-deterministic for a given pair on any engine that folds
  * in order.
  */
object Similarity {

  import graft.functions.round6

  /** Left-to-right fold of sum(a[i]*b[i]) in double — backed by the
    * custom expression [[graft.functions.hashExpressions.DotProduct]]
    * (same IEEE operation order as the HOF formulation, one tight loop
    * per pair).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.hashExpressions.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** The norm column for a projection that is FILTERED on downstream
    * (`_qn > 0` / `_cn > 0` zero-norm exclusion). The noPushdown wrapper
    * makes the projected field non-deterministic, which (a) stops
    * PushDownPredicates rewriting the filter through the Project — the
    * substitution re-evaluates the whole O(dim) norm (and, on the
    * quantized path, quantize) pipeline once in the pushed Filter and
    * again in the Project (measured 2.4x) — and (b) stops
    * CollapseProject inlining an expensive producer (quantize) into the
    * norm's consumer expression. Evaluation is bit-for-bit `norm`.
    */
  private def filteredNorm(vec: Column): Column =
    graft.functions.hashExpressions.noPushdown(norm(vec))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The one pair score of every cosine path here: precomputed per-row
    * norms, rounded at 6 dp so rankings and thresholds reproduce across
    * engines (the oracle computes the same `dot / (na * nb)`).
    */
  private def pairCosine(a: Column, b: Column, na: Column, nb: Column): Column =
    round6(dot(a, b) / (na * nb))

  /** One side of a pair path: `(id, vector, norm)` rows, zero-norm rows
    * dropped. Norms are materialized per ROW before any join — inside
    * the pair expression they would be refolded per pair. Zero-norm
    * vectors (a failed encoder call) have no cosine: the NaN of dot/0
    * would rank FIRST under a desc ranking (Spark orders NaN above
    * every number) and pass every `>= threshold`. `vec` keeps the
    * caller's cast, so [[dot]] sees the caller's input types.
    */
  private def scored(
      df: DataFrame,
      idCol: String,
      vec: Column,
      id: String,
      v: String,
      n: String
  ): DataFrame =
    df.select(col(idCol).as(id), vec.as(v), filteredNorm(vec).as(n)).where(col(n) > 0d)

  /** Self-match suppression, only correct when queries and corpus share
    * an id space (self-ANN): an EXTERNAL query set can reuse an id that
    * belongs to an unrelated corpus row, and dropping that pair would
    * silently suppress a genuine nearest neighbor.
    */
  private def notSelf(exclude: Boolean): Column =
    if (exclude) col("query_id") =!= col("neighbor_id") else lit(true)

  /** The exact tail of every top-k path: score the candidate pairs
    * `(query_id, neighbor_id, _qv, _qn, _cv, _cn)` with [[pairCosine]]
    * and keep the k best per query, ties broken on the neighbor id so
    * the ordering is reproducible across engines. Output: query_id,
    * neighbor_id, sim, rank.
    */
  private def exactTopK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    pairs
      .withColumn("sim", pairCosine(col("_qv"), col("_cv"), col("_qn"), col("_cn")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  /** Brute-force cosine top-k: every query row against the whole
    * corpus. The query side is broadcast (it is the small side by
    * construction); the corpus is scanned once — at 100 TB this is the
    * correctness baseline and the right plan when k*|queries| is small.
    * Ranking uses the ROUNDED similarity (6 dp) with the id as
    * tie-break so the ordering is reproducible across engines.
    *
    * Output: query_id, neighbor_id, sim, rank.
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      excludeSelfMatch: Boolean = true
  ): DataFrame = {
    val q = scored(queries, idCol, col(vecCol), "query_id", "_qv", "_qn")
    val c = scored(corpus, idCol, col(vecCol), "neighbor_id", "_cv", "_cn")
    exactTopK(c.join(broadcast(q), notSelf(excludeSelfMatch)), k)
  }

  /** Diversity-aware rerank of ANY candidate set via greedy maximal
    * marginal relevance (Carbonell & Goldstein, SIGIR 1998): per
    * query, select k of the candidates maximizing
    * `λ·rel − (1−λ)·max_sim_to_already_selected` — near-duplicate
    * candidates collapse to one representative, so the k results
    * cover the neighborhood instead of repeating it (the eval-set /
    * few-shot-pool construction op).
    *
    * `candidates` must carry `(query_id, neighbor_id, sim)` — the
    * output shape of [[bruteForceTopK]], [[ivfTopK]], [[lshTopK]],
    * [[ivfQueryIndex]] — so the rerank composes behind whichever
    * candidate generator the scale calls for. Candidate embeddings
    * are re-attached from `corpus` by id.
    *
    * Scale shape: candidate generation is the corpus-sized stage and
    * stays whatever it was; the rerank adds ONE shuffle keyed on
    * query_id with m rows per query of bounded state, then the
    * greedy O(m·k·dim) argmax runs inside whole-stage codegen via the
    * [[graft.functions.mmrExpressions.MmrSelect]] kernel (the
    * iterative selection SQL can't express — same design as BPE
    * encode). Selection is partitioning-independent: scores are
    * round6'd and ties break on id, so `collect_list` order never
    * shows. Output: query_id, neighbor_id, rel, mmr_score, rank.
    */
  def mmrRerank(
      candidates: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      lambda: Double = 0.7
  ): DataFrame = {
    val withVec = candidates
      .select(col("query_id"), col("neighbor_id"), col("sim"))
      .join(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_nv")),
        Seq("neighbor_id")
      )
    withVec
      .groupBy("query_id")
      .agg(
        collect_list(struct(col("neighbor_id"), col("sim"), col("_nv")))
          .as("_c")
      )
      .select(
        col("query_id"),
        explode(graft.functions.mmrExpressions.mmrSelect(col("_c"), k, lambda))
          .as("_r")
      )
      .select(
        col("query_id"),
        col("_r.neighbor_id").as("neighbor_id"),
        col("_r.rel").as("rel"),
        col("_r.mmr_score").as("mmr_score"),
        col("_r.rank").as("rank")
      )
  }

  /** [[mmrRerank]] behind an exact brute-force candidate stage:
    * top-`candidates` by cosine per query, then MMR-select k. The
    * candidate pool should be a few × k — large enough that diversity
    * has something to choose from, small enough that per-query state
    * stays bounded.
    */
  def mmrTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      candidates: Int,
      lambda: Double = 0.7
  ): DataFrame =
    mmrRerank(
      bruteForceTopK(queries, corpus, idCol, vecCol, candidates),
      corpus,
      idCol,
      vecCol,
      k,
      lambda
    )

  /** Cross-corpus embedding decontamination: every (benchmark doc,
    * corpus doc) pair whose embedding cosine is >= `threshold` — the
    * semantic companion to the n-gram overlap check
    * ([[graft.dedup.Dedup.crossSpanOverlap]]): paraphrased or
    * re-embedded eval items that share no exact span still surface
    * here.
    *
    * Scale shape: the benchmark side is orders of magnitude smaller
    * than the training corpus (an eval suite vs 100 TB) — it
    * broadcasts, the corpus is scanned ONCE with per-row norms
    * materialized scan-side, and the threshold filter keeps only
    * flagged pairs. No top-k window is needed, so there is no shuffle
    * at all beyond the broadcast.
    *
    * `excludeSameId` drops pairs whose ids are equal. It is OFF by
    * default: bench and corpus are normally two independent tables
    * whose id spaces can collide, and an implicit `id <> id` filter
    * would silently suppress a genuine contamination hit. Turn it on
    * only when bench is a subset of the corpus itself (same id space),
    * where a same-id pair is the row matched against itself.
    *
    * MIGRATION NOTE (behavior change vs the first release of this
    * function): the original implementation always filtered
    * `id_bench != id_corpus`. Callers who relied on that implicit
    * filter — i.e. whose bench rows are drawn from the corpus itself —
    * must now pass `excludeSameId = true` explicitly or they will see
    * additional same-id rows at sim ~1.0.
    *
    * Zero-norm embeddings are excluded scan-side on BOTH inputs: their
    * cosine is 0/0 = NaN, and Spark orders NaN greater than any number,
    * so `NaN >= threshold` would flag a zero vector against every
    * counterpart.
    *
    * Output: id_bench, id_corpus, sim (round6, engine-reproducible).
    */
  def crossCosineAbove(
      bench: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      excludeSameId: Boolean = false
  ): DataFrame = {
    require(threshold > 0.0, s"threshold must be positive, got $threshold")
    val b = scored(bench, idCol, col(vecCol), "id_bench", "_bv", "_bn")
    val c = scored(corpus, idCol, col(vecCol), "id_corpus", "_cv", "_cn")
    val cond =
      if (excludeSameId) col("id_bench") =!= col("id_corpus") else lit(true)
    c.join(broadcast(b), cond)
      .withColumn("sim", pairCosine(col("_bv"), col("_cv"), col("_bn"), col("_cn")))
      .where(col("sim") >= threshold)
      .select("id_bench", "id_corpus", "sim")
  }

  /** Deterministic +-1 hyperplanes, derived by hash so the LSH needs no
    * stored matrix — any executor (or a later job) rebuilds identical
    * planes from (plane, dim index) alone.
    */
  private[similarity] def planeSigns(
      nPlanes: Int,
      dim: Int,
      planeOffset: Int = 0
  ): Array[Array[Double]] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { i =>
        if ((XXH64.hashLong((p + planeOffset).toLong * 1000003L + i, 42L) & 1L) == 0L) 1.0
        else -1.0
      }
    }
  }

  /** Random-hyperplane LSH bucket key (`nPlanes` sign bits packed into
    * a long). Cosine-similar vectors collide with high probability.
    * The sign vectors are row-independent, so they live as literal
    * arrays and each projection is one native dot product — not an
    * interpreted per-element hash per row (measured 30-100x slower).
    */
  def lshBucket(v: Column, nPlanes: Int, dim: Int, planeOffset: Int = 0): Column = {
    // 63 sign bits is the most a long can pack without touching the
    // sign bit; at nPlanes >= 64 the `1L << p` shift wraps (1L << 64
    // == 1) and the additive bit-combine would CARRY duplicate plane
    // values into unrelated bits — silently scrambled buckets.
    require(
      nPlanes >= 1 && nPlanes <= 63,
      s"nPlanes must be in [1, 63] (sign bits packed into a long), got $nPlanes"
    )
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val signs = planeSigns(nPlanes, dim, planeOffset)
    (0 until nPlanes)
      .map { p =>
        when(dot(v, lit(signs(p))) >= 0, lit(1L << p)).otherwise(lit(0L))
      }
      .reduce(_ + _)
  }

  /** LSH-bucketed ANN: exact cosine ranking *within* each query's
    * probed buckets. The corpus is hashed once and shuffled on the
    * bucket key — the candidate set per query is |bucket| x probes
    * instead of |corpus|, the scale path for ANN joins.
    *
    * Multi-probe: besides its own bucket, each query probes the
    * `nPlanes` neighbor buckets at Hamming distance 1 (one sign bit
    * flipped) — vectors near a hyperplane land on either side with
    * ~equal probability, and probing the flip recovers them. Probing is
    * query-side only: the corpus stays hashed once, so recall improves
    * at the cost of (nPlanes+1) probe rows per query, not a bigger
    * corpus shuffle.
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nPlanes: Int = 8,
      multiProbe: Boolean = true,
      nTables: Int = 1,
      dim: Option[Int] = None
  ): DataFrame = {
    require(nTables >= 1, s"nTables must be >= 1, got $nTables")
    dim.foreach(d => require(d >= 1, s"dim must be >= 1, got $d"))
    // The vector dimensionality is a plan-time constant (it sizes the
    // literal sign matrix). The caller of a production ANN index knows
    // its embedding dim — passing it skips any corpus read at plan
    // time. The fallback is a bounded aggregate peek: MAX over
    // non-null vectors, not head(), because an arbitrary first row can
    // be NULL (NPE) or short (ragged corpus — every longer vector
    // would then hash on a truncated prefix, silently destroying
    // recall). With max, full-length vectors hash on all their
    // information and shorter ones on what they have (dot truncates to
    // min length). The aggregate is one full corpus-column scan BEFORE
    // the query starts — acceptable at test scale, the thing to avoid
    // at 100 TB, hence the explicit-dim fast path. An explicit dim is a
    // contract: a longer vector would hash on its first `dim`
    // components only, so it fails the query instead — as a LAZY guard
    // in the projections (the Scorer idiom), still no plan-time scan.
    val vec = dim.fold(col(vecCol)) { d =>
      when(
        size(col(vecCol)) > d,
        raise_error(format_string(
          s"lshTopK: a $vecCol vector has %d components, more than dim = $d",
          size(col(vecCol))))
      ).otherwise(col(vecCol))
    }
    val resolvedDim = dim.getOrElse {
      val dimRow = corpus
        .where(col(vecCol).isNotNull)
        .select(max(size(col(vecCol))))
        .head()
      require(
        !dimRow.isNullAt(0) && dimRow.getInt(0) >= 1,
        s"cannot derive vector dimensionality: no non-null $vecCol rows"
      )
      dimRow.getInt(0)
    }
    // nTables is the recall dial orthogonal to multi-probe: L
    // INDEPENDENT hyperplane sets, a candidate needs to collide in ANY
    // one. Recall 1-(1-p)^L for per-table collision p, at the cost of
    // an L-times-larger corpus bucket table — the standard trade
    // (Indyk-Motwani LSH with L tables).
    def tableEntries(bucketFor: Int => Column) = explode(
      array((0 until nTables).map { t =>
        struct(lit(t).as("_tbl"), bucketFor(t).as("_bucket"))
      }: _*)
    )
    val q = scored(queries, idCol, vec, "query_id", "_qv", "_qn")
      .withColumn(
        "_e",
        tableEntries { t =>
          val own = lshBucket(col("_qv"), nPlanes, resolvedDim, t * nPlanes)
          if (!multiProbe) array(own)
          else array(own +: (0 until nPlanes).map(j => own.bitwiseXOR(lit(1L << j))): _*)
        }
      )
      .select(
        col("query_id"),
        col("_qv"),
        col("_qn"),
        col("_e._tbl").as("_tbl"),
        explode(col("_e._bucket")).as("_bucket")
      )
    val c = scored(corpus, idCol, vec, "neighbor_id", "_cv", "_cn")
      .withColumn("_e", tableEntries(t => lshBucket(col("_cv"), nPlanes, resolvedDim, t * nPlanes)))
      .select(
        col("neighbor_id"),
        col("_cv"),
        col("_cn"),
        col("_e._tbl").as("_tbl"),
        col("_e._bucket").as("_bucket")
      )
    val joined = c
      .join(broadcast(q), Seq("_tbl", "_bucket"))
      .where(notSelf(true))
    // with one table a pair can meet at most once (one bucket per
    // corpus row, distinct probe values) — skip the dedup exchange
    exactTopK(if (nTables > 1) joined.dropDuplicates("query_id", "neighbor_id") else joined, k)
  }

  /** Local Lloyd's iterations over a collected sample — the IVF coarse
    * quantizer fit. nlist x dim x iters driver flops on <= maxTrain
    * vectors: microseconds of math that MLlib's KMeans spent ~10
    * scheduled cluster jobs orchestrating (measured ~2 s of fixed
    * overhead per bench run). Deterministic: init picks evenly spaced
    * sample rows; an emptied cluster keeps its previous centroid.
    */
  private[similarity] def localKMeans(
      sample: Array[Array[Double]],
      k: Int,
      iters: Int
  ): Array[Array[Double]] = {
    require(sample.nonEmpty, "IVF fit: empty training sample")
    val dim = sample.head.length
    val n = sample.length
    // spacing divides by the EFFECTIVE centroid count: dividing by a
    // requested k > n would map several j to the same sample row and
    // permanently freeze the duplicate cells empty
    val kk = math.min(k, n)
    val cents = Array.tabulate(kk)(j => sample(((j.toLong * n) / kk).toInt).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      var r = 0
      while (r < n) {
        val v = sample(r)
        var best = 0; var bestD = Double.MaxValue; var j = 0
        while (j < cents.length) {
          var d = 0.0; var i = 0
          val cj = cents(j)
          while (i < dim) { val diff = v(i) - cj(i); d += diff * diff; i += 1 }
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        val s = sums(best); var i = 0
        while (i < dim) { s(i) += v(i); i += 1 }
        counts(best) += 1
        r += 1
      }
      var j = 0
      while (j < cents.length) {
        if (counts(j) > 0) {
          var i = 0
          while (i < dim) { cents(j)(i) = sums(j)(i) / counts(j); i += 1 }
        }
        j += 1
      }
      it += 1
    }
    cents
  }

  /** IVF-style ANN: a k-means coarse quantizer partitions the corpus
    * into `nlist` inverted lists; each query probes its `nprobe`
    * nearest centroids and ranks exact cosine only within those cells.
    *
    * Scale shape: centroids are tiny (nlist x dim) and live in the
    * task closure — no side state, any executor derives the same
    * assignment. The FIT is bounded driver math over a <= maxTrain
    * sample ([[localKMeans]]); the scans stay embarrassingly parallel
    * and nothing shuffles until the cell join. The candidate set per
    * query is ~nprobe/nlist of the corpus. `seed` only affects the
    * optional `trainFraction` sampling — centroid init itself is
    * deterministic (evenly spaced sample rows).
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      seed: Long = 42L,
      trainFraction: Option[Double] = None,
      excludeSelfMatch: Boolean = true
  ): DataFrame = {
    val cents = fitIvfCentroids(corpus, vecCol, nlist, seed, trainFraction)
    val c = scored(corpus, idCol, col(vecCol), "neighbor_id", "_cv", "_cn")
      .withColumn("_cell", cellOf(col("_cv"), cents))
    rankWithinCells(c, probeSide(queries, idCol, col(vecCol), cents, nprobe), k, excludeSelfMatch)
  }

  /** The nearest cell of `vec` — a codegen'd Catalyst expression
    * ([[graft.functions.hashExpressions.NearestCells]]) with the
    * centroids bound as a plan-time constant, so cell assignment is an
    * embarrassingly parallel scan. NULL/empty/ragged vectors map to
    * NULL and drop out of every inner cell join.
    */
  private def cellOf(vec: Column, cents: Array[Array[Double]]): Column =
    graft.functions.hashExpressions.nearestCells(vec.cast("array<double>"), cents, 1)(0)

  /** The scored query side of an IVF probe, one row per (query, probed
    * cell): (query_id, _qv, _qn, _cell) for the `nprobe` nearest cells.
    */
  private def probeSide(
      queries: DataFrame,
      idCol: String,
      vec: Column,
      cents: Array[Array[Double]],
      nprobe: Int
  ): DataFrame =
    scored(queries, idCol, vec, "query_id", "_qv", "_qn").withColumn(
      "_cell",
      explode(
        graft.functions.hashExpressions.nearestCells(col("_qv").cast("array<double>"), cents, nprobe)
      )
    )

  /** The IVF probe tail shared by [[ivfTopK]] and [[ivfQueryIndex]]:
    * broadcast the exploded (query, probe-cell) side against the
    * cell-assigned corpus, exact cosine within the probed cells only,
    * bounded per-query top-k. `c`: (neighbor_id, _cv, _cn, _cell);
    * `q`: (query_id, _qv, _qn, _cell); both zero-norm free.
    */
  private def rankWithinCells(
      c: DataFrame,
      q: DataFrame,
      k: Int,
      excludeSelf: Boolean
  ): DataFrame =
    exactTopK(c.join(broadcast(q), Seq("_cell")).where(notSelf(excludeSelf)), k)

  /** IVF coarse-quantizer fit: bounded driver math over a capped
    * corpus sample. COUNT-FREE sizing: LocalLimit stops each scan
    * task once maxTrain rows exist, so the fit reads O(maxTrain) rows
    * at any corpus size (the r2 corpus.count() was an entire extra
    * full-corpus pass whose only purpose was computing a fraction).
    * For corpora whose storage order is correlated with vector space,
    * pass trainFraction (e.g. 8192/estimated_n) to decorrelate; the
    * read stays bounded at ~maxTrain/fraction rows.
    *
    * The fit tolerates exactly what the scan-side kernel tolerates:
    * null vectors, null SLOTS, and ragged lengths are dropped from
    * the training sample (the kernel maps them to NULL cell, so they
    * never join) — a single dirty row must not crash the fit.
    */
  private[similarity] def fitIvfCentroids(
      corpus: DataFrame,
      vecCol: String,
      nlist: Int,
      seed: Long,
      trainFraction: Option[Double]
  ): Array[Array[Double]] =
    localKMeans(trainingSample(corpus, vecCol, seed, trainFraction), nlist, iters = 5)

  /** The bounded driver sample of every quantizer fit: at most 8192
    * clean vectors (non-null, no null slot, the first row's length),
    * optionally drawn from a `trainFraction` sample.
    */
  private def trainingSample(
      corpus: DataFrame,
      vecCol: String,
      seed: Long,
      trainFraction: Option[Double]
  ): Array[Array[Double]] = {
    trainFraction.foreach(f =>
      require(f > 0.0 && f <= 1.0, s"trainFraction must be in (0, 1], got $f")
    )
    val maxTrain = 8192
    val base = corpus.select(col(vecCol).cast("array<double>").as("_v"))
    val collected = trainFraction
      .fold(base)(f => base.sample(withReplacement = false, f, seed))
      .where(col("_v").isNotNull) // a NULL embedding would NPE the fit
      .limit(maxTrain)
      .collect()
      .map(_.getSeq[java.lang.Double](0))
      .filter(s => s != null && s.forall(_ ne null))
    collected.headOption
      .map(h => collected.filter(_.length == h.length).map(_.map(_.doubleValue()).toArray))
      .getOrElse(Array.empty[Array[Double]])
  }

  /** Persist a fitted IVF index: fit once, probe forever. Layout:
    *
    *   path/centroids/  — (cell, centroid) parquet, nlist rows
    *   path/cells/      — corpus partitioned BY CELL (id, vector,
    *                      precomputed norm), parquet directory per cell
    *
    * The partitioned layout is the scale payoff: a probe reads ONLY
    * its nprobe cell directories (planning-time partition pruning in
    * [[ivfQueryIndex]]), so query cost is ~nprobe/nlist of the corpus
    * IN I/O, not just in compute — and the fit+assignment pass is paid
    * once, not per query batch. Norms ride the index so probing never
    * touches the raw corpus.
    *
    * Rows whose vector the kernel rejects (NULL, empty, ragged) land
    * in the null-cell partition and are never probed — same semantics
    * as [[ivfTopK]]'s inner cell join.
    */
  def ivfWriteIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      nlist: Int = 16,
      seed: Long = 42L,
      trainFraction: Option[Double] = None
  ): Unit = {
    val cents = fitIvfCentroids(corpus, vecCol, nlist, seed, trainFraction)
    writeQuantizer(corpus.sparkSession, cents, path)
    writeCells(corpus, col(idCol), col(vecCol), cents, s"$path/cells")
  }

  /** Write a fitted quantizer under `dir`: `centroids/` (cell,
    * centroid) and the self-describing `meta/` (format version,
    * effective nlist, dim), which loaders read back for a friendly
    * integrity check instead of a downstream shape error.
    */
  private def writeQuantizer(
      spark: org.apache.spark.sql.SparkSession,
      cents: Array[Array[Double]],
      dir: String
  ): Unit = {
    import spark.implicits._
    cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toSeq
      .toDF("cell", "centroid")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"$dir/centroids")
    Seq((1, cents.length, cents.head.length))
      .toDF("format_version", "nlist", "dim")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"$dir/meta")
  }

  /** Write `rows` as index cell rows (neighbor_id, _cv, _cn, cell),
    * partitioned by their nearest cell under `cents`. Raw documents
    * (`n` unset) get their double vector and its norm computed; stored
    * cell rows pass their `_cn` so norms ride over unchanged.
    */
  private def writeCells(
      rows: DataFrame,
      id: Column,
      vec: Column,
      cents: Array[Array[Double]],
      dst: String,
      mode: String = "overwrite",
      n: Option[Column] = None
  ): Unit =
    rows
      .select(
        id.as("neighbor_id"),
        vec.cast("array<double>").as("_cv"),
        n.getOrElse(norm(vec)).as("_cn"),
        cellOf(vec, cents).as("cell")
      )
      .write
      .mode(mode)
      .partitionBy("cell")
      .parquet(dst)

  /** Load and validate a persisted index's centroids against its meta
    * file (when present — older indexes without one load unchecked).
    */
  private def loadCentroids(
      spark: org.apache.spark.sql.SparkSession,
      path: String
  ): Array[Array[Double]] = {
    val cents = spark.read
      .parquet(s"$path/centroids")
      .orderBy("cell")
      .collect() // nlist rows by construction
      .map(_.getSeq[Double](1).toArray)
    require(cents.nonEmpty, s"no centroids found under $path/centroids")
    val metaPath = new org.apache.hadoop.fs.Path(s"$path/meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(metaPath)) {
      val m = spark.read.parquet(s"$path/meta").head
      val (nlist, dim) = (m.getAs[Int]("nlist"), m.getAs[Int]("dim"))
      require(
        cents.length == nlist && cents.forall(_.length == dim),
        s"corrupt IVF index at $path: meta says nlist=$nlist dim=$dim, " +
          s"centroids have ${cents.length} cells of dims ${cents.map(_.length).distinct.mkString(",")}"
      )
    }
    cents
  }

  /** Incrementally add documents to a persisted IVF index: assign
    * cells with the STORED centroids (read once, nlist rows) and
    * append to the cell partitions — the steady-state ingest path.
    * The quantizer is deliberately not refit (coarse centroids only
    * partition space; IVF practice refits offline when the
    * distribution drifts, because refitting would invalidate every
    * existing cell assignment). Probes see appended rows immediately
    * — partition dirs gain files, the listing stays pruned.
    */
  def ivfAppendToIndex(
      newDocs: DataFrame,
      idCol: String,
      vecCol: String,
      path: String
  ): Unit = {
    val cents = loadCentroids(newDocs.sparkSession, path)
    writeCells(newDocs, col(idCol), col(vecCol), cents, s"$path/cells", "append")
  }

  /** Per-cell population of a persisted index — the nlist-tuning
    * signal (target ~sqrt(corpus) cells; a dominant cell means the
    * quantizer under-partitions its region, an empty one wastes a
    * probe). Counts read no data columns (parquet row-group counts),
    * so this is a metadata-priced scan.
    */
  def ivfIndexStats(
      spark: org.apache.spark.sql.SparkSession,
      path: String
  ): DataFrame =
    spark.read
      .parquet(s"$path/cells")
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("cell")

  /** Compact a persisted IVF index's cell partitions: steady-state
    * [[ivfAppendToIndex]] ingest accumulates one small file per
    * append batch per cell, and probe cost degrades from "read
    * nprobe directories" to "open hundreds of tiny footers". Rewrites
    * the cell table clustered by cell (one shuffle of the index — the
    * same cost as building it) into a fresh directory, then swaps it
    * in; the swap is the only non-atomic moment, so run compaction
    * from the ingest owner, not concurrently with appends.
    */
  def ivfCompactIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val cells = spark.read.parquet(s"$path/cells")
    val tmp = s"$path/cells_compacting"
    cells
      .repartition(col("cell"))
      .write
      .mode("overwrite")
      .partitionBy("cell")
      .parquet(tmp)
    swapIn(indexFs(spark, tmp), Seq(tmp -> s"$path/cells"), "compaction")
  }

  private def indexFs(
      spark: org.apache.spark.sql.SparkSession,
      p: String
  ): org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(p), spark.sparkContext.hadoopConfiguration)

  /** Move each freshly written `src` dir over its `dst`: delete, then
    * rename — the one non-atomic moment of an index rewrite, so
    * rewrites run from the ingest owner. With `drainedOk` a missing
    * `src` (a cell that lost every row writes no partition) leaves
    * `dst` deleted, which IS the update; otherwise it fails the rename.
    */
  private def swapIn(
      fs: org.apache.hadoop.fs.FileSystem,
      moves: Seq[(String, String)],
      what: String,
      drainedOk: Boolean = false
  ): Unit = moves.foreach { case (src, dst) =>
    val s = new org.apache.hadoop.fs.Path(src)
    fs.delete(new org.apache.hadoop.fs.Path(dst), true)
    if (!drainedOk || fs.exists(s))
      require(fs.rename(s, new org.apache.hadoop.fs.Path(dst)), s"$what rename failed: $src -> $dst")
  }

  /** The stored cells of an index and a quantizer refit from them. The
    * training sample must NOT be a prefix read: the cell layout is
    * clustered BY VECTOR SPACE, so LocalLimit would train on one
    * cell's region and collapse the quantizer. The fraction sample
    * (sized ~4x maxTrain from the index's metadata-priced row count)
    * decorrelates storage order from vector space.
    */
  private def refitFromCells(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      nlist: Int,
      seed: Long
  ): (DataFrame, Array[Array[Double]]) = {
    val cells = spark.read.parquet(s"$path/cells")
    val n = cells.count() // count(*) over parquet: row-group metadata only
    require(n > 0, s"refusing to refit an empty index at $path")
    val frac = math.min(1.0, 4.0 * 8192 / n.toDouble)
    (cells, fitIvfCentroids(cells.select(col("_cv")), "_cv", nlist, seed, Some(frac)))
  }

  /** Refit trigger signal for a persisted index: true when the largest
    * cell holds more than `factor` times its fair share of vectors
    * (n / nlist) or when over half the cells are empty — the two ways
    * a drifted quantizer costs probes (a dominant cell makes every
    * probe into it scan ~the corpus; empty cells burn nprobe slots for
    * nothing). Driver math over the [[ivfIndexStats]] result (<= nlist
    * rows, metadata-priced scan); the NULL cell (dirty vectors) never
    * counts toward balance.
    *
    * `factor` is a share multiple, not an absolute: 4.0 tolerates the
    * natural spread of real corpora (cells are clusters, not hash
    * buckets) while still firing on an append stream that piles a new
    * domain into one old cell.
    */
  def ivfRefitNeeded(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      factor: Double = 4.0
  ): Boolean = {
    require(factor >= 1.0, s"factor is a fair-share multiple, got $factor")
    val nlist = loadCentroids(spark, path).length
    val counts = ivfIndexStats(spark, path)
      .where(col("cell").isNotNull)
      .select(col("n_vectors").cast("long"))
      .collect()
      .map(_.getLong(0))
    if (counts.isEmpty) false // an empty index has nothing to rebalance
    else {
      val n = counts.sum
      val emptyCells = nlist - counts.length
      counts.max.toDouble > factor * (n.toDouble / nlist) ||
      emptyCells * 2 > nlist
    }
  }

  /** Refit the coarse quantizer FROM the index's own stored vectors and
    * rewrite every cell assignment — the offline rebalance for when
    * steady-state [[ivfAppendToIndex]] ingest has drifted the corpus
    * away from the original fit (signal: [[ivfRefitNeeded]] /
    * [[ivfIndexStats]]). `nlist` defaults to the stored cell count;
    * pass a new value to re-size the quantizer (target ~sqrt(corpus)).
    * The fit stays bounded driver math over a fraction sample of the
    * stored vectors ([[refitFromCells]]).
    *
    * Rewrite cost is one full pass over the index (the same price as
    * building it); stored norms are reused, the raw corpus is never
    * touched. The new tree is written complete to `_refit_tmp` and
    * swapped in dir-by-dir — same single non-atomic moment as
    * [[ivfCompactIndex]], so run it from the ingest owner. NULL/ragged
    * vectors re-land in the null-cell partition unchanged.
    */
  def ivfRefitIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      nlist: Option[Int] = None,
      seed: Long = 42L
  ): Unit = {
    val effNlist = nlist.getOrElse(loadCentroids(spark, path).length)
    require(effNlist > 0, s"nlist must be positive, got $effNlist")
    val (cells, cents) = refitFromCells(spark, path, effNlist, seed)
    val tmp = s"$path/_refit_tmp"
    writeQuantizer(spark, cents, tmp)
    // reassign with the new quantizer; norms ride over unchanged. The
    // write fully materializes from the old dirs BEFORE any delete.
    writeCells(cells, col("neighbor_id"), col("_cv"), cents, s"$tmp/cells", n = Some(col("_cn")))
    val fs = indexFs(spark, tmp)
    swapIn(fs, Seq("centroids", "meta", "cells").map(d => s"$tmp/$d" -> s"$path/$d"), "refit")
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  /** What an [[ivfRefitInPlace]] actually touched. */
  final case class RefitReport(cellsRewritten: Int, cellsTotal: Int, rowsMoved: Long)

  /** Match a freshly fitted set of centroids onto the OLD cell id
    * space: greedy minimum-distance assignment (nlist^2 driver math).
    * K-means ids are arbitrary — without this, an identical refit
    * would renumber every cell and force a full rewrite.
    */
  private def matchCentroids(
      oldC: Array[Array[Double]],
      newC: Array[Array[Double]]
  ): Array[Array[Double]] = {
    val k = oldC.length
    val pairs = for (i <- 0 until k; j <- 0 until k) yield {
      val a = newC(i); val b = oldC(j)
      var d = 0.0; var t = 0
      val len = math.min(a.length, b.length)
      while (t < len) { val x = a(t) - b(t); d += x * x; t += 1 }
      (d, i, j)
    }
    val out = Array.ofDim[Array[Double]](k)
    val usedNew = new Array[Boolean](k)
    val usedOld = new Array[Boolean](k)
    pairs.sortBy(_._1).foreach { case (_, i, j) =>
      if (!usedNew(i) && !usedOld(j)) {
        usedNew(i) = true; usedOld(j) = true; out(j) = newC(i)
      }
    }
    out
  }

  /** [[ivfRefitIndex]] without the full rewrite: refit the quantizer,
    * keep cell ids stable (new centroids greedy-matched onto the old id
    * space), detect which vectors change assignment, and rewrite ONLY
    * the affected cell partitions. Steady-state drift is localized —
    * an append stream piles a new domain into a few cells — so most of
    * a big index's partitions survive a refit byte-identical and are
    * never written (or even re-read: the rewrite's scan filters on the
    * partition column, so planning-time pruning skips every untouched
    * directory).
    *
    * Cost shape at scale: ONE full read for change detection (every
    * vector must be checked against the new quantizer — irreducible),
    * then a read+write of only the affected partitions. The full
    * rewrite's write amplification — the expensive half on a 100 TB
    * index — is replaced by write-what-moved. A refit that moves
    * nothing leaves the index completely untouched.
    *
    * In-place refit keeps the stored nlist (resizing renumbers every
    * cell by construction — use [[ivfRefitIndex]]). Same single
    * non-atomic swap moment per AFFECTED partition as the full refit;
    * run from the ingest owner. Returns what was touched.
    */
  def ivfRefitInPlace(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      seed: Long = 42L
  ): RefitReport = {
    val oldCents = loadCentroids(spark, path)
    val nlist = oldCents.length
    val (cells, raw) = refitFromCells(spark, path, nlist, seed)
    require(
      raw.length == nlist,
      s"fit produced ${raw.length} centroids for a $nlist-cell index — " +
        "in-place refit cannot resize; use ivfRefitIndex"
    )
    val cents = matchCentroids(oldCents, raw)
    val annotated = cells.withColumn("_newCell", cellOf(col("_cv"), cents))
    // one aggregate: how many rows move, and which cells they leave /
    // enter (collect_set is bounded by nlist). Dirty vectors sit in the
    // null partition, map to NULL again, and never count as moved.
    val agg = annotated
      .where(!(col("cell") <=> col("_newCell")))
      .agg(
        count(lit(1)).as("n"),
        collect_set(col("cell")).as("olds"),
        collect_set(col("_newCell")).as("news")
      )
      .head
    val rowsMoved = agg.getLong(0)
    if (rowsMoved == 0) return RefitReport(0, nlist, 0L)
    val affected =
      (agg.getSeq[Int](1) ++ agg.getSeq[Int](2)).distinct.sorted
    val tmp = s"$path/_refit_tmp"
    writeQuantizer(spark, cents, tmp)
    // partition-pruned rewrite: only affected directories are read.
    // Every written row lands in an affected cell by construction — an
    // unmoved row in an affected dir keeps its id, a moved row's target
    // is in the affected set.
    writeCells(
      cells.where(col("cell").isin(affected: _*)),
      col("neighbor_id"),
      col("_cv"),
      cents,
      s"$tmp/cells",
      n = Some(col("_cn"))
    )
    val fs = indexFs(spark, tmp)
    swapIn(fs, Seq("centroids", "meta").map(d => s"$tmp/$d" -> s"$path/$d"), "refit")
    swapIn(
      fs,
      affected.map(c => s"$tmp/cells/cell=$c" -> s"$path/cells/cell=$c"),
      "refit",
      drainedOk = true
    )
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    RefitReport(affected.length, nlist, rowsMoved)
  }

  /** Probe a persisted IVF index ([[ivfWriteIndex]] layout) — same
    * semantics as [[ivfTopK]] with the fit and corpus assignment
    * amortized away.
    *
    * Pruning is PLANNING-TIME, not left to dynamic runtime filters:
    * the distinct probe cells are collected first (bounded — there are
    * at most nlist of them, and the probe projection is a scan of the
    * usually-small query side) and pushed as a literal IN partition
    * filter, so the parquet listing itself skips every unprobed cell
    * directory. The probed-cells scan then joins the broadcast query
    * side exactly like [[ivfTopK]].
    *
    * `excludeSelfMatch` defaults OFF here (the opposite of
    * [[ivfTopK]]): a persisted index is typically probed by EXTERNAL
    * query sets whose id space is unrelated to the index's, and an
    * accidental id collision must not suppress a genuine neighbor.
    * Flip it on when probing an index with rows of the indexed corpus
    * itself (self-ANN over a persisted index).
    */
  def ivfQueryIndex(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      k: Int,
      nprobe: Int = 4,
      excludeSelfMatch: Boolean = false
  ): DataFrame = {
    val spark = queries.sparkSession
    val cents = loadCentroids(spark, path)
    val q = probeSide(queries, idCol, col(vecCol).cast("array<double>"), cents, nprobe)
    rankWithinCells(readCells(spark, s"$path/cells", probedOf(q)), q, k, excludeSelfMatch)
  }

  /** The distinct probe cells of a probe side — at most nlist values. */
  private def probedOf(q: DataFrame): Seq[Int] =
    q.select("_cell").distinct().collect().map(_.getInt(0)).toIndexedSeq

  /** The probed partitions of a stored by-cell table (`cell` read back
    * as `_cell`), pruned at planning time by a literal IN filter, with
    * zero-norm rows dropped in the parquet scan.
    */
  private def readCells(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      probed: Seq[Int]
  ): DataFrame =
    spark.read
      .parquet(dir)
      .where(col("cell").isin(probed: _*) && col("_cn") > 0d)
      .withColumnRenamed("cell", "_cell")

  /** Listing-only fingerprint of the cells tree: md5 over the sorted
    * (relative path, length, mtime) of every data file. One metadata
    * listing — no data read — so the PQ sidecar can cheaply prove it
    * describes THIS cells snapshot. Conservative by design: a rewrite
    * with identical content (e.g. [[ivfCompactIndex]]) changes mtimes
    * and invalidates the sidecar, which errs on re-attach, never on
    * serving codes for vectors that moved.
    */
  private def cellsFingerprint(
      spark: org.apache.spark.sql.SparkSession,
      path: String
  ): String = {
    val root = new org.apache.hadoop.fs.Path(s"$path/cells")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // strip the QUALIFIED root (listFiles returns fully-qualified
    // URIs): the entries must be root-relative so attaching via
    // "/data/idx" and probing via "file:///data/idx" fingerprint
    // identically
    val rootPrefix = fs.makeQualified(root).toString
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val s = it.next()
      val name = s.getPath.toString.stripPrefix(rootPrefix)
      if (!name.endsWith("_SUCCESS"))
        entries += s"$name:${s.getLen}:${s.getModificationTime}"
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Attach a product-quantization sidecar to a persisted IVF index
    * ([[ivfWriteIndex]] layout) — IVF-PQ at rest:
    *
    *   path/pq/books/  — (m_idx, k_idx, centroid) sub-codebook rows
    *   path/pq/meta/   — (m, ksub, sub_dim, cells_fingerprint)
    *   path/pq/codes/  — BY CELL: (neighbor_id, _cn, _code)
    *
    * Codes are a PARALLEL table: the float cells stay byte-identical
    * (every existing probe/append/refit/compact contract is
    * untouched), and [[ivfPqQueryIndex]] scans m ints + one norm per
    * row in the probed cells instead of the float vectors — the
    * bandwidth product of the IVF partition pruning (read nprobe/nlist
    * of the corpus) and PQ compression (read ~dim·8/(4m+8) : 1 less of
    * what remains). The stored `cells_fingerprint` pins the snapshot:
    * after any append/refit/compaction the sidecar no longer matches
    * and probes fail loudly until `ivfAttachPq` is re-run (a cells
    * scan — the same cost the maintenance op itself just paid).
    */
  def ivfAttachPq(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      m: Int = 8,
      ksub: Int = 256,
      seed: Long = 42L,
      trainFraction: Option[Double] = None
  ): Unit = {
    import spark.implicits._
    val fp = cellsFingerprint(spark, path)
    val cells = spark.read.parquet(s"$path/cells")
    val books = fitPqCodebooks(cells, "_cv", m, ksub, seed, trainFraction)
    books.zipWithIndex
      .flatMap { case (sub, mi) =>
        sub.zipWithIndex.map { case (c, kj) => (mi, kj, c.toSeq) }
      }
      .toSeq
      .toDF("m_idx", "k_idx", "centroid")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"$path/pq/books")
    cells
      .select(
        col("cell"),
        col("neighbor_id"),
        col("_cn"),
        graft.functions.hashExpressions.pqEncode(col("_cv"), books).as("_code")
      )
      // same dirty-input contract as pqTopK: unencodable AND zero-norm
      // rows never enter the codes table — a 0 denominator would put
      // an Infinity/NaN approx score at the top of every shortlist
      .where(col("_code").isNotNull && col("_cn") > 0d)
      .write
      .mode("overwrite")
      .partitionBy("cell")
      .parquet(s"$path/pq/codes")
    Seq((m, books.head.length, books.head.head.length, fp))
      .toDF("m", "ksub", "sub_dim", "cells_fingerprint")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"$path/pq/meta")
  }

  private def loadPqBooks(
      spark: org.apache.spark.sql.SparkSession,
      path: String
  ): (Array[Array[Array[Double]]], Int, String) = {
    val meta = spark.read.parquet(s"$path/pq/meta").head
    val (m, ksub, subDim) =
      (meta.getAs[Int]("m"), meta.getAs[Int]("ksub"), meta.getAs[Int]("sub_dim"))
    val rows = spark.read
      .parquet(s"$path/pq/books")
      .orderBy("m_idx", "k_idx")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    require(
      rows.length == m * ksub && rows.forall(_._3.length == subDim),
      s"corrupt PQ sidecar at $path/pq: meta says (m=$m, ksub=$ksub, subDim=$subDim), " +
        s"books have ${rows.length} rows of dims ${rows.map(_._3.length).distinct.mkString(",")}"
    )
    val books = Array.tabulate(m, ksub)((mi, kj) => rows(mi * ksub + kj)._3)
    (books, ksub, meta.getAs[String]("cells_fingerprint"))
  }

  /** Probe a persisted IVF index through its PQ sidecar
    * ([[ivfAttachPq]]): partition-pruned CODES scan → ADC short list →
    * exact-cosine rerank against the (equally pruned) float cells.
    * Same output schema and tie rules as [[ivfQueryIndex]]; with a
    * saturated `rerankFactor` the result equals the float probe
    * exactly (spec-anchored), and the production configuration trades
    * the approximate cut for reading ~(4m+8)/(8·dim) of the probed
    * bytes. Fails loudly when the sidecar predates the current cells
    * snapshot (fingerprint mismatch) — re-run [[ivfAttachPq]] after
    * append/refit/compaction.
    *
    * `excludeSelfMatch` defaults OFF like [[ivfQueryIndex]] (external
    * query sets; an id collision must not suppress a neighbor).
    */
  def ivfPqQueryIndex(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      k: Int,
      nprobe: Int = 4,
      rerankFactor: Int = 4,
      excludeSelfMatch: Boolean = false
  ): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(rerankFactor >= 1, s"rerankFactor must be >= 1, got $rerankFactor")
    val spark = queries.sparkSession
    val cents = loadCentroids(spark, path)
    val (books, ksub, storedFp) = loadPqBooks(spark, path)
    val currentFp = cellsFingerprint(spark, path)
    require(
      storedFp == currentFp,
      s"stale PQ sidecar at $path/pq: cells changed since ivfAttachPq " +
        "(append/refit/compaction?) — re-attach before probing"
    )
    val q = adcSide(
      queries,
      idCol,
      vecCol,
      books,
      explode(
        graft.functions.hashExpressions
          .nearestCells(col(vecCol).cast("array<double>"), cents, nprobe)
      ).as("_cell")
    )
    val probed = probedOf(q)
    // parquet reads restore nullable ELEMENT types; the codes were
    // written non-null (pqEncode's contract) and PqAdcDot refuses
    // nullable elements at type-check, so narrow with array_compact —
    // a no-op on the data, a type proof for the plan
    val codes = readCells(spark, s"$path/pq/codes", probed)
      .withColumn("_code", array_compact(col("_code")))
    pqRerank(
      codes.join(broadcast(q), Seq("_cell")).where(notSelf(excludeSelfMatch)),
      ksub,
      k * rerankFactor,
      queries,
      idCol,
      vecCol,
      readCells(spark, s"$path/cells", probed),
      k
    )
  }

  /** The ADC query side of both PQ paths: (query_id, _qn, _tab,
    * `extra`...), dropping queries the codebooks cannot score (NULL or
    * ragged vector) and zero-norm queries.
    */
  private def adcSide(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      books: Array[Array[Array[Double]]],
      extra: Column*
  ): DataFrame =
    queries
      .select(
        Seq(
          col(idCol).as("query_id"),
          filteredNorm(col(vecCol)).as("_qn"),
          graft.functions.hashExpressions
            .pqAdcTable(col(vecCol).cast("array<double>"), books)
            .as("_tab")
        ) ++ extra: _*
      )
      .where(col("_tab").isNotNull && col("_qn") > 0d)

  /** The PQ tail of [[pqTopK]] and [[ivfPqQueryIndex]]: per query, the
    * `shortlist` best ADC scores of the candidate `pairs` (query_id,
    * neighbor_id, _code, _tab, _qn, _cn), then the exact top-k of that
    * short list against the float vectors — `floats` (neighbor_id, _cv,
    * _cn) and the scored queries. Only the short list touches float
    * vectors again; both rejoined sides broadcast (|queries| and
    * |queries|·shortlist rows).
    */
  private def pqRerank(
      pairs: DataFrame,
      ksub: Int,
      shortlist: Int,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      floats: DataFrame,
      k: Int
  ): DataFrame = {
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("_approx").desc, col("neighbor_id"))
    val kept = pairs
      .withColumn(
        "_approx",
        graft.functions.hashExpressions.pqAdcDot(col("_code"), col("_tab"), ksub) /
          (col("_qn") * col("_cn"))
      )
      .withColumn("_arank", row_number().over(w))
      .where(col("_arank") <= shortlist)
      .select("query_id", "neighbor_id")
    val qv = scored(queries, idCol, col(vecCol).cast("array<double>"), "query_id", "_qv", "_qn")
    exactTopK(
      floats
        .select("neighbor_id", "_cv", "_cn")
        .join(broadcast(kept), Seq("neighbor_id"))
        .join(broadcast(qv), Seq("query_id")),
      k
    )
  }

  /** Symmetric int8 quantization of an embedding — the 4x storage/
    * shuffle-bandwidth reduction of the 100 TB ANN path. scale =
    * max|x| / 127; q_i = floor(x_i / scale + 0.5). The half-up floor
    * formula (not round()) is deliberate: it is pure arithmetic with
    * identical semantics in every engine, where round() tie modes
    * differ. A zero vector quantizes to all-zero (scale 0 guard).
    * Reconstruction error per element is <= scale/2.
    *
    * Output struct: (scale: double, q: array<int>).
    */
  def quantizeInt8(vec: Column): Column = {
    val dv = vec.cast("array<double>")
    val s = array_max(transform(dv, x => abs(x))) / 127.0
    struct(
      s.as("scale"),
      when(s > 0, transform(dv, x => floor(x / s + 0.5).cast("int")))
        .otherwise(transform(dv, _ => lit(0)))
        .as("q")
    )
  }

  /** Brute-force cosine top-k over QUANTIZED vectors. Cosine is
    * scale-invariant, so the per-vector scales cancel and ranking runs
    * on integer dot products (exact in double) — no dequantization.
    * Same plan shape as [[bruteForceTopK]], 4x less data moved.
    */
  def quantizedTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    def qz(df: DataFrame) =
      df.select(col(idCol), quantizeInt8(col(vecCol)).as("_z"))
        .select(col(idCol), col("_z.q").cast("array<double>").as("_qv"))
    bruteForceTopK(qz(queries), qz(corpus), idCol, "_qv", k)
  }

  /** Product-quantization codebook fit: split the embedding space into
    * `m` subspaces of dim/m dims and k-means each independently
    * (`ksub` sub-centroids per subspace) over the same bounded driver
    * sample as the IVF fit. dim must divide evenly by m. Returns the
    * (m, ksub, subDim) codebook tensor — a plan-time constant for the
    * [[graft.functions.hashExpressions.PqEncode]] family.
    */
  private[similarity] def fitPqCodebooks(
      corpus: DataFrame,
      vecCol: String,
      m: Int,
      ksub: Int,
      seed: Long,
      trainFraction: Option[Double]
  ): Array[Array[Array[Double]]] = {
    require(m > 0, s"m must be positive, got $m")
    require(ksub > 1, s"ksub must be > 1, got $ksub")
    val sample = trainingSample(corpus, vecCol, seed, trainFraction)
    require(sample.nonEmpty, "PQ fit: no clean training vectors")
    val dim = sample.head.length
    require(
      dim % m == 0,
      s"embedding dim $dim must divide evenly into m=$m subspaces"
    )
    val subDim = dim / m
    Array.tabulate(m) { mi =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, mi * subDim, (mi + 1) * subDim))
      val cents = localKMeans(sub, ksub, iters = 5)
      // localKMeans clamps k to the sample size; the codebook tensor
      // must stay rectangular (ksub wide) for the flat plan constant,
      // so pad by repeating — duplicate centroids are harmless (codes
      // just never select the copies).
      if (cents.length == ksub) cents
      else Array.tabulate(ksub)(j => cents(j % cents.length).clone())
    }
  }

  /** Product-quantization ANN (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011): compress each corpus
    * vector to `m` sub-centroid codes (m·4 bytes as array<int> —
    * ~dim·8/m·4 : 1 vs the float64 vector, e.g. 64x for dim=256,
    * m=8), score candidates with m table lookups against a per-query
    * ADC table, then RERANK the per-query short list with exact
    * cosine over the float vectors.
    *
    * Scale shape: the fit is bounded driver math (same contract as
    * [[fitIvfCentroids]]); encoding is a scan-side codegen'd
    * projection; the candidate pass broadcasts the query side's
    * (id, ADC table) — |queries|·m·ksub doubles — and scans CODES,
    * never float vectors, so the 100 TB corpus contributes m ints per
    * row to the pass. Only the short list (|queries|·rerankFactor·k
    * rows) rejoins the float corpus for exact scores. Output schema
    * and tie rules match [[bruteForceTopK]]: (query_id, neighbor_id,
    * sim round6, rank), so with rerank on and a clean short list the
    * result is exactly the brute-force answer whenever the true top-k
    * survives the approximate cut (recall floor spec-pinned).
    *
    * `excludeSelfMatch` as in [[bruteForceTopK]]: default ON (self-
    * ANN); turn OFF for external query sets whose ids may collide
    * with corpus ids.
    */
  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int = 8,
      ksub: Int = 256,
      rerankFactor: Int = 4,
      seed: Long = 42L,
      trainFraction: Option[Double] = None,
      excludeSelfMatch: Boolean = true
  ): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(rerankFactor >= 1, s"rerankFactor must be >= 1, got $rerankFactor")
    val books = fitPqCodebooks(corpus, vecCol, m, ksub, seed, trainFraction)
    val px = graft.functions.hashExpressions
    // the EXACT norm rides the encode scan (one double next to the m
    // ints — negligible data, strictly better approx ranking than a
    // reconstruction norm: PQ then approximates only the numerator)
    val c = corpus
      .select(
        col(idCol).as("neighbor_id"),
        px.pqEncode(col(vecCol).cast("array<double>"), books).as("_code"),
        // filteredNorm: one non-deterministic field keeps the filter
        // below from being rewritten through this projection, which
        // would re-evaluate pqEncode AND the norm per corpus row
        filteredNorm(col(vecCol)).as("_cn")
      )
      .where(col("_code").isNotNull && col("_cn") > 0d)
    pqRerank(
      c.join(broadcast(adcSide(queries, idCol, vecCol, books)), notSelf(excludeSelfMatch)),
      ksub,
      k * rerankFactor,
      queries,
      idCol,
      vecCol,
      scored(corpus, idCol, col(vecCol).cast("array<double>"), "neighbor_id", "_cv", "_cn"),
      k
    )
  }

  /** Near-duplicate pairs by embedding cosine within a blocking key
    * (label, LSH bucket, shard — any column that bounds the candidate
    * set). Pairs are emitted once (idA < idB). This is the standard
    * blocked all-pairs shape: shuffle on the blocking key, pairwise
    * compare only within blocks.
    */
  def cosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      threshold: Double
  ): DataFrame = {
    val a = df.select(
      col(blockCol).as("_blk"),
      col(idCol).as("id_a"),
      col(vecCol).as("_va"),
      norm(col(vecCol)).as("_na")
    )
    val b = df.select(
      col(blockCol).as("_blk"),
      col(idCol).as("id_b"),
      col(vecCol).as("_vb"),
      norm(col(vecCol)).as("_nb")
    )
    a.join(b, Seq("_blk"))
      .where(col("id_a") < col("id_b"))
      .withColumn("sim", pairCosine(col("_va"), col("_vb"), col("_na"), col("_nb")))
      .where(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** SEMANTIC near-duplicate pairs, SemDeDup-style (Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): k-means clusters the embedding
    * space, and cosine is compared only WITHIN a cluster — semantic
    * duplicates (paraphrases, re-encodings, boilerplate variants of
    * the same content) land in the same cluster, so the all-pairs
    * problem collapses to per-cluster blocks. This catches what
    * lexical MinHash cannot: documents saying the same thing in
    * different words.
    *
    * Composition of the library's existing scale machinery:
    *   - cluster fit = [[fitIvfCentroids]] — bounded driver math over
    *     a <= 8192-row LocalLimit-capped sample, O(1) in corpus size;
    *   - assignment = the codegen'd
    *     [[graft.functions.hashExpressions.NearestCells]] expression,
    *     centroids bound as a plan-time literal — scan-side, no UDF,
    *     no shuffle;
    *   - pairs = [[graft.dedup.BucketJoin.selfPairs]] keyed on the
    *     cell, so a degenerate cluster (all-identical embeddings)
    *     emits O(m) star candidates instead of m², same hot-bucket
    *     bound as the lexical LSH path.
    *
    * `nAssign` > 1 assigns each document to its `nAssign` nearest
    * cells, recovering pairs that straddle a cluster boundary (the
    * paper's within-cluster-only trade) at proportional candidate
    * cost; duplicate emissions via shared cells are distinct'd away.
    * Zero-norm and NULL/ragged embeddings drop out (cosine is
    * undefined for them) — same tolerance as every other vector path
    * here. Output: id_a < id_b, sim (round6, engine-reproducible).
    */
  def semanticDedupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nlist: Int = 64,
      nAssign: Int = 1,
      bucketCap: Int = 0,
      seed: Long = 42L,
      trainFraction: Option[Double] = None
  ): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold out of (0,1]: $threshold")
    require(nAssign >= 1 && nAssign <= nlist, s"nAssign out of [1, nlist]: $nAssign")
    val cents = fitIvfCentroids(df, vecCol, nlist, seed, trainFraction)
    val rows = scored(df, idCol, col(vecCol).cast("array<double>"), "id", "_v", "_n")
      .withColumn(
        "_cells",
        graft.functions.hashExpressions.nearestCells(col("_v"), cents, nAssign)
      )
      .where(col("_cells").isNotNull)
      .select(
        col("id"),
        explode(col("_cells")).as("_cell"),
        struct(col("_v").as("v"), col("_n").as("n")).as("sig")
      )
    val pairs = graft.dedup.BucketJoin
      .selfPairs(rows, Seq("_cell"), "sig", bucketCap)
      .withColumn("sim", pairCosine(col("_sa.v"), col("_sb.v"), col("_sa.n"), col("_sb.n")))
      .where(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
    if (nAssign == 1) pairs else pairs.distinct()
  }

  /** Semantic dedup end-to-end: keep one document per connected
    * component of the [[semanticDedupPairs]] graph (min id wins, via
    * [[graft.dedup.Dedup.componentSweep]]'s large-star/small-star
    * alternation — transitive paraphrase chains collapse to one
    * representative, which greedy pair-sweeping would not guarantee).
    */
  def semanticDedupSweep(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nlist: Int = 64,
      nAssign: Int = 1,
      bucketCap: Int = 0,
      seed: Long = 42L,
      trainFraction: Option[Double] = None,
      maxIter: Int = 30
  ): DataFrame =
    graft.dedup.Dedup.componentSweep(
      df,
      semanticDedupPairs(df, idCol, vecCol, threshold, nlist, nAssign, bucketCap, seed, trainFraction),
      idCol,
      maxIter
    )

  /** Embedding drift between two corpus snapshots: per-group L2 shift
    * of the [[centroids]], plus per-side counts — the embedding-space
    * analogue of the profiler's scalar PSI drift. A retrain-data
    * refresh that silently moves a domain's semantic center is exactly
    * the regression this flags.
    *
    * Every centroid coordinate is an exact DECIMAL mean rounded
    * identically on both engines, and the L2 accumulation is a
    * <= dim-term double sum rounded at 6 dp (error ~1e-13 << 5e-7),
    * so the shift is engine-reproducible and oracle-gated. Keys
    * present on only one side surface with a NULL shift — a new or
    * vanished group IS drift signal, not a row to drop.
    *
    * Scale shape: two partial-aggregated groupBys of width
    * |groups| x dim and one join of that same width — independent of
    * either corpus size. Output: key, dim, shift, n_a, n_b.
    */
  def centroidShift(
      a: DataFrame,
      b: DataFrame,
      vecCol: String,
      keyCol: String
  ): DataFrame = {
    def side(df: DataFrame, c: String, n: String) =
      centroids(df, vecCol, keyCol)
        .select(col("key"), col("pos"), col("centroid").as(c), col("n").as(n))
    side(a, "_ca", "n_a")
      .join(side(b, "_cb", "n_b"), Seq("key", "pos"), "full_outer")
      .groupBy("key")
      .agg(
        count(lit(1)).as("dim"),
        round6(sqrt(sum((col("_ca") - col("_cb")) * (col("_ca") - col("_cb")))))
          .as("shift"),
        max(col("n_a")).as("n_a"),
        max(col("n_b")).as("n_b")
      )
  }

  /** Distributed Lloyd's k-means over the FULL table (contrast
    * [[localKMeans]], the driver-side fit over a bounded sample that
    * seeds IVF): `iterations` exact E/M rounds, then the final
    * assignment `(id, cluster, dist)` against the last centroids.
    *
    * Deterministic on any engine, by construction:
    *   - init: the `k` rows with the smallest id, cluster = rank order
    *     (0-based). Ids must be distinct (first-k is then total-order
    *     unique); duplicate vectors are fine.
    *   - E-step: squared L2 via the dot identity |v-c|^2 =
    *     v.v - 2 v.c + c.c with the codegen'd left-to-right
    *     [[dot]] kernel; argmin tie-breaks to the SMALLEST cluster
    *     index (`least` over (dist, cluster) structs).
    *   - M-step: per-dimension mean through DECIMAL(38,10) sums
    *     (order-independent, identical in DuckDB), rounded to 6 dp —
    *     so the centroids handed to the next round are bit-identical
    *     across engines, and FP noise cannot compound over rounds.
    *   - a cluster that loses all members drops out (its label is
    *     never reused; remaining labels stay the init indices).
    *
    * Scale shape: centroids are k x dim driver doubles, broadcast in
    * the task closure — the E-step is a pure scan (no join, no
    * shuffle, whole-stage codegen over k fused dot products); the
    * M-step is ONE exchange of map-side-combined (cluster, pos)
    * partials (k*dim rows per task). Per iteration: one job, one tiny
    * shuffle. The input projection is cached for the iteration jobs;
    * cache lifetime is caller-owned (same contract as [[centroids]]).
    */
  def kMeansAssign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iterations: Int
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val v = df
      .select(col(idCol).as("_id"), col(vecCol).cast("array<double>").as("_v"))
      .persist()
    def nearest(cents: Seq[(Int, Array[Double])]): DataFrame = {
      val vv = dot(col("_v"), col("_v"))
      val candidates = cents.map { case (j, c) =>
        val cc = c.map(x => x * x).sum
        struct(
          (vv - lit(2.0) * dot(col("_v"), typedLit(c.toSeq)) + lit(cc))
            .as("d"),
          lit(j).as("c")
        )
      }
      val best =
        if (candidates.size == 1) candidates.head else least(candidates: _*)
      v.select(
        col("_id"),
        col("_v"),
        best.getField("c").as("_cl"),
        best.getField("d").as("_dist")
      )
    }
    var cents: Seq[(Int, Array[Double])] = v
      .orderBy("_id")
      .limit(k)
      .collect()
      .zipWithIndex
      .map { case (r, j) => (j, r.getSeq[Double](1).toArray) }
      .toSeq
    for (_ <- 1 to iterations) {
      cents = centroids(nearest(cents).select(col("_cl"), col("_v")), "_v", "_cl")
        .collect()
        .groupBy(_.getInt(0))
        .toSeq
        .map { case (cl, rows) =>
          (cl, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray)
        }
        .sortBy(_._1)
    }
    // The cache exists for the ITERATION jobs only — the centroids are
    // now plan-time constants, so the final assignment pass reads the
    // source once like any other scan. Unpersisting here (instead of
    // leaking a corpus-sized cache block per call with no handle to
    // release it) costs exactly that one re-read; repeated calls
    // (grid-searching k, per-snapshot clustering) no longer accumulate
    // pinned corpora until executors evict under pressure.
    v.unpersist(blocking = false)
    nearest(cents).select(
      col("_id").as(idCol),
      col("_cl").as("cluster"),
      round6(col("_dist")).as("dist")
    )
  }

  /** Per-row cosine to the row's OWN group centroid — the embedding
    * sanity filter: a batch of garbage vectors (failed encoder calls,
    * wrong model version, zero embeddings) shows up as rows far from
    * their source/cluster centroid, and the bottom tail of this score
    * is the review/drop queue before any ANN or semantic-dedup stage
    * trusts the column.
    *
    * Scale shape: centroids aggregate to |groups|×dim (DECIMAL-exact
    * partials), fold to |groups| centroid ARRAYS, broadcast back; the
    * per-row dot/norm folds then ride the corpus scan (zip_with +
    * aggregate HOFs, left-to-right double fold — the same arithmetic
    * the brute-force cosine keys pin against DuckDB list_sum). ZERO
    * shuffles of corpus rows. Zero-norm rows or centroids yield NULL
    * sim (flagged, never NaN). Output: idCol, groupCol, sim.
    */
  def centroidCosine(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      vecCol: String
  ): DataFrame = {
    val cents = centroids(df, vecCol, groupCol)
    val cvec = cents
      .groupBy("key")
      .agg(
        transform(
          sort_array(collect_list(struct(col("pos"), col("centroid")))),
          e => e.getField("centroid")
        ).as("_cv")
      )
      .withColumn(
        "_cc",
        aggregate(col("_cv"), lit(0.0), (acc, x) => acc + x * x)
      )
    val dot = aggregate(
      zip_with(col(vecCol), col("_cv"), (a, b) => a.cast("double") * b),
      lit(0.0),
      (acc, x) => acc + x
    )
    val vv = aggregate(
      col(vecCol),
      lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")
    )
    df.join(broadcast(cvec), df(groupCol) === cvec("key"))
      .select(
        col(idCol),
        col(groupCol),
        when(
          vv > 0.0 && col("_cc") > 0.0,
          graft.functions.round6(dot / (sqrt(vv) * sqrt(col("_cc"))))
        ).as("sim")
      )
  }

  /** Per-group embedding centroids in long format:
    * `(key, pos, centroid, n)` — one row per (group, dimension).
    *
    * The class-prototype primitive: centroids feed nearest-centroid
    * classification, IVF coarse quantizers, diversity pruning, and
    * drift monitoring between corpus snapshots.
    *
    * Shape: posexplode → ONE `groupBy(key, pos)` — partial-aggregatable
    * (map-side combine reduces each partition to |groups| × dim rows),
    * a single shuffle whose width is groups × dimensions regardless of
    * corpus size. Per-dimension sums go through DECIMAL(38, 10):
    * decimal addition is exact and order-independent, so the centroid
    * is bit-identical on any engine and any partitioning (double sums
    * would differ in the last ulps between runs).
    */
  def centroids(df: DataFrame, vecCol: String, keyCol: String): DataFrame =
    df.select(col(keyCol).as("key"), posexplode(col(vecCol)))
      .groupBy("key", "pos")
      .agg(
        sum(col("col").cast("double").cast(org.apache.spark.sql.types.DecimalType(38, 10)))
          .as("_s"),
        count(lit(1)).as("n")
      )
      .select(
        col("key"),
        col("pos"),
        round6(col("_s").cast("double") / col("n")).as("centroid"),
        col("n")
      )
}
