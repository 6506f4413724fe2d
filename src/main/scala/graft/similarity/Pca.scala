package graft.similarity

import graft.functions.round6
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-space PCA: an exact distributed covariance block plus a
  * bounded driver-side power iteration — the whitening / dominant-
  * direction primitive for embedding pipelines (e.g. removing the
  * "common direction" before cosine dedup, or projecting to a scree
  * plot for dimensionality decisions).
  *
  * Split mirrors the IVF design: the O(rows) part (covariance sums)
  * is one distributed aggregation; the O(d²) eigen step runs on the
  * driver over the collected block — bounded by dimension choice,
  * never by corpus size (same bounded-driver-math contract as
  * `Similarity.localKMeans`).
  */
object Pca {

  /** Exact population covariance over the chosen `dims` of an
    * array-typed embedding column: `(i, j, n, cov)` for every i <= j
    * pair, population convention (divide by n).
    *
    * Scale shape: ONE aggregation pass, no shuffle of the vectors —
    * the |dims|·(|dims|+3)/2 running sums are map-side-combined and a
    * single reduced row is exploded into the pair table. Per-row
    * products run in double (deterministic IEEE order), the SUMS run
    * through DECIMAL(38,12) so aggregation order cannot move the
    * result — the same cross-engine-exact policy as `Text.bm25Score`.
    * At dim subsets beyond ~100 (5 000+ aggregate columns) run
    * several blocks; each block is an independent single-pass job.
    *
    * Rows with a NULL vector or one too short for `max(dims)` are
    * excluded (documented contract, mirrored by the oracle).
    */
  def covarianceBlock(df: DataFrame, vecCol: String, dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty, "at least one dimension")
    require(dims.distinct.size == dims.size, s"duplicate dims in $dims")
    require(dims.forall(_ >= 0), s"dims must be >= 0, got $dims")
    val ds = dims.sorted
    val maxDim = ds.last
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    def el(i: Int): Column = element_at(col(vecCol), i + 1).cast("double")
    val pairs = for {
      (a, ia) <- ds.zipWithIndex
      b <- ds.drop(ia)
    } yield (a, b)
    val sumAggs = ds.map(i => sum(el(i).cast(dec)).as(s"_s$i"))
    val prodAggs = pairs.map { case (a, b) =>
      sum((el(a) * el(b)).cast(dec)).as(s"_p${a}_$b")
    }
    val aggs = (count(lit(1)).as("_n") +: sumAggs) ++ prodAggs
    // NULL-SLOT rows are excluded too, not just NULL/short vectors: a
    // row with v[a] = NULL would count in _n while sum() skipped its
    // contribution, silently understating every mean and covariance
    // it touches (same drop-dirty-rows contract as fitIvfCentroids).
    val slotOk = ds.map(i => el(i).isNotNull).reduce(_ && _)
    val wide = df
      .where(col(vecCol).isNotNull && size(col(vecCol)) > maxDim && slotOk)
      .agg(aggs.head, aggs.tail: _*)
    val entries = pairs.map { case (a, b) =>
      struct(
        lit(a).as("i"),
        lit(b).as("j"),
        round6(
          col(s"_p${a}_$b").cast("double") / col("_n") -
            (col(s"_s$a").cast("double") / col("_n")) *
            (col(s"_s$b").cast("double") / col("_n"))
        ).as("cov")
      )
    }
    wide
      .select(col("_n"), explode(array(entries: _*)).as("e"))
      .select(col("e.i"), col("e.j"), col("_n").as("n"), col("e.cov"))
  }

  /** Dominant eigenvector of a symmetric matrix by power iteration —
    * DRIVER math over a d x d array (call with a collected
    * [[covarianceBlock]]; bounded by the block size, not the corpus).
    * Deterministic: normalized all-ones start, fixed iteration count,
    * sign fixed so the largest-magnitude component is positive.
    * Returns (unit eigenvector, eigenvalue estimate x'Ax).
    */
  def topComponent(cov: Array[Array[Double]], iters: Int = 200): (Array[Double], Double) = {
    val d = cov.length
    require(d > 0 && cov.forall(_.length == d), "square matrix required")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    var x = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    def mul(v: Array[Double]): Array[Double] = {
      val out = new Array[Double](d)
      var i = 0
      while (i < d) {
        var s = 0.0
        var j = 0
        while (j < d) { s += cov(i)(j) * v(j); j += 1 }
        out(i) = s
        i += 1
      }
      out
    }
    for (_ <- 1 to iters) {
      val y = mul(x)
      val nrm = math.sqrt(y.map(v => v * v).sum)
      // a zero matrix (or x in its null space) has no direction to
      // follow; keep the current unit vector instead of dividing by 0
      if (nrm > 0) x = y.map(_ / nrm)
    }
    val ax = mul(x)
    val eig = x.zip(ax).map { case (a, b) => a * b }.sum
    val k = x.indices.maxBy(i => math.abs(x(i)))
    val signed = if (x(k) < 0) x.map(-_) else x
    (signed, eig)
  }

  /** Collected-and-assembled covariance for [[topComponent]]: runs
    * [[covarianceBlock]] and fills the symmetric d x d matrix, where
    * d = |dims| (matrix indices follow the sorted dims order).
    */
  def fitCovariance(df: DataFrame, vecCol: String, dims: Seq[Int]): Array[Array[Double]] = {
    val ds = dims.sorted
    val idx = ds.zipWithIndex.toMap
    val m = Array.ofDim[Double](ds.size, ds.size)
    val rows = covarianceBlock(df, vecCol, dims).collect()
    require(
      rows.nonEmpty && !rows.head.isNullAt(3) && rows.head.getLong(2) > 0,
      s"no usable vectors: every '$vecCol' is NULL or shorter than ${ds.last + 1}"
    )
    rows.foreach { r =>
      val i = idx(r.getInt(0)); val j = idx(r.getInt(1))
      val c = r.getDouble(3)
      m(i)(j) = c; m(j)(i) = c
    }
    m
  }

  /** Full symmetric eigendecomposition by cyclic Jacobi rotations —
    * DRIVER math over the collected d×d covariance (same bounded
    * contract as [[topComponent]]). Returns (eigenvalues, eigenvectors)
    * sorted by eigenvalue DESCENDING, `vectors(i)` the unit
    * eigenvector for `values(i)`, sign fixed (largest-magnitude
    * component positive) so the decomposition is deterministic.
    */
  def eigSym(
      cov: Array[Array[Double]],
      sweeps: Int = 50
  ): (Array[Double], Array[Array[Double]]) = {
    val d = cov.length
    require(d > 0 && cov.forall(_.length == d), "square matrix required")
    val a = Array.tabulate(d, d)((i, j) => cov(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 1 to sweeps) {
      var off = 0.0
      for (p <- 0 until d; q <- p + 1 until d) off += a(p)(q) * a(p)(q)
      if (off > 1e-30) {
        for (p <- 0 until d; q <- p + 1 until d if math.abs(a(p)(q)) > 1e-18) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          val t =
            math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
              case 0.0 => 1.0 // theta == 0 -> 45-degree rotation
              case x   => x
            }
          val cth = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * cth
          for (k <- 0 until d) {
            val akp = a(k)(p); val akq = a(k)(q)
            a(k)(p) = cth * akp - s * akq
            a(k)(q) = s * akp + cth * akq
          }
          for (k <- 0 until d) {
            val apk = a(p)(k); val aqk = a(q)(k)
            a(p)(k) = cth * apk - s * aqk
            a(q)(k) = s * apk + cth * aqk
          }
          for (k <- 0 until d) {
            val vkp = v(k)(p); val vkq = v(k)(q)
            v(k)(p) = cth * vkp - s * vkq
            v(k)(q) = s * vkp + cth * vkq
          }
        }
      }
    }
    val pairs = (0 until d)
      .map { j =>
        val vec = Array.tabulate(d)(i => v(i)(j))
        val k = vec.indices.maxBy(i => math.abs(vec(i)))
        (a(j)(j), if (vec(k) < 0) vec.map(-_) else vec)
      }
      .sortBy(-_._1)
    (pairs.map(_._1).toArray, pairs.map(_._2).toArray)
  }

  /** Per-dimension DECIMAL-exact means over the chosen dims (the µ of
    * the whitening transform); same row filter as [[covarianceBlock]].
    */
  def fitMeans(df: DataFrame, vecCol: String, dims: Seq[Int]): Array[Double] = {
    val ds = dims.sorted
    val dec = org.apache.spark.sql.types.DecimalType(38, 10)
    val aggs = count(lit(1)).as("_n") +:
      ds.map(i => sum(element_at(col(vecCol), i + 1).cast("double").cast(dec)).as(s"_s$i"))
    // null-slot exclusion: a NULL at a selected dim would count in _n
    // while sum() skipped it — see covarianceBlock
    val slotOk =
      ds.map(i => element_at(col(vecCol), i + 1).isNotNull).reduce(_ && _)
    val r = df
      .where(col(vecCol).isNotNull && size(col(vecCol)) > ds.last && slotOk)
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .head
    val n = r.getLong(0)
    require(
      n > 0,
      s"no usable vectors: every '$vecCol' is NULL or shorter than ${ds.last + 1}"
    )
    ds.indices.map(i => r.getDecimal(i + 1).doubleValue() / n).toArray
  }

  /** PCA whitening: fit covariance + means over `dims`, eigendecompose
    * on the driver, and emit `outCol` = Λ^(-1/2) Vᵀ (x − µ) as a
    * scan-side array column — the decorrelate-and-rescale transform
    * that makes cosine/Euclidean geometry isotropic before semantic
    * dedup or ANN. The d×d weight matrix rides the plan as constants
    * (d codegen'd dot products per row, zero shuffle); `eps` guards
    * the inverse square root against near-null directions.
    *
    * Whitened covariance ≈ identity (spec-pinned).
    */
  def whiten(
      df: DataFrame,
      vecCol: String,
      dims: Seq[Int],
      eps: Double = 1e-9,
      outCol: String = "whitened"
  ): DataFrame = {
    val ds = dims.sorted
    // ONE fit scan: the covariance pass already aggregates every
    // per-dim sum the means need (mu_i = s_i / n) — re-deriving them
    // with fitMeans would scan the corpus a second time
    val (cov, mu) = fitMoments(df, vecCol, dims)
    val (values, vectors) = eigSym(cov)
    val sel = array(ds.map(i => element_at(col(vecCol), i + 1).cast("double")): _*)
    val comps = values.indices.map { j =>
      val w = vectors(j).map(_ / math.sqrt(math.max(values(j), 0.0) + eps))
      val shift = mu.zip(w).map { case (m, x) => m * x }.sum
      Similarity.dot(sel, typedLit(w.toSeq)) - lit(shift)
    }
    df.withColumn(outCol, array(comps: _*))
  }

  /** Covariance AND means from one corpus scan — the shared fit for
    * [[whiten]]: identical math to [[fitCovariance]]/[[fitMeans]]
    * (DECIMAL sums, population covariance, same row filter), but the
    * per-dim sums are read from the covariance pass's own wide row
    * instead of a second aggregation job.
    */
  def fitMoments(
      df: DataFrame,
      vecCol: String,
      dims: Seq[Int]
  ): (Array[Array[Double]], Array[Double]) = {
    val ds = dims.sorted
    val maxDim = ds.last
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    def el(i: Int): Column = element_at(col(vecCol), i + 1).cast("double")
    val pairs = for {
      (a, ia) <- ds.zipWithIndex
      b <- ds.drop(ia)
    } yield (a, b)
    val sumAggs = ds.map(i => sum(el(i).cast(dec)).as(s"_s$i"))
    val prodAggs = pairs.map { case (a, b) =>
      sum((el(a) * el(b)).cast(dec)).as(s"_p${a}_$b")
    }
    val aggs = (count(lit(1)).as("_n") +: sumAggs) ++ prodAggs
    // same null-slot exclusion as covarianceBlock (identical-math contract)
    val slotOk = ds.map(i => el(i).isNotNull).reduce(_ && _)
    val r = df
      .where(col(vecCol).isNotNull && size(col(vecCol)) > maxDim && slotOk)
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .head
    val n = r.getLong(0)
    require(
      n > 0,
      s"no usable vectors: every '$vecCol' is NULL or shorter than ${maxDim + 1}"
    )
    val sums = ds.indices.map(i => r.getDecimal(1 + i).doubleValue()).toArray
    val mu = sums.map(_ / n)
    val idx = ds.zipWithIndex.toMap
    val m = Array.ofDim[Double](ds.size, ds.size)
    pairs.zipWithIndex.foreach { case ((a, b), k) =>
      val p = r.getDecimal(1 + ds.size + k).doubleValue()
      val i = idx(a); val j = idx(b)
      // same rounded-covariance convention as covarianceBlock (the
      // column round6's HALF_UP, not math.rint's HALF_EVEN), so whiten
      // agrees with a fitCovariance pipeline on exact .5 ties
      val c = graft.functions.round6Jvm(p / n - (sums(idx(a)) / n) * (sums(idx(b)) / n))
      m(i)(j) = c; m(j)(i) = c
    }
    (m, mu)
  }

  /** Scan-side projection of the chosen dims onto a constant axis
    * (e.g. the [[topComponent]] eigenvector), optionally mean-centered
    * first: `out = (v[dims] - mean) . axis`. The axis and mean are
    * plan-time constants riding the codegen'd
    * [[Similarity.dot]] kernel — zero shuffle, projection rides the
    * scan like every other scan-side signal.
    */
  def project(
      df: DataFrame,
      vecCol: String,
      dims: Seq[Int],
      axis: Array[Double],
      mean: Option[Array[Double]] = None,
      outCol: String = "pc1"
  ): DataFrame = {
    val ds = dims.sorted
    require(axis.length == ds.size, s"axis length ${axis.length} != dims ${ds.size}")
    mean.foreach(m => require(m.length == ds.size, "mean length != dims"))
    val sel = array(ds.map(i => element_at(col(vecCol), i + 1).cast("double")): _*)
    val raw = Similarity.dot(sel, typedLit(axis.toSeq))
    val centered = mean match {
      case Some(m) =>
        val shift = m.zip(axis).map { case (a, b) => a * b }.sum
        raw - lit(shift)
      case None => raw
    }
    df.withColumn(outCol, round6(centered))
  }
}
