package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f), "x"),
    (2L, Array(0.9f, 0.1f, 0.0f), "x"),
    (3L, Array(0.0f, 1.0f, 0.0f), "y"),
    (4L, Array(0.0f, 0.95f, 0.05f), "y"),
    (5L, Array(-1.0f, 0.0f, 0.0f), "x")
  ).toDF("vec_id", "embedding", "label")

  test("centroid shift measures planted drift and keeps one-sided groups") {
    val snapA = Seq(
      (1L, Array(1.0f, 0.0f), "g"),
      (2L, Array(3.0f, 0.0f), "g"),
      (3L, Array(5.0f, 5.0f), "lonely")
    ).toDF("vec_id", "embedding", "label")
    val snapB = Seq(
      (4L, Array(2.0f, 4.0f), "g"),
      (5L, Array(2.0f, 2.0f), "g")
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity
      .centroidShift(snapA, snapB, "embedding", "label")
      .orderBy("key")
      .collect()
    assert(out.length === 2)
    val g = out(0)
    // A centroid (2,0), B centroid (2,3) -> L2 shift exactly 3
    assert(g.getAs[String]("key") === "g")
    assert(g.getAs[Long]("dim") === 2L)
    assert(g.getAs[Double]("shift") === 3.0)
    assert(g.getAs[Long]("n_a") === 2L && g.getAs[Long]("n_b") === 2L)
    val lonely = out(1)
    // vanished group: NULL shift is the signal, the row must survive
    assert(lonely.getAs[String]("key") === "lonely")
    assert(lonely.isNullAt(lonely.fieldIndex("shift")))
    assert(lonely.isNullAt(lonely.fieldIndex("n_b")))
  }

  test("dot and cosine match manual math") {
    val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    val row = df.select(
      Similarity.dot($"a", $"b").as("d"),
      Similarity.cosine($"a", $"b").as("c")
    ).collect().head
    assert(math.abs(row.getAs[Double]("d") - 11.0) < 1e-9)
    val expected = 11.0 / (math.sqrt(5.0) * math.sqrt(25.0))
    assert(math.abs(row.getAs[Double]("c") - expected) < 1e-9)
  }

  test("brute-force top-k ranks nearest first with deterministic tie-break") {
    val out = Similarity
      .bruteForceTopK(vecs.where($"vec_id" === 1L), vecs, "vec_id", "embedding", 2)
      .orderBy("rank")
      .collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("neighbor_id") == 2L) // most similar to e1
    assert(out(0).getAs[Double]("sim") > 0.99)
    assert(out(1).getAs[Long]("neighbor_id") == 3L || out(1).getAs[Long]("neighbor_id") == 4L)
  }

  test("lsh top-k buckets colinear vectors together and never pairs opposites") {
    val out = Similarity
      .lshTopK(vecs.where($"vec_id" === 1L), vecs, "vec_id", "embedding", 5, nPlanes = 4)
      .collect()
    val neighbors = out.map(_.getAs[Long]("neighbor_id")).toSet
    assert(!neighbors.contains(5L)) // opposite vector lands in the complement bucket
    assert(out.forall(_.getAs[Double]("sim") >= -1.0))
  }

  test("ANN entry points exclude zero-norm vectors instead of letting NaN rank first") {
    // A zero embedding (failed encoder call) makes cosine NaN, and
    // Spark sorts NaN ABOVE every number — pre-fix it would be the #1
    // "neighbor" of every query in brute/lsh/ivf. It must simply not
    // appear; queries that are themselves zero produce no rows.
    val dirty = vecs.union(
      Seq((99L, Array(0.0f, 0.0f, 0.0f), "z")).toDF("vec_id", "embedding", "label"))
    val q = dirty.where($"vec_id" === 1L)
    val brute =
      Similarity.bruteForceTopK(q, dirty, "vec_id", "embedding", 10).collect()
    assert(brute.nonEmpty && !brute.exists(_.getAs[Long]("neighbor_id") == 99L))
    assert(brute.forall(r => !r.getAs[Double]("sim").isNaN))
    val lsh = Similarity
      .lshTopK(q, dirty, "vec_id", "embedding", 10, nPlanes = 4)
      .collect()
    assert(!lsh.exists(_.getAs[Long]("neighbor_id") == 99L))
    val ivf = Similarity
      .ivfTopK(q, dirty, "vec_id", "embedding", 10, nlist = 1, nprobe = 1)
      .collect()
    assert(ivf.nonEmpty && !ivf.exists(_.getAs[Long]("neighbor_id") == 99L))
    // zero-norm QUERY: no rows, not a frame of NaNs
    val zq = dirty.where($"vec_id" === 99L)
    assert(Similarity.bruteForceTopK(zq, dirty, "vec_id", "embedding", 3).isEmpty)
  }

  test("lshTopK derives dimensionality robustly: leading NULL vector, bounded planes") {
    // head()-based dim derivation would NPE on a NULL first row (or
    // silently hash everything on a short prefix for a ragged one)
    val withNull = Seq((0L, null.asInstanceOf[Array[Float]], "z"))
      .toDF("vec_id", "embedding", "label")
      .union(vecs)
    val out = Similarity
      .lshTopK(
        withNull.where($"vec_id" === 1L),
        withNull,
        "vec_id",
        "embedding",
        5,
        nPlanes = 4
      )
      .collect()
    assert(out.nonEmpty && !out.exists(_.getAs[Long]("neighbor_id") == 0L))
    // > 63 sign bits cannot pack into a long — refused, not scrambled
    intercept[IllegalArgumentException](
      Similarity.lshBucket(col("embedding"), nPlanes = 64, dim = 3))
  }

  test("lshTopK explicit dim skips the plan-time corpus scan") {
    // A corpus whose vector column THROWS when evaluated: the derived-
    // dim fallback runs max(size(vec)) at plan-construction time and
    // must hit the error; with the dim supplied, construction runs no
    // job at all (the production fast path — at 100 TB the fallback's
    // aggregate is a full corpus-column pass before the query starts).
    val poisoned = vecs.select(
      $"vec_id",
      expr("raise_error('corpus scanned at plan time')")
        .cast("array<float>")
        .as("embedding")
    )
    val q = vecs.where($"vec_id" === 1L)
    intercept[Exception](
      Similarity.lshTopK(q, poisoned, "vec_id", "embedding", 3, nPlanes = 4))
    // explicit dim: plan construction touches nothing
    Similarity.lshTopK(
      q, poisoned, "vec_id", "embedding", 3, nPlanes = 4, dim = Some(3))
    intercept[IllegalArgumentException](
      Similarity.lshTopK(q, vecs, "vec_id", "embedding", 3, dim = Some(0)))
    // and the supplied dim produces the same rows as the derived one
    val derived = Similarity
      .lshTopK(q, vecs, "vec_id", "embedding", 5, nPlanes = 4)
      .orderBy("rank").collect().toSeq
    val explicit = Similarity
      .lshTopK(q, vecs, "vec_id", "embedding", 5, nPlanes = 4, dim = Some(3))
      .orderBy("rank").collect().toSeq
    assert(derived === explicit)
  }

  test("lshTopK explicit dim fails the query on a longer vector instead of hashing a prefix") {
    val q = vecs.where($"vec_id" === 1L)
    // every vector is 3-dim: dim = 2 would hash on the first two
    // components only — refused when the query runs, not at plan time
    val short = Similarity.lshTopK(q, vecs, "vec_id", "embedding", 3, nPlanes = 4, dim = Some(2))
    val ex = intercept[Exception](short.collect())
    assert(ex.getMessage.contains("more than dim = 2"))
    // a query-side vector longer than dim fails the same way
    val longQ = Seq((9L, Array(1.0f, 0.0f, 0.0f, 0.5f), "q")).toDF("vec_id", "embedding", "label")
    intercept[Exception](
      Similarity.lshTopK(longQ, vecs, "vec_id", "embedding", 3, nPlanes = 4, dim = Some(3)).collect())
    // dim equal to the vector length passes untouched
    assert(Similarity.lshTopK(q, vecs, "vec_id", "embedding", 3, nPlanes = 4, dim = Some(3))
      .collect().nonEmpty)
  }

  test("zero-norm exclusion filters stay ABOVE the norm projections") {
    // The r13 regression: a plain `.where(_cn > 0)` was rewritten
    // through the Project by predicate pushdown, re-evaluating the
    // whole quantize+norm pipeline once in the Filter and again in the
    // Project (2.4x on the quantized scan). filteredNorm pins the
    // filter above; no optimized Filter may contain the O(dim) fold.
    for (
      df <- Seq(
        Similarity.quantizedTopK(vecs.limit(2), vecs, "vec_id", "embedding", 3),
        Similarity.bruteForceTopK(vecs.limit(2), vecs, "vec_id", "embedding", 3),
        Similarity.ivfTopK(vecs.limit(2), vecs, "vec_id", "embedding", 3, nlist = 1),
        Similarity.pqTopK(vecs.limit(2), vecs, "vec_id", "embedding", 3, m = 3, ksub = 2)
      )
    ) {
      val optimized = df.queryExecution.optimizedPlan
      val offenders = optimized.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.toString.contains("dot_product") =>
          f
      }
      assert(
        offenders.isEmpty,
        s"norm fold leaked into a Filter (pushdown re-evaluation):\n$optimized"
      )
    }
  }

  test("multi-probe lsh recall is a superset of single-probe") {
    val rnd = new scala.util.Random(5)
    val cloud = (0 until 200).map { i =>
      (i.toLong, Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat))
    }.toDF("vec_id", "embedding")
    val qs = cloud.where($"vec_id" < 10)
    def hits(multi: Boolean) = Similarity
      .lshTopK(qs, cloud, "vec_id", "embedding", 10, nPlanes = 6, multiProbe = multi)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toSet
    val single = hits(multi = false)
    val multi = hits(multi = true)
    assert(multi.size > single.size) // flipped-bit buckets add candidates
    // single-probe results that survive ranking stay ranked correctly
    assert(single.map(_._1).subsetOf(multi.map(_._1)))
  }

  test("ivf top-k recalls the nearest neighbor within the probed cells") {
    // two well-separated clusters; nlist=2 must split them, so probing
    // 1 cell still recalls the true nearest neighbor
    val clustered = (
      (0 until 20).map(i => (i.toLong, Array(10.0f + i * 0.01f, 0.1f * (i % 3), 0.0f))) ++
        (20 until 40).map(i => (i.toLong, Array(0.0f, 10.0f + i * 0.01f, 0.1f * (i % 3))))
    ).toDF("vec_id", "embedding")
    val out = Similarity
      .ivfTopK(clustered.where($"vec_id" === 0L), clustered, "vec_id", "embedding", 3, nlist = 2, nprobe = 1)
      .orderBy("rank")
      .collect()
    assert(out.nonEmpty)
    val bf = Similarity
      .bruteForceTopK(clustered.where($"vec_id" === 0L), clustered, "vec_id", "embedding", 3)
      .orderBy("rank")
      .collect()
    // top-1 agrees with brute force (same cluster, same cell)
    assert(out.head.getAs[Long]("neighbor_id") == bf.head.getAs[Long]("neighbor_id"))
    // ivf never returns a cross-cluster neighbor when probing one cell
    assert(out.forall(_.getAs[Long]("neighbor_id") < 20L))
  }

  test("ivf plans carry no ScalaUDF — cell assignment is the native expression") {
    val clustered = (0 until 40)
      .map(i => (i.toLong, Array(i.toFloat, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity
      .ivfTopK(clustered.limit(2), clustered, "vec_id", "embedding", 3, nlist = 4, nprobe = 2)
    val plans = Seq(out.queryExecution.optimizedPlan, out.queryExecution.analyzed)
    val hasUdf = plans.exists(_.collect { case p =>
      p.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]))
    }.exists(identity))
    assert(!hasUdf, "IVF plan still contains a ScalaUDF node")
    // the optimized plan over a local Seq collapses to LocalRelation
    // (the expression ran at plan time — itself proof it's native and
    // foldable-safe); the analyzed plan must carry the expression node
    assert(out.queryExecution.analyzed.toString.contains("nearest_cells"))
  }

  test("ivf fit and scan tolerate dirty embeddings the same way") {
    // null vector, null slot, ragged short vector — all must survive
    // the fit (dropped from the sample) and map to NULL cell scan-side
    val dirty = Seq(
      (100L, null.asInstanceOf[Array[java.lang.Float]]),
      (101L, Array[java.lang.Float](1.0f, null, 0.0f)),
      (102L, Array[java.lang.Float](5.0f))
    ).toDF("vec_id", "embedding")
    val clean = (0 until 20)
      .map(i => (i.toLong, Array[java.lang.Float](10.0f + i, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val corpus = clean.unionByName(dirty)
    val out = Similarity
      .ivfTopK(clean.limit(1), corpus, "vec_id", "embedding", 5, nlist = 2, nprobe = 2)
      .collect()
    assert(out.nonEmpty)
    // dirty rows have no cell, so they can never be returned as neighbors
    assert(out.forall(_.getAs[Long]("neighbor_id") < 100L))
  }

  test("nearestCells kernel: ragged/null-slot inputs yield null, ties break low") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val cents = Array(0.0, 0.0, 4.0, 0.0, 0.0, 4.0) // 3 centroids, dim 2
    def run(v: Array[java.lang.Double], take: Int) =
      graft.functions.HashKernels.nearestCells(
        new GenericArrayData(v.map(x => if (x == null) null else x.doubleValue())),
        cents, 2, take)
    assert(run(Array(1.0), 1) == null) // ragged
    assert(run(Array(null, 1.0), 1) == null) // null slot
    val two = run(Array(0.0, 0.0), 2).toIntArray().toSeq
    assert(two == Seq(0, 1) || two == Seq(0, 2)) // nearest first; tie (cells 1,2) breaks low
    assert(two.head == 0 && two(1) == 1)
    // extra elements beyond dim are ignored
    assert(run(Array(4.0, 0.0, 99.0), 1).toIntArray().toSeq == Seq(1))
  }

  test("int8 quantization bounds reconstruction error and preserves top-k ranking") {
    val rnd = new scala.util.Random(5)
    val dim = 32
    val embs = (0L until 60L).map { i =>
      (i, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    }.toDF("vec_id", "embedding")
    // per-element reconstruction error <= scale/2
    val errs = embs
      .select($"embedding", Similarity.quantizeInt8($"embedding").as("z"))
      .collect()
      .map { r =>
        val v = r.getSeq[Float](0)
        val scale = r.getStruct(1).getDouble(0)
        val q = r.getStruct(1).getSeq[Int](1)
        v.zip(q).map { case (x, qi) => math.abs(x - qi * scale) }.max -> scale
      }
    errs.foreach { case (maxErr, scale) => assert(maxErr <= scale / 2 + 1e-12) }
    // quantized top-5 recalls most of the exact top-5
    val exact = Similarity
      .bruteForceTopK(embs.where($"vec_id" < 5), embs, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val quant = Similarity
      .quantizedTopK(embs.where($"vec_id" < 5), embs, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"quantized recall $recall")
    // zero vector quantizes to all-zero, no NaN scale blowup
    val z = Seq((99L, Array.fill(dim)(0f))).toDF("vec_id", "embedding")
      .select(Similarity.quantizeInt8($"embedding").as("z")).collect().head.getStruct(0)
    assert(z.getSeq[Int](1).forall(_ == 0))
  }

  test("measured recall@5 on planted near-duplicate clusters: LSH tables and IVF vs brute force") {
    // ANN's contract is finding vectors that ARE close. Plant 20
    // clusters of 8 high-cosine copies (base + small noise) — the
    // regime LSH/IVF exist for. (The driver's synthetic embeddings
    // have top-10 cosines of only ~0.3, where no sublinear method can
    // win — measured and documented rather than asserted against.)
    val rnd = new scala.util.Random(7)
    def base() = Array.fill(64)(rnd.nextGaussian())
    val vecs = (0 until 20).flatMap { c =>
      val b = base()
      (0 until 8).map { j =>
        val noisy = b.map(_ + 0.08 * rnd.nextGaussian())
        ((c * 8 + j).toLong, noisy.map(_.toFloat))
      }
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val queries = emb.where($"vec_id" % 8 === 0) // one probe per cluster
    def topSet(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
      .groupBy(_._1)
      .view
      .mapValues(_.map(_._2).toSet)
      .toMap
    val exact = topSet(
      Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
    )
    def recall(approx: Map[Long, Set[Long]]): Double = {
      val per = exact.map { case (q, t) =>
        approx.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }
      per.sum / per.size
    }
    val lsh1 = recall(
      topSet(Similarity.lshTopK(queries, emb, "vec_id", "embedding", k = 5))
    )
    val lsh4 = recall(
      topSet(
        Similarity.lshTopK(queries, emb, "vec_id", "embedding", k = 5, nTables = 4)
      )
    )
    val ivf = recall(
      topSet(Similarity.ivfTopK(queries, emb, "vec_id", "embedding", k = 5))
    )
    // deterministic (seeded data, hash-derived hyperplanes, seeded
    // k-means): pin quality floors so a blocking regression is caught
    assert(lsh4 >= 0.9, s"4-table LSH recall@5 degraded: $lsh4")
    assert(lsh4 >= lsh1, s"more tables must not lose recall: $lsh4 < $lsh1")
    assert(ivf >= 0.9, s"IVF recall@5 degraded: $ivf")
  }

  test("cosinePairs blocks by key and emits each pair once above threshold") {
    val pairs = Similarity
      .cosinePairs(vecs, "vec_id", "embedding", "label", 0.5)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSet
    assert(pairs == Set((1L, 2L), (3L, 4L))) // within-label similar pairs only
  }

  test("centroids compute per-group element-wise means in long format") {
    import spark.implicits._
    val vecs = Seq(
      (1L, "a", Array(1.0f, 2.0f)),
      (2L, "a", Array(3.0f, 6.0f)),
      (3L, "b", Array(10.0f, 0.0f))
    ).toDF("id", "cls", "embedding")
    val got = Similarity
      .centroids(vecs, "embedding", "cls")
      .orderBy("key", "pos")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    assert(
      got.toSeq == Seq(("a", 0, 2.0, 2L), ("a", 1, 4.0, 2L), ("b", 0, 10.0, 1L), ("b", 1, 0.0, 1L)))
    // partitioning must not change a single bit (decimal sums)
    val re = Similarity
      .centroids(vecs.repartition(7), "embedding", "cls")
      .orderBy("key", "pos")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    assert(re.sameElements(got))
  }

  test("crossCosineAbove keeps colliding ids across independent corpora by default") {
    // Two INDEPENDENT tables that happen to share id 1 on near-identical
    // vectors: the collision is a genuine contamination hit, not a
    // self-pair, and must survive the default (no same-id exclusion).
    val bench = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(0.99f, 0.01f)),
      (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val defaultPairs = Similarity
      .crossCosineAbove(bench, corpus, "vec_id", "embedding", 0.9)
      .collect()
      .map(r => (r.getAs[Long]("id_bench"), r.getAs[Long]("id_corpus")))
    assert(defaultPairs.toSeq == Seq((1L, 1L)))
    val excluded = Similarity
      .crossCosineAbove(bench, corpus, "vec_id", "embedding", 0.9, excludeSameId = true)
      .collect()
    assert(excluded.isEmpty) // subset-of-corpus mode drops the self id
  }

  test("crossCosineAbove never flags zero-norm embeddings") {
    // cosine with a zero vector is 0/0 = NaN, and Spark sorts NaN above
    // every number — without the scan-side norm guard the zero vector
    // would pass `sim >= threshold` against ALL counterparts.
    val bench = Seq((10L, Array(0.0f, 0.0f)), (11L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (20L, Array(1.0f, 0.0f)),
      (21L, Array(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity
      .crossCosineAbove(bench, corpus, "vec_id", "embedding", 0.5)
      .collect()
      .map(r => (r.getAs[Long]("id_bench"), r.getAs[Long]("id_corpus")))
    assert(pairs.toSeq == Seq((11L, 20L)))
  }

  test("centroidCosine flags the planted outlier; zero vectors are NULL, not NaN") {
    // group "a": three near-identical vectors + one pointing away; the
    // outlier's cosine-to-centroid must be the group minimum.
    val df = Seq(
      (1L, "a", Array(1.0f, 0.01f)),
      (2L, "a", Array(1.0f, -0.01f)),
      (3L, "a", Array(0.99f, 0.02f)),
      (4L, "a", Array(-0.5f, 0.9f)), // outlier
      (5L, "b", Array(0.0f, 0.0f)) // zero vector -> NULL sim
    ).toDF("id", "g", "v")
    val got = Similarity
      .centroidCosine(df, "g", "id", "v")
      .orderBy("id")
      .collect()
    val sims = got.take(4).map(_.getAs[Double]("sim"))
    assert(sims.take(3).forall(_ > 0.9))
    assert(sims(3) < sims.take(3).min)
    assert(got(4).isNullAt(got(4).fieldIndex("sim")))
    // partitioning invariance: DECIMAL centroid sums + ordered folds
    val re = Similarity
      .centroidCosine(df.repartition(7), "g", "id", "v")
      .orderBy("id")
      .collect()
    assert(re.map(_.toSeq).toSeq == got.map(_.toSeq).toSeq)
  }

  test("mmrTopK diversifies: a near-duplicate of the first pick is demoted below a distinct candidate") {
    // query [1,0]; id1/id2 near-identical and most relevant, id3
    // relevant but pointing away, id4 least relevant.
    //   pure top-3 by cosine: 1, 2, 3
    //   MMR λ=0.5: step1 -> 1; step2: id2's sim-to-1 ≈ 1 wipes its
    //   relevance (score ≈ −0.005) while id3 keeps 0.5·(0.8 − 0.707)
    //   > 0 -> 3; step3: id2 (−0.005) still beats id4 (0.6 − 0.707).
    val corpus = Seq(
      (1L, Array(0.99f, 0.141f)),
      (2L, Array(0.99f, 0.1411f)),
      (3L, Array(0.8f, -0.6f)),
      (4L, Array(0.6f, 0.8f))
    ).toDF("vec_id", "embedding")
    val queries = Seq((100L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity
      .mmrTopK(queries, corpus, "vec_id", "embedding", k = 3, candidates = 4, lambda = 0.5)
      .orderBy("rank")
      .collect()
    assert(got.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 3L, 2L))
    assert(got.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
    // rel carries the round6'd candidate-stage cosine
    assert(got(0).getAs[Double]("rel") > 0.98)
    assert(got(1).getAs[Double]("rel") == 0.8)
    // step-2 score is relevance minus redundancy, strictly below raw rel/2
    assert(got(1).getAs[Double]("mmr_score") < 0.5 * 0.8)
    // partitioning invariance: collect_list order must not matter
    val re = Similarity
      .mmrRerank(
        Similarity
          .bruteForceTopK(queries, corpus.repartition(5), "vec_id", "embedding", 4)
          .repartition(3),
        corpus,
        "vec_id",
        "embedding",
        k = 3,
        lambda = 0.5
      )
      .orderBy("rank")
      .collect()
    assert(
      re.map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getInt(4))).toSeq ==
        got.map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getInt(4))).toSeq
    )
    // k beyond the candidate pool: emit all candidates, ranks dense
    val all = Similarity
      .mmrTopK(queries, corpus, "vec_id", "embedding", k = 10, candidates = 4, lambda = 0.5)
      .collect()
    assert(all.length == 4)
  }

  test("MmrSelect skips NULL candidates instead of crashing the task") {
    // a corpus outer-join can leave NULL embeddings (or whole NULL
    // entries) on the candidate array; the kernel must skip them —
    // never NPE, never score the unscorable
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val entry = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("rel", DoubleType, nullable = true),
      StructField("vec", ArrayType(FloatType, containsNull = true), nullable = true)
    ))
    val schema = StructType(Seq(
      StructField("q", LongType, nullable = false),
      StructField("c", ArrayType(entry, containsNull = true), nullable = false)
    ))
    val rows = Seq(Row(1L, Seq(
      Row(1L, 0.9, Seq(1.0f, 0.0f)),
      null, // whole entry NULL
      Row(2L, 0.8, null), // NULL embedding
      Row(null, 0.7, Seq(0.0f, 1.0f)), // NULL id
      Row(3L, 0.5, Seq(0.6f, null)), // NULL vector element
      Row(5L, Double.NaN, Seq(1.0f, 1.0f)), // NaN relevance: would lock rank 1
      Row(4L, 0.4, Seq(0.0f, 1.0f)) // valid
    )))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val got = df
      .select(
        col("q"),
        explode(graft.functions.mmrExpressions.mmrSelect(col("c"), 3, 0.5)).as("r")
      )
      .select(col("r.neighbor_id"), col("r.rank"))
      .orderBy("rank")
      .collect()
    // only the two fully-populated candidates survive
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 4L))
    assert(got.map(_.getInt(1)).toSeq == Seq(1, 2))
  }
}
