package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** IVF-PQ at rest: the PQ sidecar on a persisted IVF index. The float
  * cells must stay byte-identical (the sidecar is a parallel table),
  * probes must prune to the probed cell partitions in BOTH the codes
  * scan and the rerank scan, a saturated rerank must reproduce the
  * float probe exactly, and a stale sidecar (cells changed underneath)
  * must fail loudly instead of serving codes for vectors that moved.
  */
class IvfPqSpec extends SparkSpec {
  import spark.implicits._

  private def clustered = (
    (0 until 200).map(i => (i.toLong, Array(10.0 + i * 0.01, 0.1 * (i % 5), 0.0))) ++
      (200 until 400).map(i => (i.toLong, Array(0.0, 10.0 + i * 0.01, 0.1 * (i % 5))))
  ).toDF("vec_id", "embedding")

  private def freshIndex(): String = {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    Similarity.ivfWriteIndex(clustered, "vec_id", "embedding", dir, nlist = 4)
    dir
  }

  test("saturated-rerank PQ probe equals the float probe; cells untouched by attach") {
    val dir = freshIndex()
    val before = spark.read.parquet(s"$dir/cells").inputFiles.sorted.toSeq
    Similarity.ivfAttachPq(spark, dir, m = 3, ksub = 8)
    assert(spark.read.parquet(s"$dir/cells").inputFiles.sorted.toSeq === before,
      "attaching the sidecar must not touch the float cells")
    val queries = clustered.where($"vec_id".isin(0L, 250L))
    val viaPq = Similarity
      .ivfPqQueryIndex(queries, "vec_id", "embedding", dir, k = 5,
        nprobe = 2, rerankFactor = 100) // 100*5 >= any probed-cell population
      .orderBy("query_id", "rank").collect().toSeq
    val viaFloat = Similarity
      .ivfQueryIndex(queries, "vec_id", "embedding", dir, k = 5, nprobe = 2)
      .orderBy("query_id", "rank").collect().toSeq
    assert(viaPq === viaFloat)
  }

  test("attaching PQ to two writes of the same index trains identical codebooks and probes") {
    // each write names its part files afresh, so a cells scan lists
    // them in a different order; the codebook sample must not follow it
    val (a, b) = (freshIndex(), freshIndex())
    Seq(a, b).foreach(Similarity.ivfAttachPq(spark, _, m = 3, ksub = 8))
    def books(dir: String) =
      spark.read.parquet(s"$dir/pq/books").orderBy("m_idx", "k_idx").collect().toSeq
    assert(books(a) === books(b))
    val queries = clustered.where($"vec_id".isin(0L, 250L))
    def probe(dir: String) = Similarity
      .ivfPqQueryIndex(queries, "vec_id", "embedding", dir, k = 5, nprobe = 2)
      .orderBy("query_id", "rank").collect().toSeq
    assert(probe(a) === probe(b))
  }

  test("both the codes scan and the rerank scan prune to probed cell partitions") {
    val dir = freshIndex()
    Similarity.ivfAttachPq(spark, dir, m = 3, ksub = 8)
    val df = Similarity.ivfPqQueryIndex(
      clustered.where($"vec_id" === 0L), "vec_id", "embedding", dir, k = 3, nprobe = 1)
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val scans = plan.linesIterator
      .filter(l => (l.contains("/pq/codes") || l.contains("/cells")) &&
        l.contains("PartitionFilters"))
      .toSeq
    assert(scans.size >= 2, s"expected codes + cells scans, got:\n$plan")
    scans.foreach { l =>
      assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(l).isDefined,
        s"scan without a cell partition filter: $l")
    }
    assert(plan.contains("pq_adc_dot"), "scoring must be the native ADC expression")
  }

  test("a stale sidecar fails loudly after the index changes; re-attach recovers") {
    val dir = freshIndex()
    Similarity.ivfAttachPq(spark, dir, m = 3, ksub = 8)
    val queries = clustered.where($"vec_id" === 0L)
    assert(Similarity
      .ivfPqQueryIndex(queries, "vec_id", "embedding", dir, k = 3).collect().nonEmpty)
    Similarity.ivfAppendToIndex(
      Seq((1000L, Array(10.0, 0.0, 0.0))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqQueryIndex(queries, "vec_id", "embedding", dir, k = 3)
    }
    assert(e.getMessage.contains("stale PQ sidecar"))
    Similarity.ivfAttachPq(spark, dir, m = 3, ksub = 8)
    val out = Similarity
      .ivfPqQueryIndex(queries, "vec_id", "embedding", dir, k = 1,
        nprobe = 1, rerankFactor = 300)
      .select("neighbor_id").as[Long].collect()
    // the appended collinear doc (id 1000 > 0 loses the cosine-1.0 tie
    // to lower corpus ids, but must be VISIBLE through the sidecar)
    val top400 = Similarity
      .ivfPqQueryIndex(queries, "vec_id", "embedding", dir, k = 400,
        nprobe = 1, rerankFactor = 300)
      .select("neighbor_id").as[Long].collect()
    assert(out.nonEmpty && top400.contains(1000L))
  }

  test("a zero-norm corpus vector never enters the codes table or any shortlist") {
    // without the _cn > 0 filter at attach time, the zero vector's
    // approx score is Infinity (x/0 in double) and its rerank sim is
    // NaN — both of which SORT FIRST descending and displace a real
    // neighbor at rank 1
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-zero").toString
    val withZero = clustered.union(
      Seq((9000L, Array(0.0, 0.0, 0.0))).toDF("vec_id", "embedding"))
    Similarity.ivfWriteIndex(withZero, "vec_id", "embedding", dir, nlist = 4)
    Similarity.ivfAttachPq(spark, dir, m = 3, ksub = 8)
    assert(!spark.read.parquet(s"$dir/pq/codes")
      .where($"neighbor_id" === 9000L).head(1).nonEmpty)
    val out = Similarity
      .ivfPqQueryIndex(clustered.where($"vec_id" === 0L), "vec_id", "embedding",
        dir, k = 5, nprobe = 4)
      .collect()
    assert(out.nonEmpty)
    assert(!out.exists(_.getAs[Long]("neighbor_id") == 9000L))
    assert(out.forall(r => !r.getAs[Double]("sim").isNaN))
  }

  test("external-id collision is served by default, excluded for self-ANN") {
    val dir = freshIndex()
    Similarity.ivfAttachPq(spark, dir, m = 3, ksub = 8)
    val external = Seq((0L, Array(20.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val out = Similarity
      .ivfPqQueryIndex(external, "vec_id", "embedding", dir, k = 5, nprobe = 2)
      .select("neighbor_id").as[Long].collect()
    assert(out.contains(0L))
    val self = Similarity
      .ivfPqQueryIndex(clustered.where($"vec_id" === 0L), "vec_id", "embedding",
        dir, k = 5, nprobe = 2, excludeSelfMatch = true)
      .select("neighbor_id").as[Long].collect()
    assert(!self.contains(0L))
  }
}
