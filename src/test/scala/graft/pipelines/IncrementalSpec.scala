package graft.pipelines

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Checkpoint/restart contract for multi-day prepares: commit markers
  * gate visibility, re-runs are idempotent and skip committed work,
  * and each batch dedups against everything previously KEPT.
  */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private def prose(words: Seq[String]): String =
    Iterator.continually(words).flatten.take(60).mkString(" ")

  // two distinct rule-passing English documents
  private val textA = prose(Seq("the", "quick", "brown", "fox", "and",
    "the", "lazy", "dog", "walked", "over", "a", "hill"))
  private val textB = prose(Seq("a", "small", "boat", "sailed", "on",
    "the", "wide", "river", "and", "it", "was", "calm"))

  test("markers gate visibility; re-runs skip; later batches dedup against kept") {
    val root = java.nio.file.Files.createTempDirectory("increm").toString
    val b1 = Seq((1L, textA), (2L, "short text only")).toDF("doc_id", "text")
    assert(Incremental.prepareBatch(b1, root, "2026-01-01") === true)
    assert(Incremental.isCommitted(spark, root, "2026-01-01"))
    assert(Incremental.prepareBatch(b1, root, "2026-01-01") === false,
      "a committed batch must be skipped, not recomputed")
    assert(Incremental.committedBatches(spark, root) === Seq("2026-01-01"))

    // batch 2: a prior-dup of batch 1's kept doc, a fresh doc, a
    // rule-failed doc, and a second in-batch copy of the prior-dup
    val b2 = Seq(
      (10L, textA), // duplicate_prior (kept by batch 1)
      (11L, textB), // kept
      (12L, "short text only"), // too_short — rule reason wins
      (13L, textA) // within-batch duplicate of 10 (rn=2)
    ).toDF("doc_id", "text")
    assert(Incremental.prepareBatch(b2, root, "2026-01-02") === true)
    val out2 = spark.read
      .parquet(s"$root/batches/batch=2026-01-02")
      .orderBy("doc_id")
      .collect()
    assert(out2.map(_.getAs[String]("drop_reason")).toSeq ===
      Seq("duplicate_prior", "kept", "too_short", "duplicate"))

    // the prepared corpus is exactly the kept rows of committed batches
    val corpus = Incremental.preparedCorpus(spark, root)
      .select("batch", "doc_id").as[(String, Long)].collect().toSet
    assert(corpus === Set(("2026-01-01", 1L), ("2026-01-02", 11L)))

    // kept fingerprints are disjoint across batches by construction
    val fp1 = spark.read.parquet(s"$root/fingerprints/batch=2026-01-01")
      .as[String].collect().toSet
    val fp2 = spark.read.parquet(s"$root/fingerprints/batch=2026-01-02")
      .as[String].collect().toSet
    assert(fp1.nonEmpty && fp2.nonEmpty && fp1.intersect(fp2).isEmpty)

    // per-batch loss report surfaces the cross-batch dedup line
    val stats = Incremental.funnelStatsByBatch(spark, root)
      .as[(String, String, Long)].collect().toSeq
    assert(stats.contains(("2026-01-02", "duplicate_prior", 1L)))
    assert(stats.contains(("2026-01-01", "kept", 1L)))
  }

  test("a crashed (uncommitted) batch is invisible and the re-run restores it") {
    val root = java.nio.file.Files.createTempDirectory("increm2").toString
    val b1 = Seq((1L, textA)).toDF("doc_id", "text")
    val b2 = Seq((2L, textB)).toDF("doc_id", "text")
    assert(Incremental.prepareBatch(b1, root, "d1"))
    assert(Incremental.prepareBatch(b2, root, "d2"))
    // simulate a crash between the parquet writes and the marker: the
    // directories exist, the marker does not
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/_manifest/d2"), false)
    assert(!Incremental.isCommitted(spark, root, "d2"))
    assert(Incremental.committedBatches(spark, root) === Seq("d1"))
    assert(Incremental.preparedCorpus(spark, root)
      .select("doc_id").as[Long].collect().toSeq === Seq(1L))
    // cleanup removes exactly the uncommitted batch's directories
    val removed = Incremental.cleanUncommitted(spark, root)
    assert(removed.forall(_.endsWith("batch=d2")) && removed.nonEmpty,
      s"unexpected cleanup set: $removed")
    assert(spark.read.parquet(s"$root/batches/batch=d1").count() === 1L,
      "cleanup must never touch a committed batch")
    // a batch prepared NOW must not dedup against the uncommitted dir:
    // textB was kept by the crashed d2, and d3 keeps it again
    val b3 = Seq((3L, textB)).toDF("doc_id", "text")
    assert(Incremental.prepareBatch(b3, root, "d3"))
    val d3 = spark.read.parquet(s"$root/batches/batch=d3").collect()
    assert(d3.map(_.getAs[String]("drop_reason")).toSeq === Seq("kept"))
    // re-running the crashed batch overwrites and commits it; its doc
    // is now a duplicate_prior of d3's kept copy
    assert(Incremental.prepareBatch(b2, root, "d2") === true)
    assert(Incremental.committedBatches(spark, root) === Seq("d1", "d2", "d3"))
    val d2 = spark.read.parquet(s"$root/batches/batch=d2").collect()
    assert(d2.map(_.getAs[String]("drop_reason")).toSeq === Seq("duplicate_prior"))
    assert(Incremental.preparedCorpus(spark, root)
      .select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
  }

  test("cross-batch NEAR-dup demotes from stored signatures; exact dedup alone misses it") {
    // textA2: textA with one word swapped — different fingerprint
    // (exact dedup blind), high shingle overlap
    val textA2 = textA.replaceFirst("quick brown", "big brown")
    val b1 = Seq((1L, textA)).toDF("doc_id", "text")
    val b2 = Seq((2L, textA2), (3L, textB)).toDF("doc_id", "text")

    // control root: without the flag, the near-dup sails through
    val rootExact = java.nio.file.Files.createTempDirectory("increm4a").toString
    assert(Incremental.prepareBatch(b1, rootExact, "d1"))
    assert(Incremental.prepareBatch(b2, rootExact, "d2"))
    val exactOnly = spark.read.parquet(s"$rootExact/batches/batch=d2")
      .orderBy("doc_id").collect()
    assert(exactOnly.map(_.getAs[String]("drop_reason")).toSeq === Seq("kept", "kept"))

    val root = java.nio.file.Files.createTempDirectory("increm4").toString
    assert(Incremental.prepareBatch(b1, root, "d1", nearDupThreshold = Some(0.5)))
    // signatures are persisted and the parameters pinned
    assert(spark.read.parquet(s"$root/signatures/batch=d1").count() === 1L)
    assert(spark.read.parquet(s"$root/signatures/_meta")
      .head.getAs[Int]("num_hashes") === 16)

    // with the flag, the stored d1 signature catches it; textB stays
    assert(Incremental.prepareBatch(b2, root, "d2", nearDupThreshold = Some(0.5)))
    val out = spark.read.parquet(s"$root/batches/batch=d2")
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[String]("drop_reason")).toSeq ===
      Seq("near_duplicate_prior", "kept"))
    // only the kept doc's signature lands in d2's table
    assert(spark.read.parquet(s"$root/signatures/batch=d2")
      .select("id").as[Long].collect().toSeq === Seq(3L))
  }

  test("near-dup batches release their persisted intermediates") {
    // the second batch runs the near-dup pass (the first has no prior
    // signatures to join): its funnel frame and candidate signatures
    // are cached for the batch and must be gone once it commits
    val textA2 = textA.replaceFirst("quick brown", "big brown")
    val root = java.nio.file.Files.createTempDirectory("increm-release").toString
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    assert(Incremental.prepareBatch(Seq((1L, textA)).toDF("doc_id", "text"),
      root, "d1", nearDupThreshold = Some(0.5)))
    assert(Incremental.prepareBatch(Seq((2L, textA2), (3L, textB)).toDF("doc_id", "text"),
      root, "d2", nearDupThreshold = Some(0.5)))
    assert(spark.read.parquet(s"$root/batches/batch=d2").where($"kept").count() === 1L)
    assert(spark.sparkContext.getPersistentRDDs.keySet === baseline)
  }

  test("mismatched signature parameters fail loudly instead of comparing junk") {
    val root = java.nio.file.Files.createTempDirectory("increm5").toString
    val b1 = Seq((1L, textA)).toDF("doc_id", "text")
    assert(Incremental.prepareBatch(b1, root, "d1"))
    val b2 = Seq((2L, textB)).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Incremental.prepareBatch(b2, root, "d2",
        nearDupThreshold = Some(0.5), numHashes = 32, bands = 8)
    }
    assert(e.getMessage.contains("parameters must match"))
  }

  test("mismatched parameters fail even with near-dup OFF — no silent signature poisoning") {
    // every batch persists a signature table into the shared tree, so
    // a near-dup-off batch with different params must be rejected up
    // front: it would otherwise pass the _meta check in a LATER
    // near-dup run while its stored signatures band/compare junk
    val root = java.nio.file.Files.createTempDirectory("increm5b").toString
    val b1 = Seq((1L, textA)).toDF("doc_id", "text")
    assert(Incremental.prepareBatch(b1, root, "d1"))
    val b2 = Seq((2L, textB)).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Incremental.prepareBatch(b2, root, "d2", numHashes = 32)
    }
    assert(e.getMessage.contains("parameters must match"))
    // the rejected batch persisted nothing and a matching re-run works
    assert(!Incremental.isCommitted(spark, root, "d2"))
    assert(Incremental.prepareBatch(b2, root, "d2"))
    assert(spark.read.parquet(s"$root/signatures/batch=d2").count() === 1L)
  }

  test("a stale pin from a failed first batch re-pins; a committed pin binds") {
    // failure mode: the pinning batch wrote _meta, then died before
    // committing any data. The pin describes signatures that do not
    // exist, so a retry with different parameters must re-pin, not be
    // spuriously rejected.
    val root = java.nio.file.Files.createTempDirectory("increm-repin").toString
    Seq((99, 99, 9)).toDF("shingle_n", "num_hashes", "bands")
      .coalesce(1).write.parquet(s"$root/signatures/_meta")
    val b1 = Seq((1L, textA)).toDF("doc_id", "text")
    assert(Incremental.prepareBatch(b1, root, "d1")) // defaults != stale pin
    val m = spark.read.parquet(s"$root/signatures/_meta").head
    assert((m.getAs[Int]("shingle_n"), m.getAs[Int]("num_hashes"), m.getAs[Int]("bands")) === ((3, 16, 4)),
      "retry must overwrite the unbacked pin with its own parameters")
    // once a batch HAS committed, the pin binds: mismatch now fails
    val e = intercept[IllegalArgumentException] {
      Incremental.prepareBatch(Seq((2L, textB)).toDF("doc_id", "text"),
        root, "d2", numHashes = 32)
    }
    assert(e.getMessage.contains("parameters must match"))
  }

  test("compactState folds per-batch dedup state; dedup semantics survive, tails still read") {
    val root = java.nio.file.Files.createTempDirectory("increm-compact").toString
    val textC = prose(Seq("green", "hills", "rolled", "to", "the", "sea",
      "where", "white", "birds", "turned", "in", "the", "wind"))
    assert(Incremental.prepareBatch(Seq((1L, textA)).toDF("doc_id", "text"), root, "d1",
      nearDupThreshold = Some(0.5)))
    assert(Incremental.prepareBatch(Seq((2L, textB)).toDF("doc_id", "text"), root, "d2",
      nearDupThreshold = Some(0.5)))
    val report = Incremental.compactState(spark, root, targetFiles = 1).get
    assert(report.upto === "d2" && report.batchesCovered === 2)
    assert(report.fpFiles === 1 && report.sigFiles === 1)
    // idempotent: nothing new to compact
    assert(Incremental.compactState(spark, root).isEmpty)
    // a re-crawled doc from a COMPACTED batch is still demoted via the overlay
    assert(Incremental.prepareBatch(Seq((3L, textA), (4L, textC)).toDF("doc_id", "text"),
      root, "d3", nearDupThreshold = Some(0.5)))
    val d3 = spark.read.parquet(s"$root/batches/batch=d3").orderBy("doc_id").collect()
    assert(d3.map(_.getAs[String]("drop_reason")).toSeq ===
      Seq("duplicate_prior", "kept"))
    // the post-compaction batch d3 rides the TAIL: a new duplicate of
    // d3's kept doc is demoted without recompacting
    assert(Incremental.prepareBatch(Seq((5L, textC)).toDF("doc_id", "text"), root, "d4",
      nearDupThreshold = Some(0.5)))
    val d4 = spark.read.parquet(s"$root/batches/batch=d4").collect()
    assert(d4.map(_.getAs[String]("drop_reason")).toSeq === Seq("duplicate_prior"))
    // recompact over overlay + tail, dropping covered inputs: per-batch
    // state dirs go away, dedup memory lives on in the overlay
    val r2 = Incremental.compactState(spark, root, targetFiles = 1, dropInputs = true).get
    assert(r2.upto === "d4" && r2.batchesCovered === 4)
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    Seq("d1", "d2", "d3", "d4").foreach { id =>
      assert(!f.exists(new org.apache.hadoop.fs.Path(s"$root/fingerprints/batch=$id")))
      assert(!f.exists(new org.apache.hadoop.fs.Path(s"$root/signatures/batch=$id")))
    }
    assert(Incremental.prepareBatch(Seq((6L, textA)).toDF("doc_id", "text"), root, "d5",
      nearDupThreshold = Some(0.5)))
    val d5 = spark.read.parquet(s"$root/batches/batch=d5").collect()
    assert(d5.map(_.getAs[String]("drop_reason")).toSeq === Seq("duplicate_prior"))
    // superseded overlays were retired: exactly one generation per tree
    Seq("fingerprints", "signatures").foreach { tree =>
      val dirs = f.listStatus(new org.apache.hadoop.fs.Path(s"$root/$tree/_compacted"))
        .map(_.getPath.getName).filter(_.startsWith("gen=")).toSeq
      assert(dirs === Seq("gen=00000004"), s"$tree: $dirs")
    }
    // batch OUTPUTS are untouched by compaction
    assert(Incremental.preparedCorpus(spark, root).count() === 3L) // textA(d1), textB(d2), textC(d3)
  }

  test("compaction coverage is the explicit id set — non-lexicographic ids survive") {
    // "b10" < "b9" lexicographically: an ordering-based watermark
    // (id > upto) would exclude b10 from BOTH the overlay and the
    // tail, silently losing its dedup state. Coverage is the
    // _covered manifest instead, so id spelling cannot matter.
    val root = java.nio.file.Files.createTempDirectory("increm-lex").toString
    val textC = prose(Seq("tall", "pines", "lined", "the", "old", "road",
      "and", "a", "fox", "crossed", "it", "at", "dusk"))
    assert(Incremental.prepareBatch(Seq((1L, textA)).toDF("doc_id", "text"), root, "b9"))
    assert(Incremental.compactState(spark, root, targetFiles = 1).isDefined)
    // committed AFTER the compaction, sorts BELOW the overlay name
    assert(Incremental.prepareBatch(Seq((2L, textC)).toDF("doc_id", "text"), root, "b10"))
    // b10's kept doc must still demote a re-crawl (it rides the tail)
    assert(Incremental.prepareBatch(Seq((3L, textC)).toDF("doc_id", "text"), root, "b11"))
    val d11 = spark.read.parquet(s"$root/batches/batch=b11").collect()
    assert(d11.map(_.getAs[String]("drop_reason")).toSeq === Seq("duplicate_prior"))
    // recompacting folds b10/b11 in; dedup memory intact afterwards
    assert(Incremental.compactState(spark, root, targetFiles = 1, dropInputs = true).isDefined)
    assert(Incremental.prepareBatch(Seq((4L, textC)).toDF("doc_id", "text"), root, "b12"))
    val d12 = spark.read.parquet(s"$root/batches/batch=b12").collect()
    assert(d12.map(_.getAs[String]("drop_reason")).toSeq === Seq("duplicate_prior"))
  }

  test("a crashed compaction write (no _SUCCESS) is invisible to readers") {
    val root = java.nio.file.Files.createTempDirectory("increm-compact2").toString
    assert(Incremental.prepareBatch(Seq((1L, textA)).toDF("doc_id", "text"), root, "d1"))
    // simulate a crashed compactor: data files but neither _SUCCESS
    // nor the _covered manifest
    Seq("fingerprints", "signatures").foreach { tree =>
      spark.read.parquet(s"$root/$tree/batch=d1")
        .write.parquet(s"$root/$tree/_compacted/gen=00000001")
      val f = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
      f.delete(new org.apache.hadoop.fs.Path(s"$root/$tree/_compacted/gen=00000001/_SUCCESS"), false)
    }
    // the prior join must still see d1's state via the raw batch dirs
    assert(Incremental.prepareBatch(Seq((2L, textA)).toDF("doc_id", "text"), root, "d2"))
    val d2 = spark.read.parquet(s"$root/batches/batch=d2").collect()
    assert(d2.map(_.getAs[String]("drop_reason")).toSeq === Seq("duplicate_prior"))
    // and a real compaction overwrites the debris idempotently
    val r = Incremental.compactState(spark, root, targetFiles = 1)
    assert(r.exists(_.upto === "d2"))
  }

  test("prior-dedup join reuses the funnel window's fingerprint partitioning") {
    // force the merge-join path: at real scale the prior fingerprint
    // union is far past any broadcast threshold, and the claim under
    // test is that ONLY the fingerprint side shuffles for it
    val oldThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = (0 until 100)
        .map(i => (i.toLong, if (i % 3 == 0) textA + s" extra$i" else textB + s" extra$i"))
        .toDF("doc_id", "text")
      val prior = Corpus
        .prepareFunnel(Seq((1000L, textA)).toDF("doc_id", "text"), keepFpCol = Some("fp"))
        .where($"kept").select($"fp")
      val out = Incremental.demotePriorDuplicates(
        Corpus.prepareFunnel(docs, keepFpCol = Some("fp")), prior, fpCol = Some("fp"))
      assert(out.collect().length === 100)
      val finalPlan = out.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val fpExchanges = finalPlan.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning(_fp") ||
          l.contains("Exchange hashpartitioning(fp"))
        .filterNot(_.contains("ReusedExchange"))
        .toSeq
      // one exchange under the dedup window (shared with the join's
      // document side) + one for the fingerprint side — a third would
      // mean the documents shuffled twice
      assert(fpExchanges.size == 2,
        s"expected 2 fingerprint exchanges (window + prior side), got " +
          s"${fpExchanges.size}:\n${fpExchanges.mkString("\n")}\n$finalPlan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThr)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("bloom prior-dedup: no false negatives, bounded false positives, zero joins") {
    // 200 new docs + 50 that duplicate the prior set: every true prior
    // dup MUST demote (blooms have no false negatives); new docs may
    // only be lost at the filter's FP rate (generous bits -> ~0 here)
    val priorTexts = (0 until 50).map(i => s"$textA prior$i")
    val prior = Corpus
      .prepareFunnel(priorTexts.zipWithIndex.map { case (t, i) => (1000L + i, t) }
        .toDF("doc_id", "text"), keepFpCol = Some("fp"))
      .where($"kept").select($"fp")
    val docs = ((0 until 200).map(i => (i.toLong, s"$textB fresh$i")) ++
      priorTexts.zipWithIndex.map { case (t, i) => (500L + i, t) })
      .toDF("doc_id", "text")
    val out = Incremental.demotePriorDuplicatesBloom(
      Corpus.prepareFunnel(docs, keepFpCol = Some("fp")), prior,
      fpCol = Some("fp"))
    val demoted = out.where($"drop_reason" === "duplicate_prior")
      .select("doc_id").as[Long].collect().toSet
    assert(demoted.forall(_ >= 500L), "no fresh doc demoted at this FP sizing")
    assert((500L until 550L).toSet.subsetOf(demoted), "every true prior dup demoted")
    // the scan-side claim: the plan holds NO join for the prior check
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), s"bloom variant must not join:\n$plan")
    // the plan-embedded-literal ceiling refuses a multi-GB bloom
    val e = intercept[IllegalArgumentException] {
      Incremental.demotePriorDuplicatesBloom(
        Corpus.prepareFunnel(docs, keepFpCol = Some("fp")), prior,
        fpCol = Some("fp"), numBits = (1L << 31) + 1)
    }
    assert(e.getMessage.contains("shard the prior"))
  }

  test("profileBatches stores the per-day loss series in the monitoring repo") {
    val root = java.nio.file.Files.createTempDirectory("increm6").toString
    Incremental.prepareBatch(Seq((1L, textA), (2L, "short text only"))
      .toDF("doc_id", "text"), root, "2026-01-01")
    Incremental.prepareBatch(Seq((3L, textA), (4L, textB))
      .toDF("doc_id", "text"), root, "2026-01-02")
    val repo = new graft.repository.InMemoryRepository
    val rows = Incremental.profileBatches(spark, root, "prep://corpus", repo)
    val stored = repo.getProfiling("prep://corpus")
      .select("ts", "instance", "name", "value")
      .as[(java.sql.Timestamp, String, String, Double)].collect()
    assert(stored.map(_._1).distinct.length === 2, "one ts per batch")
    // day 2: doc 3 is a duplicate_prior, doc 4 kept -> share 0.5 each
    val d2 = stored.filter(_._1.toString.startsWith("2026-01-02"))
    assert(d2.filter(r => r._2 == "kept" && r._3 == "share").map(_._4).toSeq === Seq(0.5))
    assert(d2.filter(r => r._2 == "duplicate_prior" && r._3 == "n_docs").map(_._4).toSeq === Seq(1.0))
    assert(repo.getDataset("prep://corpus").nonEmpty, "dataset auto-registered")
    assert(rows.columns.toSeq === Seq("ts", "entity", "instance", "name", "value"))
  }

  test("profileBatches rejects non-date batch ids instead of dropping them") {
    val root = java.nio.file.Files.createTempDirectory("increm7").toString
    Incremental.prepareBatch(Seq((1L, textA)).toDF("doc_id", "text"), root, "notadate")
    val e = intercept[IllegalArgumentException] {
      Incremental.profileBatches(spark, root, "prep://x",
        new graft.repository.InMemoryRepository)
    }
    assert(e.getMessage.contains("notadate"))
  }

  test("retiring a consumed batch output keeps its dedup memory alive") {
    val root = java.nio.file.Files.createTempDirectory("increm8").toString
    assert(Incremental.prepareBatch(Seq((1L, textA)).toDF("doc_id", "text"), root, "d1"))
    assert(Incremental.prepareBatch(Seq((2L, textB)).toDF("doc_id", "text"), root, "d2"))
    Incremental.dropBatchOutputs(spark, root, Seq("d1"))
    // still committed: a re-run must skip, not recompute
    assert(Incremental.prepareBatch(Seq((1L, textA)).toDF("doc_id", "text"), root, "d1") === false)
    // corpus and stats cover only retained outputs
    assert(Incremental.preparedCorpus(spark, root)
      .select("doc_id").as[Long].collect().toSeq === Seq(2L))
    assert(Incremental.funnelStatsByBatch(spark, root)
      .select("batch").distinct().as[String].collect().toSeq === Seq("d2"))
    // the dedup memory outlives the output: a re-crawl of d1's doc in
    // a NEW batch is still a duplicate_prior
    assert(Incremental.prepareBatch(Seq((3L, textA)).toDF("doc_id", "text"), root, "d3"))
    val d3 = spark.read.parquet(s"$root/batches/batch=d3").collect()
    assert(d3.map(_.getAs[String]("drop_reason")).toSeq === Seq("duplicate_prior"))
    // retiring debris or unknown ids is refused
    intercept[IllegalArgumentException] {
      Incremental.dropBatchOutputs(spark, root, Seq("never-ran"))
    }
  }

  test("batch ids are path-safe or rejected") {
    val root = java.nio.file.Files.createTempDirectory("increm3").toString
    val b = Seq((1L, textA)).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Incremental.prepareBatch(b, root, "../escape")
    }
    intercept[IllegalArgumentException] {
      Incremental.prepareBatch(b, root, "")
    }
    // "." and ".." match [A-Za-z0-9._-]+ but normalize the commit
    // marker OUT of _manifest: ".." would make isCommitted return true
    // forever once the root exists (the batch silently never prepares)
    intercept[IllegalArgumentException] {
      Incremental.prepareBatch(b, root, ".")
    }
    intercept[IllegalArgumentException] {
      Incremental.prepareBatch(b, root, "..")
    }
  }
}
