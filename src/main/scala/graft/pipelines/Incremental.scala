package graft.pipelines

import graft.service.Service
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpoint/restart contract for multi-day corpus prepares: run
  * [[Corpus.prepareFunnel]] batch-by-batch (one batch per crawl day /
  * dump / ingest unit), survive a mid-run failure without recomputing
  * finished batches, and deduplicate each new batch against everything
  * already kept.
  *
  * Layout under `root`:
  * {{{
  *   batches/batch=<id>/        full funnel output for the batch
  *   fingerprints/batch=<id>/   (fp) of the batch's KEPT docs only
  *   signatures/batch=<id>/     (id, sig) minhash of KEPT docs
  *   signatures/_meta           pinned (shingle_n, num_hashes, bands)
  *   _manifest/<id>             zero-byte marker, written LAST
  * }}}
  *
  * The marker is the commit point: a batch is visible to
  * [[preparedCorpus]], [[committedBatches]] and later batches' dedup
  * ONLY once its marker exists, and the marker is written after all
  * three parquet trees are fully materialized. A crash anywhere
  * earlier leaves an uncommitted directory that the re-run overwrites
  * — [[prepareBatch]] is idempotent per (root, batchId).
  *
  * Cross-batch dedup: a doc whose fingerprint was kept by ANY earlier
  * committed batch is demoted to `drop_reason = "duplicate_prior"`.
  * Rule-failed and within-batch-duplicate rows keep their first-failing
  * reason — the prior-dup check applies only to rows the batch funnel
  * would otherwise keep, so the accounting stays first-failing end to
  * end. Kept fingerprints are therefore DISJOINT across committed
  * batches (a fingerprint is kept by exactly the first batch that saw
  * it), which keeps the prior side of the dedup join duplicate-free by
  * construction.
  *
  * Scale shape: each batch pays its own funnel (one scan + the one
  * fingerprint shuffle dedup needs) plus one equi-join against the
  * prior fingerprint table — 32-byte md5 hex keys, no document payload
  * on the build side, ~N_kept rows after any number of batches, and
  * the document side rides the funnel's existing fingerprint exchange
  * (see [[demotePriorDuplicates]]). Batches
  * are sequential by contract (each must see its predecessors'
  * fingerprints); run one prepare at a time per root.
  */
object Incremental {

  private def fs(spark: SparkSession, root: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration
    )

  private def marker(root: String, batchId: String) =
    new org.apache.hadoop.fs.Path(s"$root/_manifest/$batchId")

  private def requireValidId(batchId: String): Unit =
    require(
      batchId.nonEmpty && batchId.matches("[A-Za-z0-9._-]+") &&
        batchId != "." && batchId != "..",
      s"batch id must match [A-Za-z0-9._-]+ and not be '.'/'..' (a " +
        s"path-traversal id would normalize the commit marker OUT of " +
        s"_manifest and silently break commit detection), got '$batchId'"
    )

  /** True once `batchId`'s commit marker exists under `root`. */
  def isCommitted(spark: SparkSession, root: String, batchId: String): Boolean = {
    requireValidId(batchId)
    fs(spark, root).exists(marker(root, batchId))
  }

  /** Committed batch ids under `root`, lexicographically sorted (date-
    * shaped ids come out in day order).
    */
  def committedBatches(spark: SparkSession, root: String): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(s"$root/_manifest")
    val f = fs(spark, root)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).map(_.getPath.getName).toSeq.sorted
  }

  /** The newest COMMITTED compaction under `tree` (`fingerprints` or
    * `signatures`): the `_compacted/gen=<n>` directory with the
    * highest generation that carries BOTH Spark's `_SUCCESS` marker
    * and the `_covered` manifest — a crashed compaction write lacks
    * one of them and is invisible. Returns (covered batch ids, path).
    *
    * Coverage is the EXPLICIT id set from `_covered`, never an
    * ordering predicate over batch ids: ids are only
    * lexicographically meaningful when the caller zero-pads them
    * (b9/b10 does not sort like day-shaped ids), and a coverage rule
    * built on `id > watermark` would silently drop a committed
    * batch's dedup state the first time ids and lex order disagree.
    * The generation number (zero-padded covered-set size — strictly
    * growing, so collision-free) orders overlays and guarantees a
    * recompaction never overwrites the directory it is reading.
    */
  private def latestCompaction(
      spark: SparkSession,
      root: String,
      tree: String
  ): Option[(Set[String], String)] = {
    val f = fs(spark, root)
    val dir = new org.apache.hadoop.fs.Path(s"$root/$tree/_compacted")
    if (!f.exists(dir)) None
    else
      f.listStatus(dir)
        .map(_.getPath)
        .filter(p => p.getName.startsWith("gen=") &&
          f.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")) &&
          f.exists(new org.apache.hadoop.fs.Path(p, "_covered")))
        .sortBy(_.getName.stripPrefix("gen="))
        .lastOption
        .map { p =>
          val in = f.open(new org.apache.hadoop.fs.Path(p, "_covered"))
          val ids = try {
            scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toSet
          } finally in.close()
          (ids, p.toString)
        }
  }

  /** Committed per-batch directories of `tree` NOT covered by the
    * given compaction's id set — the tail a reader unions on top of
    * the compacted table.
    */
  private def tailPaths(
      spark: SparkSession,
      root: String,
      tree: String,
      covered: Set[String]
  ): Seq[String] = {
    val f = fs(spark, root)
    committedBatches(spark, root)
      .filterNot(covered)
      .map(id => s"$root/$tree/batch=$id")
      .filter(p => f.exists(new org.apache.hadoop.fs.Path(p)))
  }

  /** Kept-doc fingerprints of every committed batch — read by explicit
    * committed paths, so an uncommitted (crashed) directory can never
    * leak into dedup. When a [[compactState]] overlay exists, the
    * compacted table stands in for every batch at or below its
    * watermark: one directory instead of hundreds, the small-files
    * fix for long-lived roots.
    */
  private def priorFingerprints(
      spark: SparkSession,
      root: String
  ): Option[DataFrame] = {
    val compacted = latestCompaction(spark, root, "fingerprints")
    val paths = compacted.map(_._2).toSeq ++
      tailPaths(spark, root, "fingerprints", compacted.fold(Set.empty[String])(_._1))
    if (paths.isEmpty) None else Some(spark.read.parquet(paths: _*))
  }

  /** Validate the requested signature parameters against the pinned
    * `signatures/_meta`, writing the pin on first use. Runs on EVERY
    * [[prepareBatch]] — not just when near-dup is on — because every
    * batch persists a signature table into the shared tree: a batch
    * written with different (shingleN, numHashes, bands) would poison
    * later near-dup runs that pass the _meta check yet band/compare
    * mismatched signatures, producing wrong Jaccard estimates.
    *
    * The pin only BINDS once a batch has committed: if the pinning
    * batch failed mid-run (meta written, no committed data), a retry
    * with different parameters re-pins instead of being spuriously
    * rejected — the stale pin describes signatures that do not exist.
    *
    * Concurrency contract: a root has a SINGLE WRITER (the same
    * contract the `_manifest` commit markers assume — two drivers
    * preparing batches into one root can interleave marker and data
    * writes arbitrarily). As a cheap tripwire for the first-pin race,
    * the pin is re-read after writing and must match the requested
    * parameters; the overwrite loser fails here instead of committing
    * signatures that mismatch the surviving pin.
    */
  private def validateOrPinSignatureMeta(
      spark: SparkSession,
      root: String,
      shingleN: Int,
      numHashes: Int,
      bands: Int
  ): Unit = {
    val f = fs(spark, root)
    val metaPath = new org.apache.hadoop.fs.Path(s"$root/signatures/_meta")
    def readPin(): (Int, Int, Int) = {
      val m = spark.read.parquet(s"$root/signatures/_meta").head
      (m.getAs[Int]("shingle_n"), m.getAs[Int]("num_hashes"), m.getAs[Int]("bands"))
    }
    def writePin(): Unit = {
      import spark.implicits._
      Seq((shingleN, numHashes, bands))
        .toDF("shingle_n", "num_hashes", "bands")
        .coalesce(1)
        .write
        .mode("overwrite")
        .parquet(s"$root/signatures/_meta")
      val back = readPin()
      require(
        back == ((shingleN, numHashes, bands)),
        s"signature _meta read-back mismatch under $root: wrote " +
          s"($shingleN, $numHashes, $bands), found $back — concurrent " +
          s"first-time writers? A root must have a single writer."
      )
    }
    if (!f.exists(metaPath)) writePin()
    else {
      val pinned = readPin()
      if (pinned != ((shingleN, numHashes, bands))) {
        if (committedBatches(spark, root).isEmpty) writePin() // stale pin from a failed first batch
        else
          throw new IllegalArgumentException(
            s"stored signatures under $root/signatures were built with " +
              s"(shingleN=${pinned._1}, numHashes=${pinned._2}, bands=${pinned._3}); " +
              s"this batch requested ($shingleN, $numHashes, $bands) — " +
              s"parameters must match across a root"
          )
      }
    }
  }

  /** Kept-doc minhash signature tables of every committed batch.
    * Parameter compatibility with the stored tables is enforced by
    * [[validateOrPinSignatureMeta]] at the top of every
    * [[prepareBatch]], before anything is persisted or joined.
    */
  private def priorSignatures(
      spark: SparkSession,
      root: String
  ): Option[DataFrame] = {
    val compacted = latestCompaction(spark, root, "signatures")
    val paths = compacted.map(_._2).toSeq ++
      tailPaths(spark, root, "signatures", compacted.fold(Set.empty[String])(_._1))
    if (paths.isEmpty) None else Some(spark.read.parquet(paths: _*))
  }

  /** Prepare one batch under the checkpoint contract. Returns false
    * (and does NOTHING) when the batch is already committed; true when
    * it ran. Parameters mirror [[Corpus.prepareFunnel]]. The batch
    * output claims an `fp` column (the retained content fingerprint),
    * so the input must not already carry one.
    *
    * `nearDupThreshold` adds a cross-batch NEAR-dup stage after the
    * exact one: a would-be-kept doc whose estimated Jaccard against
    * ANY prior batch's kept doc reaches the threshold is demoted to
    * `near_duplicate_prior`. Prior batches are represented by their
    * STORED minhash signature tables (~136 B/doc at the defaults) —
    * no prior text is ever re-read. Signatures are persisted for every
    * batch regardless of the flag (so near-dup can be switched on
    * later without a backfill), with the (shingleN, numHashes, bands)
    * parameters pinned in `signatures/_meta` — a mismatched later run
    * fails loudly. Near-dup WITHIN a batch is out of scope here (the
    * funnel dedups exact only); run [[graft.dedup.Dedup.nearDupSweep]]
    * on a batch first if in-batch near-dups matter.
    *
    * `priorBucketCap` defaults to
    * [[graft.dedup.BucketJoin.PipelineDefaultCap]] (unlike the
    * low-level pair APIs, which are exact by default): this is a
    * long-lived, every-batch entry point over unvetted crawl data, and
    * one boilerplate band bucket shared by 10^6 prior docs must not
    * become a quadratic join. Pass 0 for the exact uncapped join.
    */
  def prepareBatch(
      docs: DataFrame,
      root: String,
      batchId: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      keepLang: String = "en",
      decontaminateAgainst: Option[DataFrame] = None,
      spanWords: Int = 8,
      minShared: Long = 1,
      extraStages: Seq[(String, Column)] = Nil,
      nearDupThreshold: Option[Double] = None,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      priorBucketCap: Int = graft.dedup.BucketJoin.PipelineDefaultCap
  ): Boolean = {
    requireValidId(batchId)
    nearDupThreshold.foreach(t =>
      require(t > 0.0 && t <= 1.0, s"nearDupThreshold must be in (0, 1], got $t"))
    val spark = docs.sparkSession
    if (isCommitted(spark, root, batchId)) return false
    // pin-or-check BEFORE any work: this batch will persist a
    // signature table with these parameters whether or not near-dup
    // is on, so incompatible params must fail here, not surface as
    // wrong Jaccard estimates in a later near-dup run
    validateOrPinSignatureMeta(spark, root, shingleN, numHashes, bands)
    // the funnel retains its fingerprint: the batch output carries it
    // for free (consumers and the fingerprint table need no recompute)
    // and the prior-dedup join below reuses the dedup window's
    // hash-partitioning instead of shuffling the documents again
    val funnel = Corpus.prepareFunnel(
      docs, textCol, idCol, keepLang,
      decontaminateAgainst, spanWords, minShared, extraStages,
      keepFpCol = Some("fp"))
    val withPrior = priorFingerprints(spark, root)
      .fold(funnel)(prior =>
        demotePriorDuplicates(funnel, prior, textCol, fpCol = Some("fp")))
    // optional cross-batch near-dup: the funnel frame feeds BOTH the
    // candidate side of the signature join and the final write, so it
    // is materialized once instead of executing twice. The batch's
    // signature table is ALSO computed here, once, over the would-be-
    // kept candidates and checkpointed (~136 B/doc): it serves the
    // near-dup join AND, filtered to the finally-kept ids, the
    // persisted signature tree — r15, previously the batch was
    // tokenize+minhashed twice (once inside the join, once for the
    // write). A signature depends only on the text, so candidate-set
    // signatures filtered to final keeps are bit-identical to
    // recomputing over the final keeps. Both checkpoints are released
    // in the finally below, after the signature write; otherwise their
    // blocks stay resident until the driver garbage-collects them.
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def hold(df: DataFrame): DataFrame = {
      held += graft.functions.materialize(df)
      held.last
    }
    try {
      val (withNear, candidateSigs) = nearDupThreshold
        .flatMap(thr => priorSignatures(spark, root).map((_, thr)))
        .fold((withPrior, Option.empty[DataFrame])) { case (sigs, thr) =>
          val once = hold(withPrior)
          val batchSigs = hold(
            graft.dedup.Dedup.minhashSignatureTable(
              once.where(col("kept")).select(col(idCol), col(textCol)),
              textCol, idCol, shingleN, numHashes)
          )
          val nearIds = graft.dedup.Dedup
            .crossMinhashPairsBetweenSigs(
              sigs, batchSigs, numHashes, bands, thr, priorBucketCap)
            .select(col("id_r").as(idCol))
            .distinct()
            .withColumn("_near_prior", lit(true))
          val flagged = once
            .join(nearIds, Seq(idCol), "left")
            .withColumn(
              "drop_reason",
              when(col("kept") && col("_near_prior"), lit("near_duplicate_prior"))
                .otherwise(col("drop_reason"))
            )
            .withColumn("kept", col("drop_reason") === "kept")
            .drop("_near_prior")
          (flagged, Some(batchSigs))
        }
      withNear.write.mode("overwrite").parquet(s"$root/batches/batch=$batchId")
      // fingerprints and signatures are derived from the WRITTEN output
      // (cheap scans of kept rows), not from the live plan — deriving
      // from the plan would re-execute the whole funnel again
      val kept = spark.read
        .parquet(s"$root/batches/batch=$batchId")
        .where(col("kept"))
      kept
        .select(col("fp"))
        .write
        .mode("overwrite")
        .parquet(s"$root/fingerprints/batch=$batchId")
      candidateSigs
        .fold(
          // no near-dup pass computed signatures: one tokenize+minhash
          // over the written kept rows, as before
          graft.dedup.Dedup
            .minhashSignatureTable(kept, textCol, idCol, shingleN, numHashes)
        )(sigTable =>
          // reuse the checkpointed candidate signatures: final keeps are
          // a subset of candidates, so a semi-join on the committed kept
          // ids IS the final signature table — no second minhash pass
          sigTable.join(
            kept.select(col(idCol).as("id")),
            Seq("id"),
            "left_semi"
          ))
        .write
        .mode("overwrite")
        .parquet(s"$root/signatures/batch=$batchId")
    } finally held.foreach(graft.functions.release)
    val f = fs(spark, root)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_manifest"))
    f.create(marker(root, batchId), true).close()
    true
  }

  /** The pure-plan core of the incremental EXACT dedup, shared by
    * [[prepareBatch]] and the oracle-gated `pipeline_dedup_prior`
    * query: demote `funnel` rows that would be kept but whose
    * normalized fingerprint appears in `priorFps` (an `fp` column —
    * the kept fingerprints of earlier batches) to `duplicate_prior`.
    * Rule-failed and within-batch-duplicate rows keep their
    * first-failing reason. `priorFps` is unique by construction
    * (at most one KEPT doc per fingerprint per batch, disjoint across
    * batches), so the left join never multiplies rows.
    *
    * Pass `fpCol` when the funnel RETAINED its fingerprint
    * (`prepareFunnel(keepFpCol = ...)`): the join then keys on the
    * column the dedup window already hash-partitioned the documents
    * by, so only the (small) fingerprint side shuffles — recomputing
    * the fingerprint here would discard that partitioning and shuffle
    * the whole batch a second time.
    */
  def demotePriorDuplicates(
      funnel: DataFrame,
      priorFps: DataFrame,
      textCol: String = "text",
      fpCol: Option[String] = None
  ): DataFrame =
    funnel
      .withColumn(
        "_fp",
        fpCol.fold(graft.text.Text.fingerprint(col(textCol)))(col))
      .join(
        priorFps.select(col("fp").as("_fp")).withColumn("_dup_prior", lit(true)),
        Seq("_fp"),
        "left"
      )
      .withColumn(
        "drop_reason",
        when(col("kept") && col("_dup_prior"), lit("duplicate_prior"))
          .otherwise(col("drop_reason"))
      )
      .withColumn("kept", col("drop_reason") === "kept")
      .drop("_fp", "_dup_prior")

  /** Approximate, SCAN-SIDE variant of [[demotePriorDuplicates]]: the
    * prior fingerprint set is compacted into a bloom filter
    * ([[graft.operators.BloomJoin.buildBloom]] — `numBits / 8` bytes
    * regardless of prior size) and membership is tested per row as a
    * codegen'd expression, so the prior-dedup step costs ZERO joins
    * and ZERO shuffles at any prior-corpus size. The trade is
    * explicit and one-sided: bloom false positives demote a bounded
    * fraction (~the filter's FP rate at the actual key load) of
    * genuinely-NEW documents as `duplicate_prior`; no true prior
    * duplicate ever survives (blooms have no false negatives).
    *
    * Sizing honestly: the DEFAULTS (numBits = 8 Mbit, expectedItems =
    * 1M) run at ~2% FP when loaded with the full 1M keys — ~8.4
    * bits/key with the optimal ~6 hashes. For a target rate size
    * `numBits ≈ -n·ln(fp)/ln(2)²` (≈ 14.4 bits/key for 0.1%), and
    * remember the filter is EMBEDDED IN THE PLAN as a literal
    * broadcast to every task: a 0.1% filter over 10⁹ prior keys is
    * ~1.8 GB — beyond what a serialized plan tolerates. `numBits` is
    * therefore capped at 2³¹ (256 MB — ~0.1% FP for ~150M prior keys,
    * or ~2% for ~256M); beyond that, shard the prior by fingerprint
    * range into per-shard blooms applied to matching row ranges, or
    * use the exact-join variant ([[demotePriorDuplicates]] — also the
    * answer whenever every kept row must be provably non-duplicate,
    * as in the oracle-gated pipeline path).
    */
  def demotePriorDuplicatesBloom(
      funnel: DataFrame,
      priorFps: DataFrame,
      textCol: String = "text",
      fpCol: Option[String] = None,
      expectedItems: Long = 1000000L,
      numBits: Long = 8L * 1024 * 1024
  ): DataFrame = {
    require(
      numBits > 0 && numBits <= (1L << 31),
      s"numBits must be in (0, 2^31] — the bloom rides the plan as a literal " +
        s"(${numBits / 8 / 1024 / 1024} MB requested); shard the prior or use " +
        "demotePriorDuplicates for larger prior sets"
    )
    val bloom = graft.operators.BloomJoin
      .buildBloom(priorFps, "fp", expectedItems, numBits)
    funnel
      .withColumn(
        "_fp",
        fpCol.fold(graft.text.Text.fingerprint(col(textCol)))(col))
      .withColumn(
        "_dup_prior",
        graft.operators.BloomJoin.mightContain(bloom, col("_fp")))
      .withColumn(
        "drop_reason",
        when(col("kept") && col("_dup_prior"), lit("duplicate_prior"))
          .otherwise(col("drop_reason"))
      )
      .withColumn("kept", col("drop_reason") === "kept")
      .drop("_fp", "_dup_prior")
  }

  /** Committed batch ids whose OUTPUT directory is still present —
    * [[dropBatchOutputs]] may have retired older outputs while their
    * dedup state (fingerprints/signatures) lives on.
    */
  private def batchesWithOutput(spark: SparkSession, root: String): Seq[String] = {
    val f = fs(spark, root)
    committedBatches(spark, root)
      .filter(id => f.exists(new org.apache.hadoop.fs.Path(s"$root/batches/batch=$id")))
  }

  /** The prepared corpus so far: kept rows of every committed batch
    * whose output is still retained, with the `batch` partition column
    * riding along. Uncommitted directories are invisible; outputs
    * retired by [[dropBatchOutputs]] are skipped.
    */
  def preparedCorpus(spark: SparkSession, root: String): DataFrame = {
    val paths = batchesWithOutput(spark, root).map(id => s"$root/batches/batch=$id")
    require(paths.nonEmpty, s"no committed batch outputs under $root")
    spark.read
      .option("basePath", s"$root/batches")
      .parquet(paths: _*)
      .where(col("kept"))
  }

  /** Retire the BULKY half of consumed batches: delete the full
    * funnel outputs (document payloads) of the named committed
    * batches while keeping their commit markers, fingerprints and
    * minhash signatures — the dedup memory MUST outlive the outputs,
    * or a re-crawl of a retired batch's content would re-enter the
    * corpus. The typical lifecycle: prepare a day, export its kept
    * rows downstream, then retire the output; later batches still
    * dedup against everything ever kept. A retired batch stays
    * committed (`prepareBatch` still skips it) and disappears from
    * [[preparedCorpus]]/[[funnelStatsByBatch]]. Unknown or
    * uncommitted ids raise — retiring debris is [[cleanUncommitted]]'s
    * job, with opposite semantics.
    */
  def dropBatchOutputs(
      spark: SparkSession,
      root: String,
      batchIds: Seq[String]
  ): Unit = {
    batchIds.foreach(requireValidId)
    val committed = committedBatches(spark, root).toSet
    val unknown = batchIds.filterNot(committed)
    require(
      unknown.isEmpty,
      s"not committed (use cleanUncommitted for debris): ${unknown.mkString(", ")}"
    )
    val f = fs(spark, root)
    batchIds.foreach { id =>
      f.delete(new org.apache.hadoop.fs.Path(s"$root/batches/batch=$id"), true)
    }
  }

  /** One compaction's outcome: the covered watermark, how many batch
    * dirs it folded, and the file counts of the compacted tables.
    */
  case class CompactReport(
      upto: String,
      batchesCovered: Int,
      fpFiles: Int,
      sigFiles: Int,
      inputsDropped: Boolean
  )

  /** Fold the per-batch dedup state (fingerprints + minhash
    * signatures) of every committed batch into ONE compacted table
    * per tree — the small-files fix for long-lived roots. After ~1000
    * daily batches, [[prepareBatch]]'s prior join otherwise unions
    * ~1000 tiny parquet directories per tree: a listing + footer read
    * per batch per prepare, and a task per under-filled file. The
    * compacted overlay makes the prior read `1 + |tail|` directories
    * regardless of history length.
    *
    * Layout: `<tree>/_compacted/gen=<covered-count>/` (underscore
    * prefix: plain parquet reads of the tree never pick it up), plus
    * a `_covered` manifest inside the overlay listing the EXACT batch
    * ids it folded — coverage is set membership, never an ordering
    * predicate against batch ids (ids like b9/b10 do not sort
    * lexicographically, and a `> watermark` rule would silently drop
    * a committed batch's dedup state). Readers take the newest
    * generation that has Spark's `_SUCCESS` AND the manifest, and
    * union only batch dirs outside the covered set, so:
    *   - a crashed compaction write (either marker missing) is
    *     invisible — readers fall back to the previous overlay or the
    *     raw dirs;
    *   - a recompaction writes the NEXT generation (it never
    *     overwrites the overlay it reads) and retires older ones
    *     once committed.
    * Batches committed AFTER a compaction are picked up by the tail
    * union without recompacting.
    *
    * `dropInputs = true` additionally deletes the covered per-batch
    * fingerprint/signature directories (NOT the batch outputs —
    * [[dropBatchOutputs]] owns those): the compacted table then IS
    * the dedup memory for those batches. Leave it false to keep
    * per-batch state re-derivable.
    *
    * Same single-writer-per-root contract as [[prepareBatch]]; run
    * compaction between prepares, not concurrently with one. Returns
    * None when there is nothing new to compact.
    */
  def compactState(
      spark: SparkSession,
      root: String,
      targetFiles: Int = 16,
      dropInputs: Boolean = false
  ): Option[CompactReport] = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    val committed = committedBatches(spark, root)
    if (committed.isEmpty) return None
    val upto = committed.last
    val committedSet = committed.toSet
    val trees = Seq("fingerprints", "signatures")
    val allCurrent = trees.forall(t =>
      latestCompaction(spark, root, t).exists(_._1 == committedSet))
    if (allCurrent && !dropInputs) return None
    val f = fs(spark, root)
    val gen = f"gen=${committed.length}%08d"
    val fileCounts = trees.map { tree =>
      val existing = latestCompaction(spark, root, tree)
      val paths = existing.map(_._2).toSeq ++
        tailPaths(spark, root, tree, existing.fold(Set.empty[String])(_._1))
      if (paths.isEmpty) tree -> 0
      else {
        val outPath = s"$root/$tree/_compacted/$gen"
        if (!existing.exists(_._1 == committedSet)) {
          // the generation name is strictly above the input overlay's,
          // so this write NEVER overwrites the directory it reads
          spark.read
            .parquet(paths: _*)
            .coalesce(targetFiles)
            .write
            .mode("overwrite")
            .parquet(outPath)
          // the manifest commits the overlay: written LAST, and
          // readers require it alongside _SUCCESS
          val cov = f.create(new org.apache.hadoop.fs.Path(s"$outPath/_covered"), true)
          try cov.write(committed.mkString("", "\n", "\n").getBytes("UTF-8"))
          finally cov.close()
        }
        // the new overlay is committed: retire superseded overlays
        Option(f.listStatus(new org.apache.hadoop.fs.Path(s"$root/$tree/_compacted")))
          .getOrElse(Array.empty)
          .map(_.getPath)
          .filter(p => p.getName.startsWith("gen=") && p.getName != gen)
          .foreach(p => f.delete(p, true))
        tree -> f
          .listStatus(new org.apache.hadoop.fs.Path(outPath))
          .count(_.getPath.getName.endsWith(".parquet"))
      }
    }.toMap
    if (dropInputs) {
      trees.foreach { tree =>
        committed.foreach { id =>
          f.delete(new org.apache.hadoop.fs.Path(s"$root/$tree/batch=$id"), true)
        }
      }
    }
    Some(CompactReport(
      upto,
      committed.length,
      fileCounts("fingerprints"),
      fileCounts("signatures"),
      dropInputs
    ))
  }

  /** Delete crash debris: per-batch directories whose batch has no
    * commit marker (a prepare that died between its writes and the
    * marker). Committed batches are never touched. Run it from the
    * prepare owner while no batch is in flight — an in-flight batch
    * is indistinguishable from debris until its marker lands.
    * Returns the deleted relative paths.
    */
  def cleanUncommitted(spark: SparkSession, root: String): Seq[String] = {
    val f = fs(spark, root)
    val committed = committedBatches(spark, root).toSet
    val removed = Seq.newBuilder[String]
    Seq("batches", "fingerprints", "signatures").foreach { sub =>
      val dir = new org.apache.hadoop.fs.Path(s"$root/$sub")
      if (f.exists(dir)) f.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("batch=") &&
          !committed.contains(name.stripPrefix("batch="))) {
          f.delete(st.getPath, true)
          removed += s"$sub/$name"
        }
      }
    }
    removed.result()
  }

  /** Store every committed batch's funnel losses as profiling metric
    * series (one ts per batch) — the bridge from an incremental root
    * into the standard monitoring flow: optimize thresholds over the
    * stored series, score new batches, and a kept-share collapse
    * alerts like any data-quality anomaly. Same metric shape as
    * [[graft.service.Service.profileFunnel]] (entity "funnel",
    * instance = drop reason, n_docs + share per batch), but computed
    * in ONE aggregation over all batches — never a per-batch driver
    * loop. Batch ids must be date-shaped (`to_timestamp`-parseable,
    * e.g. `2026-01-01`); a non-parseable id raises rather than
    * silently dropping its batch.
    */
  def profileBatches(
      spark: SparkSession,
      root: String,
      datasetUri: String,
      repo: graft.repository.MetricsRepository
  ): DataFrame = {
    val stats = funnelStatsByBatch(spark, root)
    // try_to_timestamp, not to_timestamp: under ANSI an unparseable
    // id would throw a bare SparkDateTimeException from inside the
    // scan — the NULL check below turns it into a named-batch error
    val ts = try_to_timestamp(col("batch"))
    val bad = stats.where(ts.isNull).select("batch").distinct().limit(5)
      .collect().map(_.getString(0))
    require(
      bad.isEmpty,
      s"batch ids must be to_timestamp-parseable to profile as a series; got: ${bad.mkString(", ")}"
    )
    Service.storeSeries(
      repo,
      Service.funnelMeta(datasetUri, "drop_reason"),
      Service.funnelMetrics(stats, ts, col("drop_reason"), col("n_docs"))
    )
  }

  /** Per-batch funnel loss report over every committed batch — the
    * trend input ("dedup loss is climbing day over day") for
    * [[graft.service.Service.profileFunnel]] / the HTML funnel page.
    * Same aggregation shape as [[Corpus.funnelStats]], keyed by batch.
    */
  def funnelStatsByBatch(
      spark: SparkSession,
      root: String,
      weightCol: Option[String] = None
  ): DataFrame = {
    val paths = batchesWithOutput(spark, root).map(id => s"$root/batches/batch=$id")
    require(paths.nonEmpty, s"no committed batch outputs under $root")
    val all = spark.read.option("basePath", s"$root/batches").parquet(paths: _*)
    val aggs = count(lit(1)).as("n_docs") +:
      weightCol.toSeq.map(w =>
        sum(col(w).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("long")
          .as(s"sum_$w")
      )
    all
      .groupBy(col("batch"), col("drop_reason"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("batch"), col("drop_reason"))
  }
}
