package graft.dedup

import graft.text.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY §2.4).
  *
  * Scale design: every variant reduces to (1) a per-document signature
  * computed scan-side with codegen'd expressions, (2) a shuffle keyed
  * on a compact signature (never the document text), and (3) pairwise
  * work only *within* signature buckets. No all-pairs comparison ever
  * happens across buckets — that is what makes 100 TB feasible.
  */
object Dedup {

  /** Exact dedup: keep the lowest id per key. The SHUFFLE key is the
    * 64-bit content hash (cheap, uniform), but the window additionally
    * partitions on the canonicalized text itself so a 64-bit hash
    * collision between distinct documents (expected at billions of
    * rows) never deletes a non-duplicate — hash-first, verify-within-
    * group, at identical shuffle cost since the row travels anyway.
    */
  def exact(
      df: DataFrame,
      textCol: String,
      idCol: String,
      canonicalize: Column => Column = identity
  ): DataFrame = {
    // A REAL canonicalization is projected once as `_canon` — as a raw
    // expression it would be re-evaluated in the hash key, the exchange
    // partitioning and the window sort (regex normalization 3x/row).
    // The identity case keys on the text column itself instead, so the
    // shuffle does not carry the document twice.
    val scratch = df.columns.toSeq.intersect(Seq("_canon", "_key", "_rn"))
    require(
      scratch.isEmpty,
      s"columns $scratch collide with exact-dedup scratch names _canon/_key/_rn — rename upstream"
    )
    val canonExpr = canonicalize(col(textCol))
    val isIdentity = org.apache.spark.sql.GraftColumnBridge
      .expression(canonExpr)
      .semanticEquals(org.apache.spark.sql.GraftColumnBridge.expression(col(textCol)))
    val canonCol = if (isIdentity) col(textCol) else col("_canon")
    val keyed =
      (if (isIdentity) df else df.withColumn("_canon", canonExpr))
        .withColumn("_key", xxhash64(canonCol))
    val w = Window
      .partitionBy(col("_key"), canonCol)
      .orderBy(col(idCol))
    keyed
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_canon", "_key", "_rn")
  }

  /** Exact dedup after normalization (case/punctuation/whitespace
    * insensitive).
    */
  def exactNormalized(df: DataFrame, textCol: String, idCol: String): DataFrame =
    exact(df, textCol, idCol, Text.normalize)

  /** Corpus-level SEGMENT dedup (C4-style line dedup, Raffel et al.
    * 2020 §2.2 — C4 drops every later occurrence of a three-sentence
    * span corpus-wide): documents are segmented (`w`-token windows
    * here; newline segmentation for corpora with line structure — see
    * [[Text.tokenSegments]]/[[Text.lineSegments]]), each segment keeps
    * only its GLOBAL first occurrence ordered by (id, position), and
    * documents are reassembled from their surviving segments.
    *
    * Returns one row per input document: `idCol`, `n_segments`,
    * `n_kept`, and `text_hash` (md5 of the rebuilt text — compact
    * proof of WHAT survived without shipping the text back).
    *
    * Scale shape: explode is scan-side; first-occurrence election is a
    * map-side-combinable `min(struct(id, pos))` per segment — NOT a
    * window, so a boilerplate segment with 10^8 occurrences costs a
    * partial-agg tree, never a single-task sort. The join back on the
    * segment key has exactly one row on the winners side per key, so
    * hot keys stream. Reassembly groups by document (bounded by doc
    * length). Two shuffles total, both on compact keys.
    */
  def segmentDedupSweep(
      df: DataFrame,
      textCol: String,
      idCol: String,
      segmentTokens: Int = 8
  ): DataFrame = {
    val segsArr = Text.tokenSegments(col(textCol), segmentTokens)
    val base = df.select(
      col(idCol).as("_id"),
      posexplode(segsArr).as(Seq("_pos", "_seg"))
    )
    // shuffle key is the 64-bit segment hash; the segment text rides
    // along for collision verification (same hash-first,
    // verify-within-group rule as `exact`), but the JOIN key stays the
    // 8-byte hash — equality on the text is a post-join filter, so
    // partitioning and probing never touch long strings
    val hashed = base.withColumn("_k", xxhash64(col("_seg")))
    val firsts = hashed
      .groupBy(col("_k"), col("_seg"))
      .agg(min(struct(col("_id").as("_fid"), col("_pos").as("_fpos"))).as("_f"))
      .select(col("_k"), col("_seg").as("_fseg"), col("_f"))
    val kept = hashed
      .join(firsts, Seq("_k"))
      .where(
        col("_seg") === col("_fseg") &&
          col("_id") === col("_f._fid") && col("_pos") === col("_f._fpos")
      )
    val rebuilt = kept
      .groupBy(col("_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("_pos"), col("_seg")))),
            s => s.getField("_seg")
          ),
          " "
        ).as("_txt")
      )
    // segment COUNT without re-materializing the segment strings:
    // size(tokenSegments(c, w)) == ceil(size(tokens(c)) / w) by
    // construction (the transform is over sequence(1, that ceil)), so
    // the spine pays one tokenize, not a second full segmentation with
    // an array_join per segment
    val nSegs = ceil(
      size(Text.tokens(col(textCol))) / lit(segmentTokens.toDouble)
    ).cast("long")
    df.select(col(idCol).as("_id"), nSegs.as("n_segments"))
      .join(rebuilt, Seq("_id"), "left_outer")
      .select(
        col("_id").as(idCol),
        col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        md5(coalesce(col("_txt"), lit(""))).as("text_hash")
      )
  }

  /** Corpus-level boilerplate stripping: any segment appearing in at
    * least `minDocFrac` of documents (distinct-doc frequency — license
    * headers, cookie banners, templated navigation) is removed from
    * EVERY document, and documents are rebuilt from the surviving
    * segments in order. The frequency-threshold companion to
    * [[segmentDedupSweep]] (which keeps first occurrences): boilerplate
    * is noise in every copy, so no occurrence survives.
    *
    * Output `(idCol, n_segments, n_kept, text_hash)` — same contract
    * as the segment sweep; a fully-boilerplate document keeps 0
    * segments and hashes the empty string.
    *
    * Scale shape: segment frequency is one distinct-count aggregation
    * on the 8-byte segment hash (segment text rides along only for
    * collision verification); the corpus total arrives as a 1-row
    * broadcast on a literal key (never a nested-loop); the hot-set
    * anti join keys on (hash, segment) so a hash collision with a
    * boilerplate segment cannot strip an innocent one.
    */
  def stripBoilerplate(
      df: DataFrame,
      textCol: String,
      idCol: String,
      segmentTokens: Int = 8,
      minDocFrac: Double = 0.05
  ): DataFrame = {
    require(
      minDocFrac > 0 && minDocFrac <= 1,
      s"minDocFrac must be in (0, 1], got $minDocFrac"
    )
    val segsArr = Text.tokenSegments(col(textCol), segmentTokens)
    val base = df.select(
      col(idCol).as("_id"),
      posexplode(segsArr).as(Seq("_pos", "_seg"))
    )
    val hashed = base.withColumn("_k", xxhash64(col("_seg")))
    val nDocs = df
      .agg(count(lit(1)).as("_ndocs"))
      .withColumn("_one", lit(1))
    val hot = hashed
      .groupBy(col("_k"), col("_seg"))
      .agg(count_distinct(col("_id")).as("_docs"))
      .withColumn("_one", lit(1))
      .join(nDocs, "_one")
      .where(col("_docs") >= lit(minDocFrac) * col("_ndocs"))
      .select(col("_k"), col("_seg"))
    // anti join on (hash, segment): collision-safe — an innocent
    // segment sharing a boilerplate segment's hash differs on the
    // string and survives; keyed by the hash, the string is tiebreak
    val kept = hashed.join(hot, Seq("_k", "_seg"), "left_anti")
    val rebuilt = kept
      .groupBy(col("_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("_pos"), col("_seg")))),
            s => s.getField("_seg")
          ),
          " "
        ).as("_txt")
      )
    // segment COUNT without re-materializing the segment strings:
    // size(tokenSegments(c, w)) == ceil(size(tokens(c)) / w) by
    // construction (the transform is over sequence(1, that ceil)), so
    // the spine pays one tokenize, not a second full segmentation with
    // an array_join per segment
    val nSegs = ceil(
      size(Text.tokens(col(textCol))) / lit(segmentTokens.toDouble)
    ).cast("long")
    df.select(col(idCol).as("_id"), nSegs.as("n_segments"))
      .join(rebuilt, Seq("_id"), "left_outer")
      .select(
        col("_id").as(idCol),
        col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        md5(coalesce(col("_txt"), lit(""))).as("text_hash")
      )
  }

  /** Canonical-document selection: per exact-duplicate cluster
    * (fingerprint of normalized text), elect the single best document
    * by `rankCol` (highest wins; ties broken by lowest id) — the
    * quality-aware alternative to `exact`'s keep-lowest-id rule, so a
    * cluster keeps its longest/highest-quality copy instead of an
    * arbitrary one. Returns (fingerprint, canonical id, group_size).
    *
    * Scale shape: argmax via map-side-combinable `min(struct(-rank,
    * id))` per fingerprint — one shuffle on a 32-hex key, no window,
    * hot clusters (the 10^6-copy boilerplate case) cost a partial-agg
    * tree.
    */
  def canonicalPick(
      df: DataFrame,
      textCol: String,
      idCol: String,
      rankCol: String
  ): DataFrame =
    df.select(
        Text.fingerprint(col(textCol)).as("fingerprint"),
        col(idCol).as("_id"),
        col(rankCol).cast("double").as("_r")
      )
      .groupBy("fingerprint")
      .agg(
        min(struct((-col("_r")).as("_nr"), col("_id").as("_cid"))).as("_w"),
        count(lit(1)).as("group_size")
      )
      .select(
        col("fingerprint"),
        col("_w._cid").as("canonical_id"),
        col("group_size")
      )

  /** MinHash signature: for seed s, min over shingle hashes of
    * XXH64(shingleHash, seed=s). Takes pre-hashed shingles (one long
    * per shingle — see [[Text.shingleHashesFromTokenHashes]]) so the
    * expensive string work happens exactly once per document. Backed by
    * the custom Catalyst expression
    * [[graft.functions.hashExpressions.MinHashSignature]]: one tight
    * loop per row instead of numHashes interpreted HOF traversals —
    * scan-side, no shuffle.
    */
  def minhashSignature(shingleHashes: Column, numHashes: Int): Column =
    graft.functions.hashExpressions.minhashSignature(shingleHashes, numHashes)

  /** LSH band keys: the signature is cut into `bands` rows of
    * `rowsPerBand`, each band hashed to one bucket key.
    */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64(
          (lit(b) +: (0 until rowsPerBand).map(r =>
            element_at(sig, b * rowsPerBand + r + 1)
          )): _*
        ).as("bucket")
      )
    }: _*)

  /** MinHash-LSH near-duplicate candidate pairs, filtered on the
    * SIGNATURE-ESTIMATED Jaccard (fraction of agreeing minhash slots;
    * stddev ~ sqrt(J(1-J)/numHashes), so raise numHashes when the
    * threshold must discriminate finely). Estimation keeps the shuffle
    * signature-only; callers needing exact verification join the
    * shingle sets back on the (small) surviving pair set.
    *
    * Pipeline: shingle-hash -> minhash (scan-side, native exprs) ->
    * explode bands -> shuffle on (band, bucket) -> pairs within
    * buckets -> estimated-Jaccard filter -> distinct. Only documents
    * agreeing on at least one band are ever paired, and hot buckets
    * (> `bucketCap` members — boilerplate clusters) emit a bounded
    * STAR instead of |bucket|^2 pairs; see [[BucketJoin.selfPairs]]
    * for the exact semantics and the recall trade (0 disables).
    *
    * Output: id_a, id_b, jaccard (estimated).
    */
  /** Banded signature rows `(id, sig, band, bucket)` — the shared
    * front half of the self-join and cross-corpus pair pipelines.
    *
    * Token-hash, shingle-hash, and signature are SEPARATE projections
    * so each array materializes once as an attribute before the next
    * HOF consumes it (nested HOFs re-evaluate their inputs per element
    * in interpreted mode — measured 16-40x slower). The signature table
    * is materialized EAGERLY (graft.functions.materialize:
    * localCheckpoint by default, reliable checkpoint under
    * graft.checkpoint.reliable=true): it feeds the band explode AND
    * both sides of the candidate-pair join, and a lazy cache would
    * still compute the subtree once per branch inside the single job.
    * At cluster scale this is the standard "write the signature table"
    * step of every LSH pipeline. The signature (numHashes longs —
    * 128 B at the default 16) rides along through the band explode, so
    * the bucket join yields both signatures directly: no join-back
    * stages. For much larger signatures, join the signature table back
    * on id instead.
    */
  private def bandedMinhash(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int,
      numHashes: Int,
      bands: Int
  ): DataFrame =
    bandedFromSigs(
      graft.functions.materialize(
        minhashSignatureTable(df, textCol, idCol, shingleN, numHashes)
      ),
      numHashes,
      bands
    )

  /** The storable (id, sig) half of the banded pipeline: scan-side
    * token-hash -> shingle-hash -> minhash signature, one row per
    * document with at least one shingle. This is the table an
    * incremental corpus persists per batch (~8 B x numHashes per doc)
    * so later batches can near-dup against it WITHOUT re-reading prior
    * text — join with [[crossMinhashPairsBetweenSigs]]. Signatures are
    * deterministic (XXH64 chain), so a stored table and a recomputation
    * of the same text under the same (shingleN, numHashes) are
    * interchangeable.
    */
  def minhashSignatureTable(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16
  ): DataFrame =
    // no spread here: the XXH64 kernel is cheap enough that a measured
    // A/B (r14) showed the extra exchange costing more than the serial
    // scan it parallelizes — see PortableDedup for the md5 family,
    // where the kernel is 3-5x heavier and spread wins
    df
      .select(col(idCol).as("id"), Text.tokenHashes(col(textCol)).as("_th"))
      .select(
        col("id"),
        Text.shingleHashesFromTokenHashes(col("_th"), shingleN).as("_sh")
      )
      .where(size(col("_sh")) > 0)
      .select(col("id"), minhashSignature(col("_sh"), numHashes).as("sig"))

  /** Band-explode a signature table ((id, sig) -> (id, sig, band,
    * bucket)) — pure column math, shared by the live pipelines and the
    * stored-signature joins.
    */
  private def bandedFromSigs(
      sigs: DataFrame,
      numHashes: Int,
      bands: Int
  ): DataFrame = {
    require(
      bands > 0 && numHashes % bands == 0 && numHashes / bands > 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands) — " +
        "a zero-row band would put every document in one bucket (all-pairs join)"
    )
    val rowsPerBand = numHashes / bands
    sigs
      .select(
        col("id"),
        col("sig"),
        explode(bandHashes(col("sig"), bands, rowsPerBand)).as("bh")
      )
      .select(col("id"), col("sig"), col("bh.band").as("band"), col("bh.bucket").as("bucket"))
  }

  /** Signature-estimated Jaccard: fraction of agreeing minhash slots
    * between the `_sa` and `_sb` signature arrays.
    */
  private def estJaccard(numHashes: Int) = {
    val za = zip_with(col("_sa"), col("_sb"), (x, y) => when(x === y, 1).otherwise(0))
    aggregate(za, lit(0), (acc, v) => acc + v).cast("double") / numHashes
  }

  def minhashLshPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      bucketCap: Int = 0
  ): DataFrame = {
    val banded = bandedMinhash(df, textCol, idCol, shingleN, numHashes, bands)
    BucketJoin
      .selfPairs(banded, Seq("band", "bucket"), "sig", bucketCap)
      .withColumn("jaccard", estJaccard(numHashes))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .distinct()
  }

  /** Cross-corpus MinHash-LSH pairs (XXH64 throughput family) — the
    * decontamination shape: every (left, right) pair above the
    * estimated-Jaccard threshold ACROSS two corpora (benchmark vs
    * training set). Both sides are banded with the same signature
    * pipeline; only the (band, bucket) join crosses corpora, so cost
    * tracks bucket collisions, never |left| x |right|, and a hot
    * bucket compares each corpus doc against at most `leftBucketCap`
    * benchmark docs (see [[BucketJoin.crossPairs]]; 0 disables). See
    * [[graft.dedup.PortableDedup.crossMinhashPairs]] for the
    * oracle-verifiable md5 variant.
    *
    * Output: id_l, id_r, jaccard (estimated).
    */
  def crossMinhashPairs(
      left: DataFrame,
      right: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      leftBucketCap: Int = 0
  ): DataFrame =
    BucketJoin
      .crossPairs(
        bandedMinhash(left, textCol, idCol, shingleN, numHashes, bands),
        bandedMinhash(right, textCol, idCol, shingleN, numHashes, bands),
        Seq("band", "bucket"),
        "sig",
        leftBucketCap
      )
      .withColumn("jaccard", estJaccard(numHashes))
      .where(col("jaccard") >= threshold)
      .select("id_l", "id_r", "jaccard")
      .distinct()

  /** [[crossMinhashPairs]] where BOTH sides are precomputed signature
    * tables ((id, sig) rows, same numHashes) — the shape the
    * incremental pipeline needs (r15): each batch's signatures are
    * computed once, checkpointed, and serve both the near-dup join
    * against the prior batches' stored tables and the batch's own
    * persisted signature tree, instead of tokenize+minhashing the
    * batch twice. Sides must share (shingleN, numHashes, bands) —
    * enforced upstream by the signatures/_meta pin where applicable.
    */
  def crossMinhashPairsBetweenSigs(
      leftSigs: DataFrame,
      rightSigs: DataFrame,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      leftBucketCap: Int = 0
  ): DataFrame =
    BucketJoin
      .crossPairs(
        bandedFromSigs(leftSigs.select(col("id"), col("sig")), numHashes, bands),
        bandedFromSigs(rightSigs.select(col("id"), col("sig")), numHashes, bands),
        Seq("band", "bucket"),
        "sig",
        leftBucketCap
      )
      .withColumn("jaccard", estJaccard(numHashes))
      .where(col("jaccard") >= threshold)
      .select("id_l", "id_r", "jaccard")
      .distinct()

  /** 64-bit SimHash over a *materialized* token-hash array (see
    * [[Text.tokenHashes]]): bit j of the signature is the sign of
    * sum(+1/-1 over tokens by bit j of the token hash). Backed by the
    * custom Catalyst expression
    * [[graft.functions.hashExpressions.SimHash64]]: one pass with 64
    * counters per row — strings were hashed exactly once upstream.
    */
  def simhash64(tokenHashes: Column): Column =
    graft.functions.hashExpressions.simhash64(tokenHashes)

  /** Near-duplicate removal sweep: keep every document that is not the
    * higher-id member of any near-dup pair (greedy keep-lowest-id — the
    * standard single-pass sweep; exact connected-component dedup would
    * need iterative label propagation and is rarely worth it in
    * practice). One anti-join against the distinct flagged ids.
    */
  def nearDupSweep(
      df: DataFrame,
      pairs: DataFrame,
      idCol: String
  ): DataFrame =
    df.join(
      pairs.select(col("id_b")).distinct(),
      df(idCol) === col("id_b"),
      "left_anti"
    )

  /** Connected components of the near-dup pair graph. Output:
    * (id, label) where label = min id of the component.
    *
    * Hybrid execution: the pair graph after LSH blocking is usually
    * MANY orders of magnitude smaller than the corpus, and when it
    * fits comfortably on the driver (<= `driverThreshold` directed
    * edges) an exact union-find there replaces iterative shuffle jobs
    * with one collect — the same trade GraphX/GraphFrames make for
    * small graphs. Larger graphs run the distributed
    * LARGE-STAR/SMALL-STAR alternation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round
    * re-points edges at per-node minima, contracting every component
    * to a star on its min id in O(log^2 n) rounds REGARDLESS OF
    * DIAMETER — plain min-label propagation needs O(diameter) rounds,
    * so a million-document chain of pairwise near-dups would need a
    * million shuffles where this needs ~20. Every round is two
    * partial-aggregated groupBys + joins on the (shrinking) edge set;
    * lineage is truncated per round (reliable checkpoints under
    * graft.checkpoint.reliable=true). `maxIter` bounds the rounds;
    * exhausting it RAISES rather than returning the partially
    * contracted edge set as labels (silently inconsistent output is
    * the one unacceptable failure mode of a dedup sweep). The default
    * budget of 30 covers ~billion-node graphs with room to spare —
    * post-convergence rounds cost nothing because the loop exits on
    * the first fixpoint signature match.
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIter: Int = 30,
      driverThreshold: Long = 1L << 20
  ): DataFrame = {
    val edges = graft.functions.materialize(
      pairs
        .select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    )
    val nEdges = edges.count() // free: edges are already materialized
    // the driver union-find stores ids as longs — non-integral id
    // types (e.g. string doc ids) stay on the type-agnostic
    // distributed path regardless of size
    val integralIds = edges.schema("src").dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType =>
        true
      case _ => false
    }
    if (integralIds && nEdges <= driverThreshold) return driverComponents(edges)

    // both directions of an edge set (the star ops group by node)
    def directed(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    // large-star: every neighbor v > u re-points at m(u) = min(N(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val d = directed(e)
      val m = d
        .groupBy("src")
        .agg(min("dst").as("_mn"))
        .select(col("src"), least(col("_mn"), col("src")).as("_m"))
      d.join(m, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("_m").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
    }
    // small-star: u and every smaller neighbor re-point at the min of
    // u's smaller neighborhood
    def smallStar(e: DataFrame): DataFrame = {
      val d = directed(e).where(col("dst") < col("src"))
      val m = d.groupBy("src").agg(min("dst").as("_m"))
      val vEdges = d
        .join(m, "src")
        .where(col("dst") =!= col("_m"))
        .select(col("dst").as("src"), col("_m").as("dst"))
      val uEdges = m.select(col("src"), col("_m").as("dst"))
      vEdges.unionByName(uEdges).where(col("src") =!= col("dst")).distinct()
    }
    // order-independent fixpoint signature: stable (count, hash-sum)
    // across a round ⇒ the edge set ALMOST CERTAINLY reproduced itself.
    // The sum runs in DECIMAL(38,0) — a long sum of 2^63-scale hashes
    // overflows under ANSI mode on the second edge. A signature match
    // is only a trigger: convergence is then CONFIRMED with one exact
    // set-difference, so a 2^-64 hash-sum collision costs one extra
    // check, never a wrong early exit.
    def signature(e: DataFrame): (Long, String) = {
      val r = e
        .agg(
          count(lit(1)).as("_n"),
          sum(
            xxhash64(col("src"), col("dst"))
              .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("_h"))
        .collect()
        .head
      (r.getLong(0), String.valueOf(r.get(1)))
    }

    var e = graft.functions.materialize(
      edges.where(col("src") < col("dst")).distinct()
    )
    var sig = signature(e)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val prev = e
      e = graft.functions.materialize(smallStar(largeStar(e)))
      val next = signature(e)
      converged =
        next == sig && e.exceptAll(prev).limit(1).count() == 0
      sig = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: star alternation did not reach a fixpoint within " +
          s"$maxIter rounds — labels read off a partially contracted edge set would " +
          "be inconsistent. Raise maxIter (converged rounds are free; the loop " +
          "exits on the first fixpoint)."
      )
    // at fixpoint every non-root carries exactly (v, root); the root's
    // own min-neighbor is a member > root, so least(...) keeps it.
    // Nodes whose ONLY pairs were self-pairs (id_a == id_b) never enter
    // the star edge set — re-attach every original node so both
    // execution paths cover the identical node set.
    val starLabels = directed(e)
      .groupBy("src")
      .agg(min("dst").as("_mn"))
      .select(col("src").as("id"), least(col("_mn"), col("src")).as("label"))
    edges
      .select(col("src").as("id"))
      .distinct()
      .join(starLabels, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Exact driver-side union-find (path compression + union by min)
    * over a collected edge list — the small-graph path of
    * [[connectedComponents]].
    */
  private def driverComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val idType = edges.schema("src").dataType
    val es = edges.select(col("src").cast("long"), col("dst").cast("long")).as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val out = parent.keys.toSeq.map { id =>
      // union-by-min makes every root the minimum of its class, so
      // find(id) IS the component's min id
      (id, find(id))
    }
    // cast back to the input id type — otherwise the result schema
    // would depend on which path (driver vs distributed) ran
    out.toDF("id", "label").select(col("id").cast(idType).as("id"), col("label").cast(idType).as("label"))
  }

  /** Exact cluster dedup: keep one document (the min id) per connected
    * component of the pair graph. Stricter than [[nearDupSweep]]'s
    * greedy pass — e.g. pairs (1,3),(2,3) leave greedy keeping {1,2}
    * even though 1 and 2 are transitively near-dups; components keep
    * only {1}.
    */
  def componentSweep(
      df: DataFrame,
      pairs: DataFrame,
      idCol: String,
      maxIter: Int = 30
  ): DataFrame = {
    val drop = connectedComponents(pairs, maxIter)
      .where(col("id") =!= col("label"))
      .select("id")
    df.join(drop, df(idCol) === drop("id"), "left_anti")
  }

  /** MinHash-LSH dedup end-to-end: candidate pairs then sweep. */
  def minhashDedup(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      bucketCap: Int = 0
  ): DataFrame =
    nearDupSweep(
      df,
      minhashLshPairs(df, textCol, idCol, shingleN, numHashes, bands, threshold, bucketCap),
      idCol
    )

  /** SimHash near-dup pairs with Hamming distance <= maxHamming.
    *
    * Candidate generation uses the pigeonhole principle: the 64-bit
    * signature is split into maxHamming+1 chunks; any pair within
    * maxHamming bits must agree exactly on at least one chunk, so the
    * shuffle key is (chunk_id, chunk_value) and only chunk-colliding
    * pairs are compared. Hot chunks (> `bucketCap` members) emit a
    * bounded star — see [[BucketJoin.selfPairs]] (0 disables).
    */
  def simhashPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      bucketCap: Int = 0
  ): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming out of range: $maxHamming")
    val chunks = maxHamming + 1
    val bitsPerChunk = 64 / chunks
    // 1L << 64 wraps to 1 in JVM shift semantics — a maxHamming=0 mask
    // of zero would collapse every doc into one bucket (all-pairs join).
    val chunkMask = if (bitsPerChunk == 64) -1L else (1L << bitsPerChunk) - 1
    val sigs = df
      .select(col(idCol).as("id"), Text.tokenHashes(col(textCol)).as("_th"))
      .select(col("id"), simhash64(col("_th")).as("sig"))
    val chunked = sigs.select(
      col("id"),
      col("sig"),
      explode(array((0 until chunks).map { c =>
        struct(
          lit(c).as("chunk"),
          shiftright(col("sig"), c * bitsPerChunk)
            .bitwiseAND(chunkMask)
            .as("ck")
        )
      }: _*)).as("ch")
    ).select(col("id"), col("sig"), col("ch.chunk").as("chunk"), col("ch.ck").as("ck"))
    BucketJoin
      .selfPairs(chunked, Seq("chunk", "ck"), "sig", bucketCap)
      .select(
        col("id_a"),
        col("id_b"),
        bit_count(col("_sa").bitwiseXOR(col("_sb"))).as("hamming")
      )
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact duplicated word-spans across documents — the fixed-width
    * shingle approximation of suffix-array substring dedup (the method
    * of Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better", which removes repeated >= 50-token substrings):
    * every `spanWords`-word sliding window is hashed, and a span whose
    * hash occurs in >= `minDocs` distinct documents is reported with
    * its document- and occurrence-counts.
    *
    * Scale shape: one corpus scan emits (span_hash, doc_id) pairs —
    * the shuffle key is the hash, never the span text — and the
    * aggregate is map-side combinable per hash. Output is only the
    * duplicated-span table (empirically orders of magnitude smaller
    * than the corpus), so downstream joins against it are
    * broadcast-or-bounded.
    *
    * This is the PORTABLE family (md5 over the materialized span
    * string, 32-char hex key — computable in any engine, which is what
    * lets the driver oracle-gate it). The 100 TB path is
    * [[duplicateSpansFast]]: same plan, but spans never materialize as
    * strings — one codegen'd token-hash pass and long-to-long shingle
    * chaining, with an 8-byte shuffle key.
    */
  def duplicateSpans(
      df: DataFrame,
      textCol: String,
      idCol: String,
      spanWords: Int = 8,
      minDocs: Int = 2
  ): DataFrame = {
    require(spanWords >= 1, s"spanWords must be >= 1, got $spanWords")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // tokenize in its own projection — see Text.wordShingles scaladoc;
    // spread: serial-scan guard for the span kernel (no-op on parallel
    // inputs)
    graft.functions
      .spread(df)
      .select(col(idCol), Text.tokens(col(textCol)).as("_toks"))
      .select(
        col(idCol),
        explode(Text.wordShinglesFromTokens(col("_toks"), spanWords)).as("_span")
      )
      .select(col(idCol), md5(col("_span")).as("span_hash"))
      .groupBy(col("span_hash"))
      .agg(
        countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences")
      )
      .where(col("n_docs") >= minDocs)
  }

  /** Cross-source duplicate-overlap matrix over exact word-spans: for
    * every pair of sources (domains, crawls, shards), how many
    * distinct `spanWords`-word spans they share, and how many
    * (doc-in-a, doc-in-b) pairs that overlap induces. The standard
    * corpus-forensics view before mixing sources into a training run —
    * a hot cell in the matrix means one source substantially mirrors
    * another (syndication, scraper overlap, re-crawl), so their
    * nominal mixture weights double-count the same text.
    *
    * Output: `(source_a, source_b, shared_spans, cross_doc_pairs)`,
    * one row per unordered pair with `source_a < source_b` that shares
    * at least one span.
    *
    * Scale shape: one corpus scan emits (span_hash, source, doc) —
    * shuffle key is the 16-byte hash, never the span text — reduced
    * map-side to per-(hash, source) doc counts. The self-join then
    * works on groups bounded by |sources| per hash, and the final
    * aggregate is the |sources|^2 matrix itself. Total join work is
    * sum over spans of (sources-containing-it)^2 — bounded by
    * |sources| per span, NOT by doc counts, so a million-doc
    * boilerplate span costs |sources|^2, not 10^12. Portable md5
    * family (same convention as [[duplicateSpans]]) so the whole
    * matrix is oracle-checkable.
    */
  def sourceOverlapSpans(
      df: DataFrame,
      textCol: String,
      idCol: String,
      groupCol: String,
      spanWords: Int = 8
  ): DataFrame = {
    require(spanWords >= 1, s"spanWords must be >= 1, got $spanWords")
    // spread: serial-scan guard (no-op on parallel inputs)
    val perSource = graft.functions
      .spread(df)
      .select(
        col(groupCol).as("_g"),
        col(idCol).as("_id"),
        Text.tokens(col(textCol)).as("_toks")
      )
      .select(
        col("_g"),
        col("_id"),
        explode(Text.wordShinglesFromTokens(col("_toks"), spanWords)).as("_span")
      )
      .select(col("_g"), col("_id"), md5(col("_span")).as("_h"))
      .groupBy("_h", "_g")
      .agg(countDistinct(col("_id")).as("_nd"))
    perSource
      .as("a")
      .join(perSource.as("b"), "_h")
      .where(col("a._g") < col("b._g"))
      .groupBy(col("a._g").as("source_a"), col("b._g").as("source_b"))
      .agg(
        count(lit(1)).as("shared_spans"),
        sum(col("a._nd") * col("b._nd")).as("cross_doc_pairs")
      )
  }

  /** XXH64 throughput family of [[duplicateSpans]]: span hashes chain
    * 64-bit token hashes (graft.functions.hashExpressions — codegen'd,
    * zero span-string materialization, 8-byte shuffle key). Same
    * output semantics up to hash collisions; spec-verified to group
    * identically to the portable family on planted duplicates.
    */
  def duplicateSpansFast(
      df: DataFrame,
      textCol: String,
      idCol: String,
      spanWords: Int = 8,
      minDocs: Int = 2
  ): DataFrame = {
    require(spanWords >= 1, s"spanWords must be >= 1, got $spanWords")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    df.select(
        col(idCol),
        explode(
          Text.shingleHashesFromTokenHashes(
            Text.tokenHashes(col(textCol)),
            spanWords
          )
        ).as("span_hash")
      )
      .groupBy(col("span_hash"))
      .agg(
        countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences")
      )
      .where(col("n_docs") >= minDocs)
  }

  /** Exact cross-corpus span overlap — the EXACT companion to the
    * MinHash [[crossMinhashPairs]] decontamination: report every
    * (benchmark doc, corpus doc) pair sharing >= `minShared` distinct
    * `spanWords`-word spans, with containment = shared / benchmark-doc
    * spans (the n-gram-overlap contamination test of open-LM eval
    * hygiene, e.g. GPT-3's 13-gram and PaLM's 8-gram checks).
    *
    * Scale shape: both sides reduce to distinct (id, span_hash) pairs
    * scan-side; the join keys on the hash with the BENCHMARK side
    * orders of magnitude smaller (eval suites vs a training corpus) —
    * AQE broadcasts it, and the per-pair aggregate is map-side
    * combinable. Nothing is all-pairs.
    */
  def crossSpanOverlap(
      bench: DataFrame,
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      spanWords: Int = 8,
      minShared: Long = 1,
      benchBloomBits: Long = 0L,
      benchBloomItems: Long = 1L << 20
  ): DataFrame = {
    require(spanWords >= 1, s"spanWords must be >= 1, got $spanWords")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    def spans(df: DataFrame, as: String) = df
      .select(col(idCol).as(as), Text.tokens(col(textCol)).as("_toks"))
      .select(
        col(as),
        explode(Text.wordShinglesFromTokens(col("_toks"), spanWords)).as("_span")
      )
      .select(col(as), md5(col("_span")).as("_h"))
      .distinct()
    // the benchmark span set feeds BOTH the join and the denominator —
    // materialize once instead of tokenizing/exploding/distincting the
    // bench corpus twice
    val bs = graft.functions.materialize(spans(bench, "id_l"))
    // benchBloomBits > 0 pre-reduces the CORPUS span stream with a
    // fixed-size bloom over the (materialized) bench span hashes
    // before anything shuffles: at web scale the corpus has ~10^6x
    // more spans than the benchmark, and almost none of them can
    // match — the bloom drops them at scan time for numBits/8 bytes
    // of broadcast, and false positives are removed by the exact
    // equi-join, so results are bit-identical (oracle-proven).
    val cs0 = spans(corpus, "id_r")
    val cs =
      if (benchBloomBits > 0L) {
        val bloom = graft.operators.BloomJoin
          .buildBloom(bs, "_h", benchBloomItems, benchBloomBits)
        cs0.where(graft.operators.BloomJoin.mightContain(bloom, col("_h")))
      } else cs0
    val btot = bs.groupBy(col("id_l")).agg(count(lit(1)).as("_n_bench"))
    bs.join(cs, "_h")
      .groupBy(col("id_l"), col("id_r"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .join(btot, "id_l")
      .select(
        col("id_l"),
        col("id_r"),
        col("n_shared"),
        graft.functions
          .round6(col("n_shared").cast("double") / col("_n_bench"))
          .as("containment")
      )
  }

  /** EXACT token-set similarity self-join at a Jaccard threshold, via
    * prefix filtering (Chaudhuri et al. ICDE'06 / Bayardo et al.
    * WWW'07 "all-pairs"): every pair with Jaccard(tokensA, tokensB) >=
    * `threshold`, with the exact score — no LSH probability of missing
    * a pair (the deterministic companion to [[minhashPairs]]).
    *
    * Candidate generation is LOSSLESS: tokens get a canonical global
    * order (document frequency ascending, rarest first, token-string
    * tiebreak); a set of size s keeps only its first
    * s - ceil(t*s) + 1 tokens as its PREFIX, and any pair meeting the
    * threshold provably shares a token in both prefixes. The inverted
    * index is built over prefixes only — and because prefixes take the
    * RAREST tokens, hot stopword posting lists never enter the join
    * (the skew mitigation is inherent, not a cap; truly identical
    * documents still share full prefixes, so run [[exact]] dedup first
    * on corpora with massive literal-duplicate clusters). A size
    * filter (t*sb <= sa <= sb/t) prunes candidates that cannot meet
    * the threshold on cardinality alone. Verification joins the
    * candidate pairs back to the sorted token arrays and computes the
    * exact intersection scan-side.
    *
    * Shuffles: token df count, per-doc re-sort, prefix-token join,
    * pair distinct, two verification joins — all equi-keyed, nothing
    * all-pairs.
    */
  def jaccardThresholdJoin(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double
  ): DataFrame = {
    require(
      threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold"
    )
    // empty-string artifacts from consecutive/leading spaces are NOT
    // tokens (same rule as containmentJoin): left in, 'a  b' vs 'a b'
    // would share the phantom "" and score 2/3 instead of the true
    // 1.0, and two whitespace-only docs would score an exact 1.0
    val toks = df.select(
      col(idCol),
      array_remove(array_distinct(Text.tokens(col(textCol))), "").as("_ts")
    )
    val exploded = toks.select(col(idCol), explode(col("_ts")).as("_tok"))
    val freq = exploded.groupBy("_tok").agg(count(lit(1)).as("_df"))
    // canonical order: (df asc, token asc) — recollect each doc's set
    // sorted by that order, so the array prefix IS the rarest-first
    // prefix
    // materialized once: three consumers (prefix index + both sides of
    // the verification join) would otherwise each recompute the
    // explode→df-join→sort aggregation (plan-measured: 16 exchanges,
    // zero reuse, uncheckpointed)
    val ordered = graft.functions.materialize(
      exploded
        .join(freq, "_tok")
        .groupBy(col(idCol))
        .agg(
          sort_array(collect_list(struct(col("_df"), col("_tok")))).as("_ord")
        )
        .select(
          col(idCol),
          transform(col("_ord"), e => e.getField("_tok")).as("_ts"),
          size(col("_ord")).cast("long").as("_sz")
        )
    )
    val prefLen =
      (col("_sz") - ceil(lit(threshold) * col("_sz")) + 1).cast("int")
    val prefTok = ordered
      .select(
        col(idCol),
        col("_sz"),
        explode(slice(col("_ts"), lit(1), prefLen)).as("_tok")
      )
    val a = prefTok.select(
      col("_tok"),
      col(idCol).as("id_a"),
      col("_sz").as("_sa")
    )
    val b = prefTok.select(
      col("_tok"),
      col(idCol).as("id_b"),
      col("_sz").as("_sb")
    )
    val cands = a
      .join(b, Seq("_tok"))
      .where(
        col("id_a") < col("id_b") &&
          col("_sa") >= lit(threshold) * col("_sb") &&
          col("_sb") >= lit(threshold) * col("_sa")
      )
      .select("id_a", "id_b")
      .distinct()
    val sets = ordered.select(col(idCol), col("_ts"))
    cands
      .join(sets.select(col(idCol).as("id_a"), col("_ts").as("_ta")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("_ts").as("_tb")), "id_b")
      .withColumn(
        "n_intersection",
        size(array_intersect(col("_ta"), col("_tb"))).cast("long")
      )
      .withColumn(
        "_j",
        col("n_intersection") /
          (size(col("_ta")) + size(col("_tb")) - col("n_intersection"))
      )
      .where(col("_j") >= threshold)
      .select(
        col("id_a"),
        col("id_b"),
        col("n_intersection"),
        graft.functions.round6(col("_j")).as("jaccard")
      )
  }

  /** EXACT asymmetric token-set CONTAINMENT join at a threshold:
    * every (probe, reference) pair with
    * `|tokens(probe) ∩ tokens(reference)| / |tokens(probe)| >= threshold`,
    * with the exact score — "this probe document is mostly inside that
    * reference document". Containment is what quote/subset detection
    * and train-on-test leakage need where Jaccard fails: a 50-token
    * quote inside a 5000-token article has Jaccard ~0.01 but
    * containment 1.0. The set-level companion to the span-level
    * [[crossSpanOverlap]]/[[contaminationScore]].
    *
    * Candidate generation is LOSSLESS prefix filtering, the asymmetric
    * variant of [[jaccardThresholdJoin]]'s: probe sets sort by global
    * token order (df asc, token asc) and keep the first
    * s - ceil(t*s) + 1 tokens (a qualifying pair has at most
    * s - ceil(t*s) probe tokens OUTSIDE the reference, so at least one
    * prefix token is shared); the reference side must index ALL its
    * tokens (containment puts no ceiling on reference size — only the
    * floor |ref| >= t*|probe|, applied as the size filter). Prefixes
    * take the rarest tokens, so the candidate join keys are cold by
    * construction; the reference's hot-token posting lists only
    * surface when a probe prefix itself holds a hot token (an
    * all-stopword probe). Probes with zero tokens emit nothing
    * (containment over an empty set is undefined).
    *
    * `excludeSelfPairs` drops id_a == id_b rows — ON for the
    * overlapping-corpora case (reference is a slice of the probe
    * corpus); turn OFF when the two id spaces are unrelated and equal
    * ids are a coincidence.
    *
    * Shuffles: shared token-df count, probe re-sort, prefix-vs-all
    * token join, pair distinct, two verification joins — all
    * equi-keyed, nothing all-pairs.
    */
  def containmentJoin(
      probe: DataFrame,
      reference: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      excludeSelfPairs: Boolean = true
  ): DataFrame = {
    require(
      threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold"
    )
    // empty-string artifacts from consecutive/leading spaces are NOT
    // tokens: left in, an empty probe would "contain" (score 1.0) in
    // any double-spaced reference via the phantom "" token, and padded
    // docs would inflate sizes and scores
    def toksOf(df: DataFrame) = df.select(
      col(idCol),
      array_remove(array_distinct(Text.tokens(col(textCol))), "").as("_ts")
    )
    val pex = toksOf(probe).select(col(idCol), explode(col("_ts")).as("_tok"))
    val refSets = graft.functions.materialize(
      toksOf(reference).select(
        col(idCol).as("id_b"),
        col("_ts").as("_tb"),
        size(col("_ts")).cast("long").as("_sb")
      )
    )
    // ONE global token order shared by both sides: df counted over the
    // union, so the probe prefix ranking knows the reference's hot
    // tokens too (a token rare in the probe corpus but hot in the
    // reference would otherwise rank into prefixes and drag its full
    // reference posting list into the join)
    val freq = pex
      .select("_tok")
      .unionAll(refSets.select(explode(col("_tb")).as("_tok")))
      .groupBy("_tok")
      .agg(count(lit(1)).as("_df"))
    val orderedP = graft.functions.materialize(
      pex
        .join(freq, "_tok")
        .groupBy(col(idCol))
        .agg(
          sort_array(collect_list(struct(col("_df"), col("_tok")))).as("_ord")
        )
        .select(
          col(idCol).as("id_a"),
          transform(col("_ord"), e => e.getField("_tok")).as("_ta"),
          size(col("_ord")).cast("long").as("_sa")
        )
    )
    val prefLen =
      (col("_sa") - ceil(lit(threshold) * col("_sa")) + 1).cast("int")
    val aTok = orderedP.select(
      col("id_a"),
      col("_sa"),
      explode(slice(col("_ta"), lit(1), prefLen)).as("_tok")
    )
    val bTok = refSets.select(
      col("id_b"),
      col("_sb"),
      explode(col("_tb")).as("_tok")
    )
    val selfGuard =
      if (excludeSelfPairs) col("id_a") =!= col("id_b") else lit(true)
    val cands = aTok
      .join(bTok, Seq("_tok"))
      .where(selfGuard && col("_sb") >= lit(threshold) * col("_sa"))
      .select("id_a", "id_b")
      .distinct()
    cands
      .join(orderedP, "id_a")
      .join(refSets, "id_b")
      .withColumn(
        "n_intersection",
        size(array_intersect(col("_ta"), col("_tb"))).cast("long")
      )
      .withColumn("_c", col("n_intersection") / col("_sa"))
      .where(col("_c") >= threshold)
      .select(
        col("id_a"),
        col("id_b"),
        col("n_intersection"),
        graft.functions.round6(col("_c")).as("containment")
      )
  }

  /** Per-corpus-document contamination score against a benchmark span
    * set: the fraction of each document's DISTINCT `spanWords`-word
    * spans that appear anywhere in the benchmark corpus — the SCORED
    * companion of [[crossSpanOverlap]]. Pair-level containment answers
    * "which eval doc leaked"; this answers "how contaminated is this
    * training doc", the signal thresholded when filtering a corpus.
    * Documents with fewer than `spanWords` tokens have no spans and
    * score 0.0 over 0 spans (kept, not dropped — the filter decision
    * belongs to the caller).
    *
    * Scale shape: the benchmark reduces to one distinct span-hash SET
    * (deduped across bench docs — eval suites are tiny next to a
    * training corpus), so the probe join broadcasts and corpus spans
    * never shuffle; the only wide exchange is the per-doc count
    * groupBy, map-side combinable.
    */
  def contaminationScore(
      bench: DataFrame,
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      spanWords: Int = 8
  ): DataFrame = {
    require(spanWords >= 1, s"spanWords must be >= 1, got $spanWords")
    // explode_outer keeps zero-span docs as one (id, null-hash) row, so
    // they survive to the report with n_spans = 0
    val cs = corpus
      .select(col(idCol), Text.tokens(col(textCol)).as("_toks"))
      .select(
        col(idCol),
        explode_outer(Text.wordShinglesFromTokens(col("_toks"), spanWords))
          .as("_span")
      )
      .select(col(idCol), md5(col("_span")).as("_h"))
      .distinct()
    val bs = bench
      .select(Text.tokens(col(textCol)).as("_toks"))
      .select(
        explode(Text.wordShinglesFromTokens(col("_toks"), spanWords)).as("_span")
      )
      .select(md5(col("_span")).as("_h"))
      .distinct()
    cs.join(bs.withColumn("_hit", lit(1L)), Seq("_h"), "left")
      .groupBy(col(idCol))
      .agg(
        count(col("_h")).as("n_spans"),
        coalesce(sum(col("_hit")), lit(0L)).as("n_contaminated")
      )
      .select(
        col(idCol),
        col("n_spans"),
        col("n_contaminated"),
        graft.functions
          .round6(
            when(
              col("n_spans") > 0,
              col("n_contaminated").cast("double") / col("n_spans")
            ).otherwise(lit(0.0))
          )
          .as("contamination")
      )
  }

  /** Per-document duplicated-span statistics: how much of each document
    * is made of spans that also occur in >= `minDocs` documents — the
    * "duplicated n-gram fraction" filter signal of large-corpus
    * pipelines (cf. Penedo et al. 2023, RefinedWeb §3.3). Documents
    * shorter than one span report zero spans and fraction 0.0.
    *
    * Two passes over the span stream (count duplicates, then flag each
    * document's spans against the duplicated-hash table) — the second
    * pass joins on span_hash against the much-smaller duplicate table,
    * a keyed shuffle that AQE can turn into a broadcast when the
    * duplicate set is small.
    *
    * How the span stream feeds its two consumers follows from the
    * input. When `spread` inserted its exchange (an underparallelized
    * input), the compact (id, span_hash) stream is re-derived per
    * consumer: both passes run in parallel above the spread exchange
    * (measured 0.09-0.17 s vs 0.33-0.51 s for a checkpoint at sf0.1;
    * the r15 executed plans show the two spread exchanges execute
    * separately, so it is the post-spread parallelism that makes the
    * recompute cheap). Otherwise (the 100 TB case, where no shared
    * exchange exists and a recompute would tokenize the corpus twice)
    * the span stream is localCheckpointed: one scan, at the price of a
    * compact (id, 32-byte hash) local-disk write. Outputs are identical
    * either way (exact integer counts over deterministic md5 spans).
    */
  def dupSpanStats(
      df: DataFrame,
      textCol: String,
      idCol: String,
      spanWords: Int = 8,
      minDocs: Int = 2
  ): DataFrame = {
    val spreadIn = graft.functions.spread(df) // serial-scan guard (no-op on parallel inputs)
    // reference identity IS the signal: spread returns `df` itself
    // when it declined to insert the round-robin exchange
    val wasSpread = spreadIn ne df
    val spanStream = spreadIn
      .select(col(idCol), Text.tokens(col(textCol)).as("_toks"))
      .select(
        col(idCol),
        explode(Text.wordShinglesFromTokens(col("_toks"), spanWords)).as("_span")
      )
      .select(col(idCol), md5(col("_span")).as("span_hash"))
    val spans =
      if (wasSpread) spanStream else graft.functions.materialize(spanStream)
    val dupHashes = spans
      .groupBy(col("span_hash"))
      .agg(countDistinct(col(idCol)).as("_nd"))
      .where(col("_nd") >= minDocs)
      .select(col("span_hash").as("_dup_hash"))
    val perDoc = spans
      .join(dupHashes, col("span_hash") === col("_dup_hash"), "left_outer")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        count(col("_dup_hash")).as("n_dup_spans")
      )
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left_outer")
      .select(
        col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        when(
          coalesce(col("n_spans"), lit(0L)) === 0,
          lit(0.0)
        ).otherwise(
          graft.functions.round6(
            col("n_dup_spans").cast("double") / col("n_spans")
          )
        ).as("dup_fraction")
      )
  }

  /** Exact-duplicate cluster-size distribution — the dedup PLANNING
    * view: `(cluster_size, n_clusters, n_docs)` says whether the
    * corpus's duplication is a long tail of pairs (cheap) or a few
    * million-copy boilerplate clusters (the case that justifies
    * [[stripBoilerplate]] and hot-bucket caps) before any dedup runs.
    * `n_docs - n_clusters` summed = rows exact dedup would remove.
    *
    * Same (hash, text) collision-safe keying as [[exact]]; two
    * map-side-combinable aggregations — fingerprint grain then
    * size grain. Scans the corpus once.
    */
  def clusterSizeDistribution(
      df: DataFrame,
      textCol: String,
      canonicalize: Column => Column = identity
  ): DataFrame =
    // canonicalize ONCE into an attribute (the exact() convention):
    // repeating the expression as both the hash key and the group key
    // would evaluate a potentially regex-heavy normalization twice per
    // row over the whole corpus
    df.select(canonicalize(col(textCol)).as("_canon"))
      .groupBy(xxhash64(col("_canon")).as("_key"), col("_canon"))
      .agg(count(lit(1)).as("_sz"))
      .groupBy(col("_sz").as("cluster_size"))
      .agg(
        count(lit(1)).as("n_clusters"),
        sum(col("_sz")).as("n_docs")
      )
}
