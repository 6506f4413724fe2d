package graft.pipelines

import graft.operators.Sampling
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic shuffle-shard export — the LAST step of a
  * training-data pipeline: globally shuffle the prepared corpus and
  * write it as N shards a data loader streams in order. (The reference
  * pipeline stops at metrics; this is part of graft's LLM-pipeline
  * extension surface, like [[Corpus.mixtureSample]].)
  *
  * A training run needs the corpus (a) shuffled so no loader sees a
  * crawl-order or domain-order prefix, (b) split into shards that map
  * to loader workers, (c) REPRODUCIBLY — the same corpus must yield
  * byte-identical shard membership and order on any cluster, any
  * partitioning, any engine, or "resume from shard 37, row 12 008"
  * is meaningless. `df.repartition(n).write` gives none of that:
  * round-robin assignment depends on the input partitioning and
  * changes run to run.
  *
  * Mechanics — one md5 per row drives everything:
  * {{{
  *   h       = md5(id ":" salt)              32 hex chars
  *   shard   = floor(u(h[1..8])  * nShards      / 2^32)
  *   file_no = floor(u(h[25..32]) * filesPerShard / 2^32)
  *   ord     = h[9..24]                      intra-file sort key
  * }}}
  * where u(x) is the hex value (a uniform 32-bit integer). The
  * products stay far below 2^53, and the divisor is a power of two,
  * so the double arithmetic is EXACT — any md5-capable engine computes
  * the identical assignment ([[shardSql]] emits the DuckDB mirror; the
  * `pipeline_shuffle_shards` oracle hash-verifies membership per
  * shard). Hash order IS the shuffle: sorting by an md5 substring is
  * a deterministic random permutation of the corpus.
  *
  * At 100 TB: assignment is a scan-side projection (zero shuffle,
  * codegen'd md5/conv); [[exportShards]] performs exactly ONE
  * exchange — the hash repartition a global shuffle provably needs —
  * and a LOCAL per-task sort. No global sort, no driver
  * participation. `filesPerShard` bounds file size (corpus bytes /
  * (nShards * filesPerShard)), so shards scale past single-file
  * limits; a loader reads `shard=i/file_no=j` directories in
  * lexicographic order and gets the full deterministic permutation.
  *
  * NULL ids hash as the empty string: membership stays deterministic
  * (they cluster in one (shard, file) cell), but their relative order
  * within the cell is not defined — ids are expected to be row keys,
  * as everywhere else in this library.
  */
object Export {

  /** floor(hexValue(8 chars) * k / 2^32) — exact in double for
    * k <= 2^20 (product < 2^52; power-of-two division only shifts the
    * exponent).
    */
  private def hashCell(h: Column, pos: Int, k: Int): Column =
    floor(Sampling.hexValue(h, pos, 8) * lit(k.toDouble) / lit(Sampling.Two32)).cast("int")

  /** Annotate `df` with the deterministic export coordinates:
    * `shard` in [0, nShards), `file_no` in [0, filesPerShard), and the
    * 16-hex-char `ord` sort key. Pure scan-side projection — call it
    * directly for analysis/verification; [[exportShards]] adds the
    * write clustering.
    */
  def shuffleShards(
      df: DataFrame,
      idCol: String,
      nShards: Int,
      filesPerShard: Int = 1,
      salt: String = "graft"
  ): DataFrame = {
    require(nShards > 0 && nShards <= (1 << 20), s"nShards out of range: $nShards")
    require(
      filesPerShard > 0 && filesPerShard <= (1 << 20),
      s"filesPerShard out of range: $filesPerShard"
    )
    // NULL ids hash as the empty string
    val h = Sampling.idDigest(coalesce(col(idCol).cast("string"), lit("")), salt)
    df.withColumn("_h", h)
      .withColumn("shard", hashCell(col("_h"), 1, nShards))
      .withColumn("file_no", hashCell(col("_h"), 25, filesPerShard))
      .withColumn("ord", substring(col("_h"), 9, 16))
      .drop("_h")
  }

  /** Write the shuffled corpus as `shard=i/file_no=j` parquet
    * directories, rows inside every file ascending by `ord`. One
    * exchange (hash repartition on the cell), one local sort; the
    * dynamic-partition writer's required ordering is a prefix of the
    * sort we already did, so it does not re-sort. Reading the
    * directories in lexicographic (shard, file_no) order and files
    * top to bottom replays the full deterministic permutation.
    */
  def exportShards(
      df: DataFrame,
      idCol: String,
      outDir: String,
      nShards: Int,
      filesPerShard: Int = 1,
      salt: String = "graft"
  ): Unit = {
    // the repartition width is the PRODUCT — two individually-valid
    // args can overflow Int (2^20 * 2^20); and a million-way shuffle
    // is a config error, not a layout
    require(
      nShards.toLong * filesPerShard <= (1L << 20),
      s"nShards * filesPerShard must be <= 2^20, got ${nShards.toLong * filesPerShard}"
    )
    shuffleShards(df, idCol, nShards, filesPerShard, salt)
      .repartition(nShards * filesPerShard, col("shard"), col("file_no"))
      .sortWithinPartitions(col("shard"), col("file_no"), col("ord"))
      .write
      .partitionBy("shard", "file_no")
      .mode("overwrite")
      .parquet(outDir)
  }

  /** Incremental companion to [[exportShards]]: append a NEW batch of
    * documents into an existing shard layout under the same hash
    * contract. Appended rows land in `shard=i/file_no=j/batch=<id>`
    * subdirectories — the extra partition level is what keeps replay
    * deterministic across appends (a plain append-mode write would
    * interleave same-named part files from different writes with no
    * stable order): a loader replays (shard, file_no) dirs in order
    * and batches within them lexicographically, so ids must be chosen
    * monotone (dates, zero-padded sequence numbers — same contract as
    * [[Incremental]] batch dirs). Shard membership is the pure hash,
    * so a document's shard never depends on which batch delivered it.
    *
    * Batch ids are WRITE-ONCE, enforced by a commit marker
    * (`_batches/<id>`, written after the data — the same pattern as
    * [[Incremental]]'s `_manifest`): a second append with an
    * already-committed id returns false and writes NOTHING, because in
    * append mode it would interleave new part files into the same
    * `batch=<id>` leaves and silently break the deterministic replay
    * order the batch sublevel exists to guarantee. A crashed attempt
    * (data written, no marker) is cleaned up and rewritten on retry.
    * Returns true when this call appended the batch.
    */
  def appendShards(
      df: DataFrame,
      idCol: String,
      outDir: String,
      nShards: Int,
      batchId: String,
      filesPerShard: Int = 1,
      salt: String = "graft"
  ): Boolean = {
    require(
      batchId.nonEmpty && batchId != "." && batchId != ".." &&
        batchId.forall(c => c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"batch id must be path-safe and not '.'/'..' (the marker path " +
        s"would normalize to the output dir itself and silently skip " +
        s"every append), got '$batchId'"
    )
    require(
      nShards.toLong * filesPerShard <= (1L << 20),
      s"nShards * filesPerShard must be <= 2^20, got ${nShards.toLong * filesPerShard}"
    )
    val spark = df.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir),
      spark.sparkContext.hadoopConfiguration
    )
    val marker = new org.apache.hadoop.fs.Path(s"$outDir/_batches/$batchId")
    if (fs.exists(marker)) return false
    // an append tree is append-only from its FIRST batch: a flat
    // exportShards layout puts part files directly under file_no dirs,
    // and parquet partition discovery rejects leaves at two depths —
    // fail here with a usable message instead of at first read
    require(
      Option(fs.globStatus(new org.apache.hadoop.fs.Path(s"$outDir/*/*/part-*")))
        .getOrElse(Array.empty)
        .isEmpty,
      s"$outDir holds a flat exportShards layout; appendShards needs an " +
        "append-only tree (batch= sublevels) — export to a fresh directory"
    )
    // no marker but batch=<id> leaves on disk = a crashed attempt;
    // delete its leaves so the rewrite cannot double-append rows
    Option(
      fs.globStatus(new org.apache.hadoop.fs.Path(s"$outDir/*/*/batch=$batchId"))
    ).getOrElse(Array.empty)
      .foreach(s => fs.delete(s.getPath, true))
    shuffleShards(df, idCol, nShards, filesPerShard, salt)
      .withColumn("batch", lit(batchId))
      .repartition(nShards * filesPerShard, col("shard"), col("file_no"))
      .sortWithinPartitions(col("shard"), col("file_no"), col("ord"))
      .write
      .partitionBy("shard", "file_no", "batch")
      .mode("append")
      .parquet(outDir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$outDir/_batches"))
    fs.create(marker, true).close()
    true
  }

  /** Curriculum variant of [[exportShards]]: shard membership stays
    * the deterministic hash (every loader still gets an unbiased,
    * reproducible slice of the corpus), but WITHIN a shard the replay
    * order follows `curriculumCol` ascending (easy-to-hard when the
    * column is a difficulty score) instead of the random permutation.
    * `file_no` boundaries come from corpus-wide EXACT percentiles of
    * the curriculum column (one |thresholds|-row aggregate, broadcast
    * into the scan filter), so reading `file_no` ascending, files top
    * to bottom, replays the curriculum — with hash-assigned files that
    * property would hold only within a file. Ties order by the hash
    * key, keeping the layout fully deterministic.
    *
    * Same cost shape as the shuffled export: one exchange + a local
    * sort; the threshold aggregate touches one column. Rows with a
    * NULL curriculum value sort first (Spark NULLS FIRST) and land in
    * file 0 — flag or drop them upstream if that is not the intent.
    */
  def exportShardsCurriculum(
      df: DataFrame,
      idCol: String,
      outDir: String,
      nShards: Int,
      curriculumCol: String,
      filesPerShard: Int = 1,
      salt: String = "graft"
  ): Unit = {
    require(
      nShards.toLong * filesPerShard <= (1L << 20),
      s"nShards * filesPerShard must be <= 2^20, got ${nShards.toLong * filesPerShard}"
    )
    val base = shuffleShards(df, idCol, nShards, 1, salt).drop("file_no")
    val withFile =
      if (filesPerShard == 1) base.withColumn("file_no", lit(0))
      else {
        val probs = (1 until filesPerShard).map(_.toDouble / filesPerShard)
        val thr = df
          .agg(
            expr(
              s"percentile($curriculumCol, array(${probs.mkString(",")}))"
            ).as("_thr")
          )
        base
          .join(broadcast(thr))
          .withColumn(
            "file_no",
            aggregate(
              col("_thr"),
              lit(0),
              (acc, t) => acc + when(col(curriculumCol) > t, 1).otherwise(0)
            )
          )
          .drop("_thr")
      }
    withFile
      .repartition(nShards * filesPerShard, col("shard"), col("file_no"))
      .sortWithinPartitions(
        col("shard"),
        col("file_no"),
        col(curriculumCol),
        col("ord")
      )
      .write
      .partitionBy("shard", "file_no")
      .mode("overwrite")
      .parquet(outDir)
  }

  /** SQL mirror of one [[hashCell]]: the shard / file_no expression
    * over a precomputed md5 column, for oracle parity.
    */
  def cellSql(hExpr: String, pos: Int, k: Int): String =
    s"CAST(floor(${graft.queries.sqlHexValue(hExpr, pos, 8)} * CAST($k AS DOUBLE) / " +
      s"${Sampling.Two32}) AS INT)"

  /** Read a shard layout ([[exportShards]] or [[appendShards]]) back
    * with the replay contract made executable: each row carries
    * `shard_pos`, its 1-based position in its shard's deterministic
    * replay order — (file_no [, batch], `withinFileOrder`) ascending,
    * the order a loader walking partitions in NUMERIC file_no order
    * (zero-pad the names if your walker is lexicographic — 10 sorts
    * before 2 otherwise) and files top-to-bottom observes. "Resume
    * from shard 37, row 12 008" is then `where(shard = 37 and
    * shard_pos > 12008)`.
    *
    * `withinFileOrder` defaults to the hash sort key `ord` (the
    * [[exportShards]]/[[appendShards]] physical order); for an
    * [[exportShardsCurriculum]] layout pass
    * `Seq(curriculumCol, "ord")` — its files are physically sorted by
    * the curriculum column first, and numbering by `ord` alone would
    * disagree with the file order a loader consumes.
    *
    * Append layouts are detected from the DIRECTORY structure
    * (`batch=` path segments), not from a column name — a corpus that
    * carries its own `batch` data column is not mistaken for one.
    *
    * Scale shape: ONE window partitioned by shard (parallel across
    * shards — there is deliberately no global position column, which
    * would be a single-partition sort; the global order is (shard,
    * shard_pos) by construction). Size `nShards` so a shard stays
    * well under 2^31 rows — `shard_pos` is an int like the
    * `row_number` it comes from. The `batch` level participates in
    * the order when present, so appended batches replay after earlier
    * ones within every (shard, file_no), matching the write-once
    * append contract.
    */
  def readShards(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      withinFileOrder: Seq[String] = Seq("ord")
  ): DataFrame = {
    require(withinFileOrder.nonEmpty, "withinFileOrder must name at least one column")
    val df = spark.read.parquet(dir)
    // Detect the append layout from path segments BELOW `dir` only: a
    // substring test on the full URI would also fire when the export
    // tree is merely NESTED under some unrelated "batch=..." parent
    // directory, and then order by a `batch` column that does not
    // exist (or worse, a data column that happens to share the name).
    // Qualify `dir` through the Hadoop FileSystem first: inputFiles are
    // fully-qualified URIs ("file:/…"), so a raw "file:///…" or relative
    // dir would never prefix-match and the `case -1` fallback would scan
    // the WHOLE URI — re-enabling the nested-"batch=…"-parent false
    // positive this segment test exists to prevent.
    val hadoopPath = new org.apache.hadoop.fs.Path(dir)
    val qualifiedDir = hadoopPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(hadoopPath)
      .toString
    val dirPrefix = qualifiedDir.stripSuffix("/") + "/"
    val isAppendLayout = df.inputFiles.headOption.exists { raw =>
      // Path() also collapses "file:///x" to "file:/x" so both sides
      // carry the same canonical form.
      val f = new org.apache.hadoop.fs.Path(raw).toString
      f.startsWith(dirPrefix) &&
      f.substring(dirPrefix.length).split('/').exists(_.startsWith("batch="))
    }
    val orderCols =
      (if (isAppendLayout) Seq(col("file_no"), col("batch"))
       else Seq(col("file_no"))) ++ withinFileOrder.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(orderCols: _*)
    df.withColumn("shard_pos", row_number().over(w))
  }
}
