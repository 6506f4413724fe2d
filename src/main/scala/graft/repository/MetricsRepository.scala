package graft.repository

import graft.core.DatasetMeta
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Storage for profiling metrics, optimizations, and scorings
  * (reference: thoth/repository.py — a SQLAlchemy store of pickled
  * blobs keyed by (dataset, ts)).
  *
  * graft's repository is itself a Spark table family — at 10^5 datasets
  * x columns x metrics x days the metrics ARE big data, so every store
  * is a DataFrame with `dataset_uri` as the leading key and every read
  * returns a DataFrame (never driver-side objects).
  *
  * Table shapes (SURVEY §4):
  *  - profiling:    (dataset_uri, ts, entity, instance, name, value)
  *  - optimization: (dataset_uri, entity, instance, name, best_model,
  *                   threshold, mean_error, optimization_failed)
  *  - scoring:      (dataset_uri, ts, entity, instance, name, value,
  *                   predicted, score)
  *
  * Upsert semantics: re-profiling a (dataset, ts) range replaces the
  * previous rows for the same logical keys (reference upserts by
  * primary key).
  */
trait MetricsRepository {
  def registerDataset(meta: DatasetMeta): Unit
  def getDataset(uri: String): Option[DatasetMeta]
  def listDatasets(): Seq[DatasetMeta]

  /** Upsert long-format profiling rows (ts, entity, instance, name,
    * value) for a dataset.
    */
  def addProfiling(datasetUri: String, profiling: DataFrame): Unit

  /** Profiling history for a dataset, optionally ts-bounded
    * (inclusive).
    */
  def getProfiling(
      datasetUri: String,
      start: Option[java.sql.Timestamp] = None,
      end: Option[java.sql.Timestamp] = None
  ): DataFrame

  /** Upsert per-metric optimization results (entity, instance, name,
    * best_model, threshold, mean_error).
    */
  def addOptimization(datasetUri: String, optimization: DataFrame): Unit
  def getOptimization(datasetUri: String): DataFrame

  /** Upsert scoring rows (ts, entity, instance, name, value, predicted,
    * score).
    */
  def addScoring(datasetUri: String, scoring: DataFrame): Unit
  def getScoring(
      datasetUri: String,
      start: Option[java.sql.Timestamp] = None,
      end: Option[java.sql.Timestamp] = None
  ): DataFrame
}

object MetricsRepository {
  val profilingKey: Seq[String] = Seq("ts", "entity", "instance", "name")
  val optimizationKey: Seq[String] = Seq("entity", "instance", "name")
  val scoringKey: Seq[String] = Seq("ts", "entity", "instance", "name")

  private[repository] def tsBounded(
      df: DataFrame,
      start: Option[java.sql.Timestamp],
      end: Option[java.sql.Timestamp]
  ): DataFrame = {
    val lower = start.map(col("ts") >= lit(_)).getOrElse(lit(true))
    val upper = end.map(col("ts") <= lit(_)).getOrElse(lit(true))
    df.where(lower && upper)
  }

  private def field(name: String, t: DataType) = StructField(name, t)
  private val seriesFields = Seq("entity", "instance", "name").map(field(_, StringType))

  /** The declared rows of each table, in stored column order. */
  val profilingSchema: StructType =
    StructType(field("ts", TimestampType) +: seriesFields :+ field("value", DoubleType))
  val optimizationSchema: StructType = StructType(
    seriesFields ++ Seq(
      field("best_model", StringType),
      field("threshold", DoubleType),
      field("mean_error", DoubleType),
      field("optimization_failed", BooleanType)
    )
  )
  val scoringSchema: StructType = StructType(
    (field("ts", TimestampType) +: seriesFields) ++
      Seq("value", "predicted", "score").map(field(_, DoubleType))
  )

  private[repository] def emptyOf(schema: StructType): DataFrame = {
    val spark = SparkSession.active
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }
}

/** In-memory repository for tests and notebooks: plain upsert via
  * anti-join + union, everything stays a DataFrame.
  */
class InMemoryRepository extends MetricsRepository {
  import MetricsRepository._

  private val datasets = scala.collection.mutable.LinkedHashMap.empty[String, DatasetMeta]
  private var profiling = Map.empty[String, DataFrame]
  private var optimization = Map.empty[String, DataFrame]
  private var scoring = Map.empty[String, DataFrame]

  def registerDataset(meta: DatasetMeta): Unit = synchronized {
    datasets += meta.uri -> meta
  }
  def getDataset(uri: String): Option[DatasetMeta] = synchronized(datasets.get(uri))
  def listDatasets(): Seq[DatasetMeta] = synchronized(datasets.values.toSeq)

  private def upsert(
      store: Map[String, DataFrame],
      uri: String,
      rows: DataFrame,
      key: Seq[String]
  ): Map[String, DataFrame] = {
    val merged = store.get(uri) match {
      case Some(old) =>
        // null-safe (<=>) key match: latest-wins must REPLACE a row
        // whose key column is NULL (e.g. a NULL ts), not accumulate a
        // duplicate — the same contract the Parquet latest-wins
        // aggregate (its groupBy groups NULL keys together) and the
        // JDBC correlated DELETE honor.
        val newKeys = rows.select(key.map(col): _*).distinct()
        val cond = key.map(k => old(k) <=> newKeys(k)).reduce(_ && _)
        old.join(newKeys, cond, "left_anti").unionByName(rows)
      case None => rows
    }
    // Materialize: the in-memory store must not re-run caller lineage
    // (which may read mutable sources) on every later read.
    store + (uri -> merged.localCheckpoint(eager = true))
  }

  def addProfiling(uri: String, rows: DataFrame): Unit = synchronized {
    profiling = upsert(profiling, uri, rows, profilingKey)
  }
  def getProfiling(
      uri: String,
      start: Option[java.sql.Timestamp],
      end: Option[java.sql.Timestamp]
  ): DataFrame =
    tsBounded(profiling.getOrElse(uri, emptyOf(profilingSchema)), start, end)

  def addOptimization(uri: String, rows: DataFrame): Unit = synchronized {
    optimization = upsert(optimization, uri, rows, optimizationKey)
  }
  def getOptimization(uri: String): DataFrame =
    optimization.getOrElse(uri, emptyOf(optimizationSchema))

  def addScoring(uri: String, rows: DataFrame): Unit = synchronized {
    scoring = upsert(scoring, uri, rows, scoringKey)
  }
  def getScoring(
      uri: String,
      start: Option[java.sql.Timestamp],
      end: Option[java.sql.Timestamp]
  ): DataFrame =
    tsBounded(scoring.getOrElse(uri, emptyOf(scoringSchema)), start, end)
}

/** Parquet-backed repository, partitioned by `dataset_uri`.
  *
  * Writes are APPEND-ONLY with a monotonically increasing `batch_seq`;
  * reads resolve the latest row per logical key (merge-on-read,
  * Delta-style without Delta). This is the shape that scales: an upsert
  * never rewrites history, and every read lists and scans ONE dataset's
  * partition directory under the table's declared schema — no schema
  * inference job, and no listing of the other datasets' partitions
  * (above 32 of them that listing is itself a Spark job). Compaction
  * ([[compact]], [[maintain]]) is an offline per-partition rewrite.
  * Dataset registrations live in a small parquet table alongside.
  */
class ParquetRepository(spark: SparkSession, basePath: String) extends MetricsRepository {
  import MetricsRepository._
  import ParquetRepository._

  private val seq = new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis())

  /** Monotonic per instance AND wall-clock-tracking across JVMs: a
    * writer started earlier can never shadow a wall-clock-newer write
    * from another process (same-millisecond cross-JVM ties remain
    * nondeterministic — acceptable for metric upserts; a real
    * multi-writer deployment would use a transactional table format).
    */
  private def nextSeq(): Long =
    seq.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))

  /** The `batch_seq` column of one write. A LongType literal is inlined
    * into the generated Java, so every write would compile new classes;
    * a zero-argument UDF closing over the value is referenced as an
    * object instead, and the generated code stays identical across
    * writes (same stored values, no extra job).
    */
  private def stamp(): Column = {
    val s = nextSeq()
    udf(() => s).apply()
  }

  private def path(table: String) = s"$basePath/$table"

  private def fs(p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Hadoop-FS existence check — works for any scheme (local, hdfs://,
    * s3a://), unlike java.io.File which silently reports false on
    * remote filesystems.
    */
  private def fsExists(p: String): Boolean = {
    val hp = new Path(p)
    fs(hp).exists(hp)
  }

  /** Partition directory for a dataset, with Spark's partition-value
    * escaping (a URI-shaped key like "s3://lake/x" is written as
    * dataset_uri=s3%3A%2F%2Flake%2Fx on disk).
    */
  private def partitionDir(table: String, uri: String): String = {
    val escaped = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(uri)
    s"${path(table)}/dataset_uri=$escaped"
  }

  /** The batch files of one dataset's partition of a table. */
  private def batchFiles(t: Table, uri: String): Seq[Path] = {
    val dir = new Path(partitionDir(t.name, uri))
    val dirFs = fs(dir)
    if (!dirFs.exists(dir)) Seq.empty
    else dirFs.listStatus(dir).map(_.getPath).filter(_.getName.endsWith(".parquet")).toSeq
  }

  /** Appends rows selected and cast to the table's declared columns (by
    * name; extra columns are not stored). A missing column fails here,
    * on the driver, before any job runs.
    */
  private def append(t: Table, uri: String, rows: DataFrame): Unit = {
    val missing = t.rows.fieldNames.filterNot(f => rows.columns.exists(_.equalsIgnoreCase(f)))
    require(
      missing.isEmpty,
      s"${t.name} rows lack column(s) ${missing.mkString(", ")} (got ${rows.columns.mkString(", ")})"
    )
    val cols = t.rows.fields.map(f => col(f.name).cast(f.dataType).as(f.name))
    rows
      .select(cols.toSeq :+ lit(uri).as("dataset_uri") :+ stamp().as("batch_seq"): _*)
      .write
      .mode("append")
      .partitionBy("dataset_uri")
      .parquet(path(t.name))
  }

  /** Latest row per logical key within one dataset partition. */
  private def latest(t: Table, uri: String): DataFrame = {
    val dir = partitionDir(t.name, uri)
    if (!fsExists(dir)) emptyOf(t.rows)
    else resolve(spark.read.schema(t.stored).parquet(dir), t.key).drop("batch_seq")
  }

  private def registrations(): Option[DataFrame] =
    if (!fsExists(path("datasets"))) None
    else Some(spark.read.schema(datasetsSchema).parquet(path("datasets")))

  def registerDataset(meta: DatasetMeta): Unit = {
    import spark.implicits._
    Seq(meta).toDF().withColumn("batch_seq", stamp())
      .write.mode("append").parquet(path("datasets"))
  }

  /** One job: the uri's registrations are collected and the newest wins
    * on the driver.
    */
  def getDataset(uri: String): Option[DatasetMeta] = registrations().flatMap { df =>
    import spark.implicits._
    val meta = struct(datasetsSchema.fieldNames.filter(_ != "batch_seq").map(col).toSeq: _*)
    df.where(col("uri") === uri)
      .select(col("batch_seq").as("_1"), meta.as("_2"))
      .as[(Long, DatasetMeta)]
      .collect()
      .maxByOption(_._1)
      .map(_._2)
  }

  def listDatasets(): Seq[DatasetMeta] = registrations().fold(Seq.empty[DatasetMeta]) { df =>
    import spark.implicits._
    resolve(df, Seq("uri")).drop("batch_seq").as[DatasetMeta].collect().toSeq
  }

  def addProfiling(uri: String, rows: DataFrame): Unit = append(Profiling, uri, rows)
  def getProfiling(
      uri: String,
      start: Option[java.sql.Timestamp],
      end: Option[java.sql.Timestamp]
  ): DataFrame =
    tsBounded(latest(Profiling, uri), start, end)

  def addOptimization(uri: String, rows: DataFrame): Unit = append(Optimization, uri, rows)
  def getOptimization(uri: String): DataFrame = latest(Optimization, uri)

  def addScoring(uri: String, rows: DataFrame): Unit = append(Scoring, uri, rows)
  def getScoring(
      uri: String,
      start: Option[java.sql.Timestamp],
      end: Option[java.sql.Timestamp]
  ): DataFrame =
    tsBounded(latest(Scoring, uri), start, end)

  /** Compact one dataset's partition of every table: resolve
    * merge-on-read down to the latest row per key and rewrite the
    * partition AS ONE FILE. Reads stay O(live rows) afterwards. Offline
    * maintenance (Delta OPTIMIZE-style) — per dataset, no global lock.
    * `retainSince` additionally drops rows with ts before the cutoff
    * from the ts-keyed tables (profiling, scoring) — the retention
    * sweep that keeps a years-long metric history bounded.
    *
    * Concurrent-append safety: the file set is SNAPSHOTTED first, the
    * resolved view reads exactly those files, each surviving row keeps
    * its ORIGINAL batch_seq, and only the snapshotted files are
    * deleted. A batch appended mid-compaction is neither deleted nor
    * shadowed — its (wall-clock-later) batch_seq still wins merge-on-
    * read against the rewritten rows. All paths go through Hadoop FS
    * so any scheme (local/hdfs/s3a) works.
    */
  def compact(uri: String, retainSince: Option[java.sql.Timestamp] = None): Unit =
    tables.foreach(t => compactTable(t, uri, batchFiles(t, uri), retainSince))

  private def compactTable(
      t: Table,
      uri: String,
      snapshot: Seq[Path],
      retainSince: Option[java.sql.Timestamp]
  ): Unit = if (snapshot.nonEmpty) {
    // leaf-file read: no partition column, batch_seq retained
    val resolved = resolve(spark.read.schema(t.stored).parquet(snapshot.map(_.toString): _*), t.key)
    val retained = retainSince match {
      case Some(cut) if t.rows.fieldNames.contains("ts") =>
        // NULL-ts rows are a supported logical key (the upserts'
        // null-safe matches exist for them) and are NOT "before
        // the cutoff" — retention must keep them
        resolved.where(col("ts").isNull || col("ts") >= lit(cut))
      case _ => resolved
    }
    // CRASH ORDER: append the compacted copy FIRST (its part-
    // files get fresh names, so the duplicate rows it briefly
    // creates resolve by the same latest-batch_seq rule every reader
    // already applies), delete the snapshot LAST — the reverse
    // order had a window where a crash left the partition EMPTY
    // and every read silently returned no rows
    retained.coalesce(1).write.mode("append").parquet(partitionDir(t.name, uri))
    snapshot.foreach(f => fs(f).delete(f, false))
  }

  /** File-count-gated maintenance: compact each of this dataset's table
    * partitions that holds more than `maxFiles` batch files, and leave
    * the others as they are (the optimization partition, which a daily
    * job does not write, is not rewritten every day). `retainSince`
    * applies to the tables that compact. The check is one directory
    * listing per table — cheap enough to call after every upsert, which
    * keeps a year of daily appends permanently bounded at ~maxFiles
    * files per partition instead of 365. Returns whether any compaction
    * ran.
    */
  def maintain(
      uri: String,
      maxFiles: Int = 16,
      retainSince: Option[java.sql.Timestamp] = None
  ): Boolean = {
    require(maxFiles > 0, s"maxFiles must be positive, got $maxFiles")
    val over = tables.map(t => t -> batchFiles(t, uri)).filter(_._2.length > maxFiles)
    over.foreach { case (t, files) => compactTable(t, uri, files, retainSince) }
    over.nonEmpty
  }
}

object ParquetRepository {
  import MetricsRepository._

  /** One repository table: its name, logical key and declared rows. */
  private case class Table(name: String, key: Seq[String], rows: StructType) {

    /** The stored shape: the declared rows plus the write stamp. */
    val stored: StructType = rows.add("batch_seq", LongType, nullable = false)
  }

  private val Profiling = Table("profiling", profilingKey, profilingSchema)
  private val Optimization = Table("optimization", optimizationKey, optimizationSchema)
  private val Scoring = Table("scoring", scoringKey, scoringSchema)
  private val tables = Seq(Profiling, Optimization, Scoring)

  private val datasetsSchema: StructType =
    Encoders.product[DatasetMeta].schema.add("batch_seq", LongType, nullable = false)

  /** Latest row per logical key, by `batch_seq`, in stored column
    * order. The non-key columns travel as ONE struct so each key's row
    * stays atomic. An aggregate, not a window: a query that only reads
    * key columns under a duplicate-agnostic aggregate (the newest `ts`)
    * has the resolution removed by the optimizer instead of shuffling
    * every stored row through it.
    */
  private def resolve(df: DataFrame, key: Seq[String]): DataFrame = {
    val rest = df.columns.filterNot(key.contains)
    df.groupBy(key.map(col): _*)
      .agg(max_by(struct(rest.map(col).toSeq: _*), col("batch_seq")).as("_row"))
      .select(df.columns.map(c => if (key.contains(c)) col(c) else col(s"_row.$c").as(c)).toSeq: _*)
  }
}
