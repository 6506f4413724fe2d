package graft.repository

import graft.core.DatasetMeta
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
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
  *                   threshold, mean_error)
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
        // duplicate — the same contract the Parquet window (NULLs
        // group together) and the JDBC correlated DELETE honor.
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
    tsBounded(profiling.getOrElse(uri, emptyProfiling()), start, end)

  def addOptimization(uri: String, rows: DataFrame): Unit = synchronized {
    optimization = upsert(optimization, uri, rows, optimizationKey)
  }
  def getOptimization(uri: String): DataFrame =
    optimization.getOrElse(uri, emptyOptimization())

  def addScoring(uri: String, rows: DataFrame): Unit = synchronized {
    scoring = upsert(scoring, uri, rows, scoringKey)
  }
  def getScoring(
      uri: String,
      start: Option[java.sql.Timestamp],
      end: Option[java.sql.Timestamp]
  ): DataFrame =
    tsBounded(scoring.getOrElse(uri, emptyScoring()), start, end)

  private def spark = SparkSession.active
  private def emptyOf(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  private def emptyProfiling() = emptyOf(
    StructType(
      Seq(
        StructField("ts", TimestampType),
        StructField("entity", StringType),
        StructField("instance", StringType),
        StructField("name", StringType),
        StructField("value", DoubleType)
      )
    )
  )
  private def emptyOptimization() = emptyOf(
    StructType(
      Seq(
        StructField("entity", StringType),
        StructField("instance", StringType),
        StructField("name", StringType),
        StructField("best_model", StringType),
        StructField("threshold", DoubleType),
        StructField("mean_error", DoubleType),
        StructField("optimization_failed", BooleanType)
      )
    )
  )
  private def emptyScoring() = emptyOf(
    StructType(
      Seq(
        StructField("ts", TimestampType),
        StructField("entity", StringType),
        StructField("instance", StringType),
        StructField("name", StringType),
        StructField("value", DoubleType),
        StructField("predicted", DoubleType),
        StructField("score", DoubleType)
      )
    )
  )
}

/** Parquet-backed repository, partitioned by `dataset_uri`.
  *
  * Writes are APPEND-ONLY with a monotonically increasing `batch_seq`;
  * reads resolve the latest row per logical key (merge-on-read,
  * Delta-style without Delta). This is the shape that scales: an upsert
  * never rewrites history, partition pruning on `dataset_uri` keeps
  * every read local to one dataset, and compaction is an offline
  * rewrite (planned r2). Dataset registrations live in a tiny JSON-line
  * parquet alongside.
  */
class ParquetRepository(spark: SparkSession, basePath: String) extends MetricsRepository {
  import MetricsRepository._

  private val seq = new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis())

  /** Monotonic per instance AND wall-clock-tracking across JVMs: a
    * writer started earlier can never shadow a wall-clock-newer write
    * from another process (same-millisecond cross-JVM ties remain
    * nondeterministic — acceptable for metric upserts; a real
    * multi-writer deployment would use a transactional table format).
    */
  private def nextSeq(): Long =
    seq.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))

  private def path(table: String) = s"$basePath/$table"

  /** Hadoop-FS existence check — works for any scheme (local, hdfs://,
    * s3a://), unlike java.io.File which silently reports false on
    * remote filesystems.
    */
  private def fsExists(p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
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

  private def append(table: String, uri: String, rows: DataFrame): Unit =
    rows
      .withColumn("dataset_uri", lit(uri))
      .withColumn("batch_seq", lit(nextSeq()))
      .write
      .mode("append")
      .partitionBy("dataset_uri")
      .parquet(path(table))

  /** Latest row per logical key within one dataset partition. The
    * window shuffles only that dataset's slice (partition-pruned scan).
    */
  private def latest(table: String, uri: String, key: Seq[String], schema: => DataFrame): DataFrame = {
    if (!fsExists(path(table))) schema
    else {
      val df = spark.read.parquet(path(table)).where(col("dataset_uri") === uri)
      val w = Window.partitionBy(key.map(col): _*).orderBy(col("batch_seq").desc)
      df.withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1)
        .drop("_rn", "batch_seq", "dataset_uri")
    }
  }

  def registerDataset(meta: DatasetMeta): Unit = {
    import spark.implicits._
    Seq(meta).toDF().withColumn("batch_seq", lit(nextSeq()))
      .write.mode("append").parquet(path("datasets"))
  }
  def getDataset(uri: String): Option[DatasetMeta] = listDatasets().find(_.uri == uri)
  def listDatasets(): Seq[DatasetMeta] = {
    import spark.implicits._
    if (!fsExists(path("datasets"))) Seq.empty
    else {
      val w = Window.partitionBy(col("uri")).orderBy(col("batch_seq").desc)
      spark.read
        .parquet(path("datasets"))
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1)
        .drop("_rn", "batch_seq")
        .as[DatasetMeta]
        .collect()
        .toSeq
    }
  }

  def addProfiling(uri: String, rows: DataFrame): Unit = append("profiling", uri, rows)
  def getProfiling(
      uri: String,
      start: Option[java.sql.Timestamp],
      end: Option[java.sql.Timestamp]
  ): DataFrame =
    tsBounded(latest("profiling", uri, profilingKey, new InMemoryRepository().getProfiling(uri)), start, end)

  def addOptimization(uri: String, rows: DataFrame): Unit = append("optimization", uri, rows)
  def getOptimization(uri: String): DataFrame =
    latest("optimization", uri, optimizationKey, new InMemoryRepository().getOptimization(uri))

  def addScoring(uri: String, rows: DataFrame): Unit = append("scoring", uri, rows)
  def getScoring(
      uri: String,
      start: Option[java.sql.Timestamp],
      end: Option[java.sql.Timestamp]
  ): DataFrame =
    tsBounded(latest("scoring", uri, scoringKey, new InMemoryRepository().getScoring(uri)), start, end)

  /** Compact one dataset's partition of a table: resolve merge-on-read
    * down to the latest row per key and rewrite the partition AS ONE
    * FILE. Reads stay O(live rows) afterwards. Offline maintenance
    * (Delta OPTIMIZE-style) — per dataset, no global lock.
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
  def compact(uri: String, retainSince: Option[java.sql.Timestamp] = None): Unit = {
    val tables = Seq(
      ("profiling", profilingKey),
      ("optimization", optimizationKey),
      ("scoring", scoringKey)
    )
    tables.foreach { case (table, key) =>
      val partDir = partitionDir(table, uri)
      if (fsExists(partDir)) {
        val hPart = new org.apache.hadoop.fs.Path(partDir)
        val fs = hPart.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val snapshot = fs
          .listStatus(hPart)
          .map(_.getPath)
          .filter(_.getName.endsWith(".parquet"))
        if (snapshot.nonEmpty) {
          // leaf-file read: no partition column, batch_seq retained
          val df = spark.read.parquet(snapshot.map(_.toString).toSeq: _*)
          val w = Window.partitionBy(key.map(col): _*).orderBy(col("batch_seq").desc)
          val resolved = df
            .withColumn("_rn", row_number().over(w))
            .where(col("_rn") === 1)
            .drop("_rn")
          val retained = retainSince match {
            case Some(cut) if df.columns.contains("ts") =>
              // NULL-ts rows are a supported logical key (the upserts'
              // null-safe matches exist for them) and are NOT "before
              // the cutoff" — retention must keep them
              resolved.where(col("ts").isNull || col("ts") >= lit(cut))
            case _ => resolved
          }
          // CRASH ORDER: append the compacted copy FIRST (its part-
          // files get fresh names, so the duplicate rows it briefly
          // creates resolve by the same batch_seq window every reader
          // already applies), delete the snapshot LAST — the reverse
          // order had a window where a crash left the partition EMPTY
          // and every read silently returned no rows
          retained.coalesce(1).write.mode("append").parquet(partDir)
          snapshot.foreach(fs.delete(_, false))
        }
      }
    }
  }

  /** File-count-gated maintenance: compact this dataset when any table
    * partition holds more than `maxFiles` batch files. The check is one
    * directory listing per table — cheap enough to call after every
    * upsert, which keeps a year of daily appends permanently bounded at
    * ~maxFiles files per partition instead of 365. Returns whether a
    * compaction ran.
    */
  def maintain(
      uri: String,
      maxFiles: Int = 16,
      retainSince: Option[java.sql.Timestamp] = None
  ): Boolean = {
    require(maxFiles > 0, s"maxFiles must be positive, got $maxFiles")
    val needs = Seq("profiling", "optimization", "scoring").exists { table =>
      val dir = partitionDir(table, uri)
      fsExists(dir) && {
        val hp = new org.apache.hadoop.fs.Path(dir)
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(hp).count(_.getPath.getName.endsWith(".parquet")) > maxFiles
      }
    }
    if (needs) compact(uri, retainSince)
    needs
  }
}
