package graft.repository

import java.sql.{Connection, DriverManager}

import graft.core.{DatasetMeta, Metric}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQL-database metrics repository over plain JDBC — the reference's
  * `thoth/repository.py` shape (SQLModel over an RDBMS) without its
  * pickled blobs: metrics land as typed ROWS, so the database can
  * index, prune, and serve dashboards directly.
  *
  * Works against any JDBC URL; tests and the quickstart use Spark's
  * BUNDLED embedded Derby (`jdbc:derby:memory:...`), production points
  * the same class at Postgres (MySQL needs >= 8.0.16 for the
  * correlated-DELETE upsert grammar). Division of labor at scale:
  *   - bulk I/O goes through Spark's JDBC source — reads push the
  *     `dataset_uri`/ts-bound predicates into the database (no full
  *     table scan ships over the wire), writes batch-insert through
  *     the dialect;
  *   - upserts are staged: rows land in a staging table via the Spark
  *     writer, then one correlated DELETE + INSERT..SELECT runs
  *     INSIDE the database — the logical-key replace never round-trips
  *     row-by-row through the driver.
  *
  * The RDBMS repository is the right fit for MODERATE metric volumes
  * (the reference's regime — dashboards, row-level upserts,
  * transactional reads). At 10^5 datasets × columns × days, prefer
  * [[ParquetRepository]]: metrics at that scale are themselves big
  * data. Same trait, swap freely.
  *
  * Single-writer-per-database contract (same as the Parquet
  * repository); all methods are synchronized within this JVM.
  */
class JdbcMetricsRepository(
    spark: SparkSession,
    url: String
) extends MetricsRepository {
  import MetricsRepository._

  JdbcMetricsRepository.ensureDerbyDialect()

  private val props = new java.util.Properties

  // identifiers are created QUOTED lowercase so the DataFrames that
  // come back carry the exact trait-contract column names (unquoted
  // DDL would uppercase them in Derby/Postgres)
  private val profilingCols = "dataset_uri" +: profilingSchema.fieldNames.toSeq
  private val optimizationCols = "dataset_uri" +: optimizationSchema.fieldNames.toSeq
  private val scoringCols = "dataset_uri" +: scoringSchema.fieldNames.toSeq

  private def withConn[A](f: Connection => A): A = {
    val c = DriverManager.getConnection(url, props)
    try f(c)
    finally c.close()
  }

  /** Case-insensitive: Derby folds unquoted DDL to UPPER, Postgres to
    * lower — a repository must reconnect to tables either created.
    */
  private def tableExists(c: Connection, name: String): Boolean =
    Seq(name.toUpperCase, name.toLowerCase).exists { n =>
      val rs = c.getMetaData.getTables(null, null, n, null)
      try rs.next()
      finally rs.close()
    }

  private def ddl(c: Connection, sql: String): Unit = {
    val st = c.createStatement()
    try st.executeUpdate(sql)
    finally st.close()
  }

  // create-if-absent; idempotent across instances on the same database
  withConn { c =>
    if (!tableExists(c, "graft_datasets"))
      ddl(c, """CREATE TABLE graft_datasets (
        "uri" VARCHAR(512) NOT NULL PRIMARY KEY,
        "ts_column" VARCHAR(512),
        "columns_enc" VARCHAR(16000),
        "granularity" VARCHAR(32),
        "metrics_enc" VARCHAR(16000))""")
    if (!tableExists(c, "graft_profiling")) {
      ddl(c, """CREATE TABLE graft_profiling (
        "dataset_uri" VARCHAR(512) NOT NULL,
        "ts" TIMESTAMP, "entity" VARCHAR(512), "instance" VARCHAR(512),
        "name" VARCHAR(512), "value" DOUBLE)""")
      // the (dataset_uri, ts) composite index is what makes the pushed
      // dataset/ts-range predicates an index-range scan instead of a
      // full-table filter — created with the table so Postgres/Derby
      // prune from the first read
      ddl(
        c,
        """CREATE INDEX graft_profiling_uri_ts
           ON graft_profiling ("dataset_uri", "ts")"""
      )
    }
    if (!tableExists(c, "graft_optimization")) {
      ddl(c, """CREATE TABLE graft_optimization (
        "dataset_uri" VARCHAR(512) NOT NULL,
        "entity" VARCHAR(512), "instance" VARCHAR(512),
        "name" VARCHAR(512), "best_model" VARCHAR(512),
        "threshold" DOUBLE, "mean_error" DOUBLE,
        "optimization_failed" BOOLEAN)""")
      ddl(
        c,
        """CREATE INDEX graft_optimization_uri
           ON graft_optimization ("dataset_uri")"""
      )
    }
    if (!tableExists(c, "graft_scoring")) {
      ddl(c, """CREATE TABLE graft_scoring (
        "dataset_uri" VARCHAR(512) NOT NULL,
        "ts" TIMESTAMP, "entity" VARCHAR(512), "instance" VARCHAR(512),
        "name" VARCHAR(512), "value" DOUBLE,
        "predicted" DOUBLE, "score" DOUBLE)""")
      ddl(
        c,
        """CREATE INDEX graft_scoring_uri_ts
           ON graft_scoring ("dataset_uri", "ts")"""
      )
    }
  }

  // --- dataset registry -------------------------------------------------

  // Seq fields travel as unit/record-separator joined strings — no
  // JSON dependency, and the separators cannot appear in identifiers
  private val RS = '\u001E'
  private val US = '\u001F'
  private def encSeq(xs: Seq[String]): String = xs.mkString(RS.toString)
  private def decSeq(s: String): Seq[String] =
    if (s == null || s.isEmpty) Seq.empty else s.split(RS).toSeq
  private def encMetrics(ms: Seq[Metric]): String =
    ms.map(m => s"${m.entity}$US${m.instance}$US${m.name}").mkString(RS.toString)
  private def decMetrics(s: String): Seq[Metric] =
    decSeq(s).map { enc =>
      // limit -1: String.split drops TRAILING empty fields by default,
      // so a metric with an empty name ("ei") would decode
      // to 2 fields and p(2) would crash every getDataset/listDatasets
      val p = enc.split(US.toString, -1)
      require(p.length == 3, s"corrupt metric encoding: '$enc'")
      Metric(p(0), p(1), p(2))
    }

  def registerDataset(meta: DatasetMeta): Unit = synchronized {
    withConn { c =>
      val del = c.prepareStatement("""DELETE FROM graft_datasets WHERE "uri" = ?""")
      try { del.setString(1, meta.uri); del.executeUpdate() }
      finally del.close()
      val ins = c.prepareStatement(
        "INSERT INTO graft_datasets VALUES (?, ?, ?, ?, ?)"
      )
      try {
        ins.setString(1, meta.uri)
        ins.setString(2, meta.tsColumn)
        ins.setString(3, encSeq(meta.columns))
        ins.setString(4, meta.granularity)
        ins.setString(5, encMetrics(meta.metrics))
        ins.executeUpdate()
      } finally ins.close()
    }
  }

  private def readMeta(rs: java.sql.ResultSet): DatasetMeta =
    DatasetMeta(
      rs.getString(1),
      rs.getString(2),
      decSeq(rs.getString(3)),
      rs.getString(4),
      decMetrics(rs.getString(5))
    )

  def getDataset(uri: String): Option[DatasetMeta] = synchronized {
    withConn { c =>
      val st = c.prepareStatement(
        """SELECT "uri", "ts_column", "columns_enc", "granularity", "metrics_enc"
           FROM graft_datasets WHERE "uri" = ?"""
      )
      try {
        st.setString(1, uri)
        val rs = st.executeQuery()
        try if (rs.next()) Some(readMeta(rs)) else None
        finally rs.close()
      } finally st.close()
    }
  }

  def listDatasets(): Seq[DatasetMeta] = synchronized {
    withConn { c =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(
          """SELECT "uri", "ts_column", "columns_enc", "granularity", "metrics_enc"
             FROM graft_datasets ORDER BY "uri""""
        )
        try {
          val out = Seq.newBuilder[DatasetMeta]
          while (rs.next()) out += readMeta(rs)
          out.result()
        } finally rs.close()
      } finally st.close()
    }
  }

  // --- staged upsert ----------------------------------------------------

  private val stagingSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Land `rows` in a fresh staging table via the Spark JDBC writer,
    * then replace matching logical keys inside the database with one
    * correlated DELETE + INSERT..SELECT. The staging table is dropped
    * afterwards even on failure.
    */
  private def upsert(
      table: String,
      uri: String,
      rows: DataFrame,
      cols: Seq[String],
      key: Seq[String]
  ): Unit = {
    val staging = s"graft_stage_${stagingSeq.incrementAndGet()}"
    rows
      .withColumn("dataset_uri", lit(uri))
      .select(cols.map(col): _*)
      .write
      .mode("overwrite")
      .jdbc(url, staging, props)
    try {
      withConn { c =>
        // ONE transaction: a failure between the DELETE and the
        // INSERT..SELECT (width overflow, dropped connection) must
        // roll the delete back, never strand the store with the old
        // rows gone and the new ones missing
        c.setAutoCommit(false)
        try {
          // null-safe per-column match: plain equality never matches a
          // NULL key value (e.g. a NULL ts), so re-adding such a row
          // would accumulate duplicates instead of replacing — the
          // Parquet repository (its latest-wins groupBy groups NULLs) and
          // the InMemory one (null-safe <=> anti-join) both honor
          // latest-wins on NULL keys; this must match
          val keyMatch = key
            .map(k =>
              s"""(s."$k" = $table."$k" OR (s."$k" IS NULL AND $table."$k" IS NULL))"""
            )
            .mkString(" AND ")
          // no DELETE alias — the unaliased correlated form is the
          // widest-supported grammar (Derby, Postgres; MySQL still
          // needs >= 8.0.16 for the EXISTS-on-self shape)
          ddl(
            c,
            s"""DELETE FROM $table WHERE "dataset_uri" = '${uri.replace("'", "''")}'
               AND EXISTS (SELECT 1 FROM $staging s WHERE $keyMatch)"""
          )
          val colList = cols.map(cn => s""""$cn"""").mkString(", ")
          ddl(c, s"INSERT INTO $table ($colList) SELECT $colList FROM $staging")
          c.commit()
        } catch {
          case e: Throwable =>
            c.rollback()
            throw e
        }
      }
    } finally {
      withConn(c => ddl(c, s"DROP TABLE $staging"))
    }
  }

  private def readTable(
      table: String,
      uri: String,
      start: Option[java.sql.Timestamp],
      end: Option[java.sql.Timestamp]
  ): DataFrame = {
    // predicates push into the database (JDBCRelation filter pushdown):
    // the selection runs where the index lives, not in Spark
    val df = spark.read
      .jdbc(url, table, props)
      .where(col("dataset_uri") === uri)
      .drop("dataset_uri")
    tsBounded(df, start, end)
  }

  def addProfiling(uri: String, rows: DataFrame): Unit = synchronized {
    upsert("graft_profiling", uri, rows, profilingCols, "dataset_uri" +: profilingKey)
  }
  def getProfiling(
      uri: String,
      start: Option[java.sql.Timestamp],
      end: Option[java.sql.Timestamp]
  ): DataFrame = readTable("graft_profiling", uri, start, end)

  def addOptimization(uri: String, rows: DataFrame): Unit = synchronized {
    upsert(
      "graft_optimization", uri, rows, optimizationCols,
      "dataset_uri" +: optimizationKey
    )
  }
  def getOptimization(uri: String): DataFrame =
    spark.read
      .jdbc(url, "graft_optimization", props)
      .where(col("dataset_uri") === uri)
      .drop("dataset_uri")

  def addScoring(uri: String, rows: DataFrame): Unit = synchronized {
    upsert("graft_scoring", uri, rows, scoringCols, "dataset_uri" +: scoringKey)
  }
  def getScoring(
      uri: String,
      start: Option[java.sql.Timestamp],
      end: Option[java.sql.Timestamp]
  ): DataFrame = readTable("graft_scoring", uri, start, end)
}

object JdbcMetricsRepository {

  /** Spark's built-in Derby dialect maps StringType to CLOB, which
    * poisons this repository twice: staging tables come out CLOB
    * (Derby cannot compare CLOB against the main tables' VARCHAR
    * keys), and `setNull` on a nullable string declares CLOB against
    * a VARCHAR column (Derby rejects the conversion). Shadow it with
    * a dialect that keeps Derby's BOOLEAN but maps strings to
    * VARCHAR — registration is idempotent and scoped to derby URLs;
    * other databases keep their built-in dialects.
    */
  private object GraftDerbyDialect extends org.apache.spark.sql.jdbc.JdbcDialect {
    override def canHandle(url: String): Boolean =
      url.toLowerCase(java.util.Locale.ROOT).startsWith("jdbc:derby")
    override def getJDBCType(
        dt: org.apache.spark.sql.types.DataType
    ): Option[org.apache.spark.sql.jdbc.JdbcType] = dt match {
      case org.apache.spark.sql.types.StringType =>
        Some(org.apache.spark.sql.jdbc.JdbcType("VARCHAR(512)", java.sql.Types.VARCHAR))
      case org.apache.spark.sql.types.BooleanType =>
        Some(org.apache.spark.sql.jdbc.JdbcType("BOOLEAN", java.sql.Types.BOOLEAN))
      case org.apache.spark.sql.types.ByteType =>
        Some(org.apache.spark.sql.jdbc.JdbcType("SMALLINT", java.sql.Types.SMALLINT))
      case _ => None
    }
  }

  private lazy val registered: Unit =
    org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(GraftDerbyDialect)

  private[repository] def ensureDerbyDialect(): Unit = registered
}
