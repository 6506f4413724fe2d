package flowbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Everything a workload feeds the library is
  * written here as parquet first; the library only ever sees those
  * files. The planted truth (anomaly positions, document categories)
  * stays in memory for the output checks.
  */
object Gen {

  // ---------------------------------------------------------------
  // monitor_daily: a raw event table with a `ts` column
  // ---------------------------------------------------------------

  case class NumCol(name: String, base: Double, weeklyAmp: Double, phase: Double,
      trend: Double, noise: Double, nullRate: Double)
  case class StrCol(name: String, cardinality: Int, nullRate: Double)
  /** One planted anomaly: `kind` is "scale" (numeric values x factor),
    * "unique" (string column turns high-cardinality) or "nulls"
    * (string column mostly NULL). `day` indexes the assessed days.
    */
  case class Anomaly(day: Int, column: String, kind: String, factor: Double)
  case class MonitorPlan(seed: Long, historyDays: Int, newDays: Int, rowsPerDay: Int,
      numeric: Seq[NumCol], strings: Seq[StrCol], anomalies: Seq[Anomaly]) {
    def totalDays: Int = historyDays + newDays
    def json: String = {
      val an = anomalies.map(a =>
        s"""{"day":${a.day},"column":"${a.column}","kind":"${a.kind}","factor":${a.factor}}""")
      s"""{"seed":$seed,"history_days":$historyDays,"new_days":$newDays,""" +
        s""""rows_per_day":$rowsPerDay,"numeric_columns":${numeric.size},""" +
        s""""string_columns":${strings.size},"anomalies":[${an.mkString(",")}]}"""
    }
  }

  val startEpochSec: Long = 1735689600L // 2025-01-01T00:00:00Z

  def monitorPlan(seed: Long, historyDays: Int, newDays: Int, rowsPerDay: Int,
      nAnomalies: Int): MonitorPlan = {
    val r = new Random(seed)
    val numeric = (0 until 8).map(i =>
      NumCol(s"m$i", base = math.pow(10, 1 + 2 * r.nextDouble()),
        weeklyAmp = 0.05 + 0.15 * r.nextDouble(), phase = 7 * r.nextDouble(),
        trend = 0.004 * r.nextDouble(), noise = 0.05 + 0.15 * r.nextDouble(),
        nullRate = if (r.nextBoolean()) 0.0 else 0.01 + 0.04 * r.nextDouble()))
    val strings = (0 until 2).map(i =>
      StrCol(s"s$i", cardinality = 5 + r.nextInt(40),
        nullRate = 0.01 + 0.03 * r.nextDouble()))
    // the last assessed days, one anomaly per day, so an alert on a day
    // can only be explained by that day's planted column
    val days = (newDays - nAnomalies until newDays).toList
    val anomalies = days.map { d =>
      if (r.nextDouble() < 0.75) {
        val c = numeric(r.nextInt(numeric.size)).name
        Anomaly(d, c, "scale", if (r.nextBoolean()) 4 + 4 * r.nextDouble() else 0.05 + 0.1 * r.nextDouble())
      } else {
        val c = strings(r.nextInt(strings.size)).name
        Anomaly(d, c, if (r.nextBoolean()) "unique" else "nulls", 0.0)
      }
    }
    MonitorPlan(seed, historyDays, newDays, rowsPerDay, numeric, strings, anomalies)
  }

  /** All days of the raw table; `day` (0-based over history + new days)
    * is kept for splitting and dropped before anything is written.
    */
  private def monitorRows(spark: SparkSession, p: MonitorPlan): DataFrame = {
    val n = p.totalDays.toLong * p.rowsPerDay
    val day = (col("id") / p.rowsPerDay).cast("int")
    val newDay = day - p.historyDays
    val base = spark.range(0, n, 1, 4).select(
      col("id"), day.as("day"),
      timestamp_seconds(lit(startEpochSec) + day.cast("long") * 86400L +
        (col("id") % p.rowsPerDay) * (86400L / p.rowsPerDay)).as("ts"))
    val seedBase = p.seed * 1000
    val nums = p.numeric.zipWithIndex.map { case (c, i) =>
      val level = lit(c.base) * (lit(1.0) + lit(c.trend) * col("day")) *
        (lit(1.0) + lit(c.weeklyAmp) * sin((col("day") + c.phase) * (2 * math.Pi / 7)))
      val anomalyFactor = p.anomalies.filter(a => a.column == c.name && a.kind == "scale")
        .foldLeft(lit(1.0)) { (acc, a) => when(newDay === a.day, lit(a.factor)).otherwise(acc) }
      val v = level * (lit(1.0) + lit(c.noise) * randn(seedBase + 2 * i)) * anomalyFactor
      when(rand(seedBase + 2 * i + 1) < c.nullRate, lit(null).cast("double"))
        .otherwise(v).as(c.name)
    }
    val strs = p.strings.zipWithIndex.map { case (c, i) =>
      val s0 = seedBase + 100 + 2 * i
      val normal = concat(lit("v"), floor(rand(s0) * c.cardinality).cast("int").cast("string"))
      val planted = p.anomalies.filter(_.column == c.name)
      val v = planted.foldLeft(normal) { (acc, a) =>
        a.kind match {
          case "unique" => when(newDay === a.day, concat(lit("u"), col("id").cast("string"))).otherwise(acc)
          case _ => when(newDay === a.day && rand(s0 + 50) < 0.7, lit(null).cast("string")).otherwise(acc)
        }
      }
      when(rand(s0 + 1) < c.nullRate, lit(null).cast("string")).otherwise(v).as(c.name)
    }
    base.select((Seq(col("ts"), col("day")) ++ nums ++ strs): _*)
  }

  /** Writes `history` (the first H days) and one directory per
    * assessed day under `dir`; returns the generated bytes on disk.
    */
  def writeMonitor(spark: SparkSession, p: MonitorPlan, dir: String): Long = {
    val rows = monitorRows(spark, p).cache()
    try {
      rows.where(col("day") < p.historyDays).drop("day")
        .coalesce(4).write.mode("overwrite").parquet(s"$dir/history")
      (0 until p.newDays).foreach { d =>
        rows.where(col("day") === p.historyDays + d).drop("day")
          .coalesce(1).write.mode("overwrite").parquet(monitorDayPath(dir, d))
      }
    } finally rows.unpersist(blocking = true)
    Util.dirBytes(dir)
  }

  def monitorDayPath(dir: String, d: Int): String = f"$dir/day_$d%03d"

  // ---------------------------------------------------------------
  // corpus_prepare / corpus_incremental: documents with planted
  // categories
  // ---------------------------------------------------------------

  /** The library's language gate counts these per-language stopwords;
    * generated prose uses them the way real prose does.
    */
  val stop: Map[String, Array[String]] = Map(
    "en" -> Array("the", "a", "an", "of", "to", "and", "in", "is", "it", "for", "on", "with", "as", "at", "by", "from"),
    "de" -> Array("der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "auf", "ein", "eine", "nicht", "im"),
    "fr" -> Array("le", "les", "et", "est", "une", "dans", "pour", "qui", "sur", "pas", "au"),
    "es" -> Array("el", "los", "y", "es", "una", "por", "no", "con", "para", "su")
  )
  private val allStop: Set[String] = stop.values.flatten.toSet

  private val syllables: Map[String, Array[String]] = Map(
    "en" -> Array("ba", "con", "der", "ing", "ter", "mor", "lan", "pro", "vis", "tion", "ly", "sha", "wen", "tor", "ble"),
    "de" -> Array("schaf", "ung", "keit", "ber", "gen", "lich", "heit", "stra", "wald", "zei", "kor", "tum", "feld"),
    "fr" -> Array("ment", "eau", "rou", "que", "tion", "bel", "vrai", "chan", "mai", "son", "lieu", "ette", "oir"),
    "es" -> Array("cion", "dad", "ero", "mien", "ta", "ble", "cas", "lla", "rri", "mos", "nto", "ando", "ier")
  )

  /** A fixed per-language content vocabulary: every two- and
    * three-syllable word of at most 10 letters.
    */
  val vocab: Map[String, Array[String]] = syllables.map { case (lang, syl) =>
    val two = for (a <- syl; b <- syl) yield a + b
    val words = (two ++ (for (w <- two; c <- syl) yield w + c)).distinct
      .filter(w => w.length <= 10 && !allStop(w))
    lang -> words
  }

  /** A generated document and its planted category; `copyOf` is the
    * source of an exact copy.
    */
  case class Doc(id: Long, text: String, category: String, batch: Int, copyOf: Long = -1L)

  case class CorpusPlan(seed: Long, docs: Int, batches: Int, rates: Map[String, Double]) {
    def json: String = {
      val r = rates.toSeq.sortBy(_._1).map { case (k, v) => f""""$k":$v%.4f""" }
      s"""{"seed":$seed,"docs":$docs,"batches":$batches,"rates":{${r.mkString(",")}}}"""
    }
  }

  def corpusPlan(seed: Long, docs: Int, batches: Int): CorpusPlan = {
    val r = new Random(seed * 7919 + 1)
    def between(lo: Double, hi: Double) = lo + (hi - lo) * r.nextDouble()
    val rates = Map(
      "exact_dup" -> between(0.03, 0.06),
      "near_dup" -> between(0.04, 0.08),
      "non_english" -> between(0.08, 0.14),
      "too_short" -> between(0.03, 0.06),
      "symbol_heavy" -> between(0.02, 0.04),
      "boilerplate" -> between(0.01, 0.02)
    ) ++ (if (batches > 1) Map(
      "prior_exact" -> between(0.03, 0.05),
      "prior_near" -> between(0.02, 0.04)) else Map.empty)
    CorpusPlan(seed, docs, batches, rates)
  }

  private def prose(r: Random, lang: String, nWords: Int): Array[String] = {
    val st = stop(lang)
    val vo = vocab(lang)
    val words = Array.fill(nWords)(if (r.nextDouble() < 0.28) st(r.nextInt(st.length)) else vo(r.nextInt(vo.length)))
    // a floor on the language's own stopwords: an unlucky draw must not
    // leave the language gate a tie it resolves to English
    val own = st.toSet
    while (words.count(own) < math.min(8, nWords / 3)) words(r.nextInt(nWords)) = st(r.nextInt(st.length))
    if (lang != "en") {
      // enough English function words to pass the rule filter's
      // stopword floor, far fewer than the document's own language:
      // the language gate, not a rule, is what must drop it
      val en = stop("en")
      r.shuffle(words.indices.toList).take(3).zipWithIndex.foreach { case (i, k) => words(i) = en(k) }
    }
    words
  }

  /** Replace 1-2 words: a near copy whose 3-shingle Jaccard with its
    * source stays far above the dedup threshold.
    */
  private def nearCopy(r: Random, words: Array[String]): Array[String] = {
    val w = words.clone()
    val vo = vocab("en")
    (0 until 1 + r.nextInt(2)).foreach(_ => w(r.nextInt(w.length)) = vo(r.nextInt(vo.length)))
    w
  }

  /** Documents in `plan.batches` batches. Within a batch: exact copies,
    * near-copy clusters, non-English, too-short, symbol-heavy and
    * boilerplate documents, the rest clean English prose. From the
    * second batch on, some documents are exact or near copies of clean
    * documents of earlier batches (`prior_exact` / `prior_near`).
    * Copies always carry larger ids than their source.
    */
  def corpus(plan: CorpusPlan): Seq[Doc] = {
    val r = new Random(plan.seed)
    val perBatch = plan.docs / plan.batches
    val boiler = prose(r, "en", 70)
    val out = mutable.ArrayBuffer.empty[Doc]
    val cleanSoFar = mutable.ArrayBuffer.empty[Doc]
    var nextId = 0L
    def add(text: Array[String], category: String, batch: Int, copyOf: Long = -1L): Doc = {
      val d = Doc(nextId, text.mkString(" "), category, batch, copyOf)
      nextId += 1
      out += d
      d
    }
    def n(rate: String) = math.round(perBatch * plan.rates.getOrElse(rate, 0.0)).toInt
    (0 until plan.batches).foreach { b =>
      val priorClean = cleanSoFar.toIndexedSeq
      val cats = Seq("non_english", "too_short", "symbol_heavy", "boilerplate").map(c => c -> n(c))
      val nearSources = n("near_dup") / 3
      val nearCopies = nearSources * 2
      val priorExact = if (b > 0) n("prior_exact") else 0
      val priorNear = if (b > 0) n("prior_near") else 0
      val nClean = perBatch - cats.map(_._2).sum - nearSources - nearCopies - n("exact_dup") - priorExact - priorNear
      val clean = (0 until nClean).map(_ => add(prose(r, "en", 50 + r.nextInt(70)), "clean", b))
      val sources = (0 until nearSources).map(_ => add(prose(r, "en", 60 + r.nextInt(60)), "near_source", b))
      cats.foreach {
        case ("non_english", k) =>
          (0 until k).foreach(_ => add(prose(r, Seq("de", "fr", "es")(r.nextInt(3)), 50 + r.nextInt(60)), "non_english", b))
        case ("too_short", k) =>
          (0 until k).foreach(_ => add(prose(r, "en", 8 + r.nextInt(25)), "too_short", b))
        case ("symbol_heavy", k) =>
          (0 until k).foreach { _ =>
            val w = prose(r, "en", 50 + r.nextInt(40))
            w.indices.filter(_ % 3 == 0).foreach(i => w(i) = "#" + w(i) + "$%&")
            add(w, "symbol_heavy", b)
          }
        case (_, k) =>
          (0 until k).foreach(_ => add(boiler ++ prose(r, "en", 6), "boilerplate", b))
      }
      sources.foreach { s =>
        val w = s.text.split(" ")
        (0 until 2).foreach(_ => add(nearCopy(r, w), "near_dup", b))
      }
      (0 until n("exact_dup")).foreach { _ =>
        val s = clean(r.nextInt(clean.size))
        add(s.text.split(" "), "exact_dup", b, copyOf = s.id)
      }
      // prior copies draw without replacement: two copies of one source
      // in one batch would make one of them a within-batch duplicate
      r.shuffle(priorClean).take(priorExact + priorNear).zipWithIndex.foreach { case (s, i) =>
        if (i < priorExact) add(s.text.split(" "), "prior_exact", b, copyOf = s.id)
        else add(nearCopy(r, s.text.split(" ")), "prior_near", b)
      }
      // only never-copied clean documents become prior sources, so a
      // source is kept by its own batch whatever the later batches hold
      val copied = out.iterator.filter(d => d.batch == b && d.copyOf >= 0).map(_.copyOf).toSet
      cleanSoFar ++= clean.filterNot(d => copied(d.id))
    }
    out.toSeq
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Writes one parquet directory per batch (`batch_<b>`), shuffled
    * within the batch so planted copies are not adjacent to their
    * sources; returns the generated bytes on disk.
    */
  def writeCorpus(spark: SparkSession, docs: Seq[Doc], seed: Long, dir: String): Long = {
    docs.groupBy(_.batch).foreach { case (b, ds) =>
      val rows = new Random(seed + b).shuffle(ds).map(d => Row(d.id, d.text))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), docSchema)
        .write.mode("overwrite").parquet(corpusBatchPath(dir, b))
    }
    Util.dirBytes(dir)
  }

  def corpusBatchPath(dir: String, b: Int): String = f"$dir/batch_$b%02d"
}
