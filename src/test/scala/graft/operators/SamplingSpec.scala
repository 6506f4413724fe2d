package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private val rows = (1L to 2000L).map(i => (i, s"payload $i")).toDF("id", "payload")

  test("hashSplit is deterministic, exhaustive, and near the requested fractions") {
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val s1 = Sampling.hashSplit(rows, "id", fr).groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s1.keySet == Set("train", "val", "test"))
    assert(s1.values.sum == 2000)
    // binomial 4-sigma bounds at n=2000
    assert(math.abs(s1("train") - 1600) < 72, s1)
    assert(math.abs(s1("val") - 200) < 54, s1)
    // repartitioning the input must not move a single row
    val a = Sampling.hashSplit(rows, "id", fr).select("id", "split").collect().toSet
    val b = Sampling.hashSplit(rows.repartition(13), "id", fr).select("id", "split").collect().toSet
    assert(a == b)
  }

  test("growing an early fraction only moves the boundary — no split churn") {
    val before = Sampling.hashSplit(rows, "id", Seq("train" -> 0.8, "rest" -> 0.2))
      .where($"split" === "train").select("id").as[Long].collect().toSet
    val after = Sampling.hashSplit(rows, "id", Seq("train" -> 0.9, "rest" -> 0.1))
      .where($"split" === "train").select("id").as[Long].collect().toSet
    assert(before.subsetOf(after)) // train only ever gains rows
  }

  test("groupSplit never straddles a group across splits and matches hashSplit on the group key") {
    val evs = (1L to 3000L).map(i => (i, i % 97)).toDF("event_id", "user_id")
    val fr = Seq("train" -> 0.9, "test" -> 0.1)
    val out = Sampling.groupSplit(evs, "user_id", fr)
    // leakage guard: one split per user
    val perUser = out.groupBy("user_id").agg(countDistinct("split").as("n"))
      .where(col("n") > 1).count()
    assert(perUser == 0)
    // group membership equals hashSplit of the bare key list
    val keySplit = Sampling.hashSplit((0L to 96L).toDF("user_id"), "user_id", fr)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rowsBad = out.collect().count(r => keySplit(r.getLong(1)) != r.getString(2))
    assert(rowsBad == 0)
  }

  test("deterministicSample is a stable subset and nests by fraction") {
    val p10 = Sampling.deterministicSample(rows, "id", 0.1).select("id").as[Long].collect().toSet
    val p20 = Sampling.deterministicSample(rows, "id", 0.2).select("id").as[Long].collect().toSet
    assert(p10.subsetOf(p20)) // smaller samples nest inside larger ones
    assert(math.abs(p10.size - 200) < 54)
    // different salt -> different (independent) sample
    val other = Sampling.deterministicSample(rows, "id", 0.1, salt = "x").select("id").as[Long].collect().toSet
    assert(p10 != other)
  }

  test("stratifiedSample honors per-stratum fractions and stays hash-consistent") {
    val strata = (1L to 3000L).map(i => (i, (i % 3).toString)).toDF("id", "cls")
    val kept = Sampling
      .stratifiedSample(strata, "id", "cls", Seq("0" -> 0.8, "1" -> 0.2), defaultFraction = 0.0)
    val byCls = kept.groupBy("cls").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 1000 per stratum: binomial 4-sigma bounds
    assert(math.abs(byCls("0") - 800) < 51, byCls)
    assert(math.abs(byCls("1") - 200) < 51, byCls)
    assert(!byCls.contains("2")) // default fraction 0 drops unlisted strata
    // membership is the same hash as deterministicSample — a stratum at
    // fraction f keeps exactly the rows the plain sample at f keeps
    val viaStrat = kept.where($"cls" === "1").select("id").as[Long].collect().toSet
    val viaPlain = Sampling
      .deterministicSample(strata.where($"cls" === "1"), "id", 0.2)
      .select("id")
      .as[Long]
      .collect()
      .toSet
    assert(viaStrat == viaPlain)
  }

  test("thresholdHex maps fractions to the 32-bit hex space") {
    assert(Sampling.thresholdHex(0.0) == "00000000")
    assert(Sampling.thresholdHex(0.5) == "80000000")
    // 1.0 -> above every hex string, so fraction-1.0 keeps every row
    assert(Sampling.thresholdHex(1.0) == "g")
    assert(Sampling.deterministicSample(rows, "id", 1.0).count() == 2000)
  }

  /** The membership contract's digest, md5(id ":" salt), redone
    * independently in plain JVM code (MessageDigest).
    */
  private def md5Hex(id: String, salt: String): String =
    java.security.MessageDigest
      .getInstance("MD5")
      .digest(s"$id:$salt".getBytes("UTF-8"))
      .map("%02x".format(_))
      .mkString

  /** `digits` hex chars of `h` from 1-based `pos`, as a number. */
  private def hexAt(h: String, pos: Int, digits: Int): Long =
    java.lang.Long.parseLong(h.substring(pos - 1, pos - 1 + digits), 16)

  /** Keep-test of the 8-hex uniform against a fraction's threshold:
    * floor(f * 2^32), every value kept at f >= 1.
    */
  private def under(h: String, f: Double): Boolean =
    f >= 1.0 || hexAt(h, 1, 8) < (f * 4294967296d).toLong

  /** The exact Efraimidis–Spirakis key the operator computes, redone
    * independently in plain JVM code (MessageDigest + math.log).
    */
  private def esKey(id: Long, salt: String, w: Double): Double = {
    val u = (hexAt(md5Hex(id.toString, salt), 1, 13) + 1).toDouble / 4503599627370496.0
    math.round(math.log(u) / w * 1e6) / 1e6
  }

  test("hashSplit, mixtureSample, cvAuc folds and shuffleShards match an independent JVM recomputation exactly") {
    val ids = 1L to 2000L
    // hashSplit: the first split whose cumulative threshold is above the uniform
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val cum = fr.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    val gotSplit = Sampling.hashSplit(rows, "id", fr, salt = "s1")
      .select("id", "split").as[(Long, String)].collect().toMap
    val wantSplit = ids.map { id =>
      val h = md5Hex(id.toString, "s1")
      id -> fr.zip(cum).dropRight(1).collectFirst { case ((n, _), c) if under(h, c) => n }
        .getOrElse(fr.last._1)
    }.toMap
    assert(gotSplit == wantSplit)

    // mixtureSample at the per-stratum fractions min(1, budget * w / count);
    // stratum d (20 rows) is over its target and keeps every row
    def stratum(id: Long) =
      if (id % 100 == 0) "d" else if (id % 4 == 0) "a" else if (id % 4 == 1) "b" else "c"
    val strata = ids.map(id => (id, stratum(id))).toDF("id", "s")
    val weights = Seq("a" -> 0.25, "b" -> 0.25, "c" -> 0.25, "d" -> 0.25)
    val budget = 300L
    val gotMix = graft.pipelines.Corpus
      .mixtureSample(strata, "id", "s", weights, budget, salt = "s2")
      .select("id").as[Long].collect().toSet
    val sizes = ids.groupBy(stratum).map { case (s, v) => s -> v.size }
    val wantMix = ids.filter { id =>
      val f = math.min(1.0, budget.toDouble * weights.toMap.apply(stratum(id)) / sizes(stratum(id)).toDouble)
      under(md5Hex(id.toString, "s2"), f)
    }.toSet
    assert(wantMix.count(id => stratum(id) == "d") == 20)
    assert(gotMix == wantMix)

    // cvAuc folds: fold = 52-bit uniform mod folds, so each fold's
    // held-out class counts and training size follow from the ids
    val folds = 3
    val labeled = ids.take(300)
      .map(id => (id, if (id % 3 == 0) 1.0 else 0.0, ((id * 37) % 100) / 100.0))
      .toDF("id", "y", "x")
    val gotCv = graft.ml.Logit
      .cvAuc(labeled, "y", Seq("x"), "id", folds = folds, iters = 1, salt = "s3")
      .select("fold", "n_train", "n_pos", "n_neg").as[(Int, Long, Long, Long)].collect().toSet
    val foldOf = ids.take(300).map(id => id -> (hexAt(md5Hex(id.toString, "s3"), 1, 13) % folds).toInt)
    val wantCv = (0 until folds).map { k =>
      val held = foldOf.collect { case (id, `k`) => id }
      (k, 300L - held.size, held.count(_ % 3 == 0).toLong, held.count(_ % 3 != 0).toLong)
    }.toSet
    assert(gotCv == wantCv)

    // shuffleShards: shard / file_no from the 8-hex values at 1 and 25,
    // ord the 16 hex chars between; a NULL id hashes as ""
    val (nShards, files) = (8, 4)
    val withNull = (ids.take(500).map(Option(_)) :+ None).toDF("id")
    val gotShards = graft.pipelines.Export
      .shuffleShards(withNull, "id", nShards, files, salt = "s4")
      .select("id", "shard", "file_no", "ord").as[(Option[Long], Int, Int, String)].collect().toSet
    val wantShards = (ids.take(500).map(Option(_)) :+ None).map { id =>
      val h = md5Hex(id.fold("")(_.toString), "s4")
      (id, (hexAt(h, 1, 8) * nShards / 4294967296L).toInt,
        (hexAt(h, 25, 8) * files / 4294967296L).toInt, h.substring(8, 24))
    }.toSet
    assert(gotShards == wantShards)
  }

  test("weightedSamplePerGroup matches an independent JVM recomputation exactly") {
    val data = (0 until 40).flatMap { g =>
      (0L until 30L).map(i => (s"g$g", g * 100L + i, 1.0 + (i % 7)))
    }
    val df = data.toDF("g", "id", "w").repartition(11)
    val got = Sampling
      .weightedSamplePerGroup(df, Seq("g"), "id", col("w"), k = 4, salt = "s1")
      .select("g", "rank", "id")
      .as[(String, Int, Long)]
      .collect()
      .toSet
    val want = data
      .groupBy(_._1)
      .flatMap { case (g, rs) =>
        rs.map { case (_, id, w) => (id, esKey(id, "s1", w)) }
          .sortBy { case (id, key) => (-key, id) }
          .take(4)
          .zipWithIndex
          .map { case ((id, _), i) => (g, i + 1, id) }
      }
      .toSet
    assert(got == want)
  }

  test("weightedSamplePerGroup favors heavy weights and is partition-invariant") {
    // planted: per group, item 0 carries 1000x the weight of items 1..19
    val data = (0 until 100).flatMap { g =>
      (0L until 20L).map(i => (s"g$g", g * 1000L + i, if (i == 0) 1000.0 else 1.0))
    }
    val df = data.toDF("g", "id", "w")
    def run(parts: Int): Set[(String, Long)] = Sampling
      .weightedSamplePerGroup(df.repartition(parts), Seq("g"), "id", col("w"), k = 3)
      .select("g", "id")
      .as[(String, Long)]
      .collect()
      .toSet
    val a = run(3)
    assert(run(17) == a, "membership must not depend on partitioning")
    val heavyHit = (0 until 100).count(g => a.contains((s"g$g", g * 1000L)))
    assert(heavyHit >= 95, s"1000x-weight item picked in only $heavyHit/100 groups")
    // zero/negative/NaN weights are excluded outright — NaN would
    // otherwise pass `> 0` under Spark's NaN-greatest ordering and
    // rank above every finite key
    val withBad =
      data ++ Seq(("g0", 999999L, 0.0), ("g1", 999998L, -5.0), ("g2", 999997L, Double.NaN))
    val b = Sampling
      .weightedSamplePerGroup(withBad.toDF("g", "id", "w"), Seq("g"), "id", col("w"), k = 3)
      .select("id")
      .as[Long]
      .collect()
    assert(!b.contains(999999L) && !b.contains(999998L) && !b.contains(999997L))
  }

  test("stratifiedSplit is floor-exact per stratum, deterministic, and respects tiny strata") {
    // stratum sizes 50 and 7: hashSplit could starve the small one;
    // the exact split must give 50 -> 40/5/5 and 7 -> floor(5.6)=5 /
    // floor(6.3)-5=1 / 1
    val rows = (1L to 50L).map(i => ("big", i)) ++ (51L to 57L).map(i => ("tiny", i))
    val df = rows.toDF("stratum", "id")
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = Sampling.stratifiedSplit(df, "stratum", "id", fr)
    val counts = out.groupBy("stratum", "split").count()
      .as[(String, String, Long)].collect().toSet
    assert(counts == Set(
      ("big", "train", 40L), ("big", "val", 5L), ("big", "test", 5L),
      ("tiny", "train", 5L), ("tiny", "val", 1L), ("tiny", "test", 1L)))
    // deterministic across runs and partitionings
    val again = Sampling
      .stratifiedSplit(df.repartition(7), "stratum", "id", fr)
      .select("id", "split").as[(Long, String)].collect().toSet
    assert(again == out.select("id", "split").as[(Long, String)].collect().toSet)
    intercept[IllegalArgumentException] {
      Sampling.stratifiedSplit(df, "stratum", "id", Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("stratifiedSplit boundaries are decimal-exact where doubles would misfloor") {
    // double(0.3) * 10 = 2.9999999999999996 floors to 2; the decimal
    // path must apportion a 10-row stratum under (0.3, 0.7) as 3/7
    val df = (1L to 10L).map(i => ("s", i)).toDF("stratum", "id")
    val counts = Sampling
      .stratifiedSplit(df, "stratum", "id", Seq("a" -> 0.3, "b" -> 0.7))
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts == Map("a" -> 3L, "b" -> 7L), counts.toString)
    // folded cumulative noise (0.1+0.2 -> 0.30000000000000004 as
    // doubles) must not shift the second boundary either: 10 rows
    // under (0.1, 0.2, 0.7) are exactly 1/2/7
    val counts3 = Sampling
      .stratifiedSplit(df, "stratum", "id", Seq("a" -> 0.1, "b" -> 0.2, "c" -> 0.7))
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts3 == Map("a" -> 1L, "b" -> 2L, "c" -> 7L), counts3.toString)
  }

  test("capPerGroup keeps exactly the top-k rows per group with deterministic tiebreak") {
    val docs = Seq(
      ("a", 1L, 10.0), ("a", 2L, 30.0), ("a", 3L, 20.0), ("a", 4L, 30.0),
      ("b", 5L, 1.0)
    ).toDF("g", "id", "m")
    val kept = Sampling
      .capPerGroup(docs, Seq("g"), "id", col("m"), k = 2)
      .select("id")
      .as[Long]
      .collect()
      .sorted
    // group a: 30.0 ties broken by id asc -> ids 2, 4; group b: id 5
    assert(kept.toSeq == Seq(2L, 4L, 5L))
  }

  test("gumbelTopK: weight dominance, NULL exclusion, partitioning invariance") {
    // Gumbel(0,1) noise from a 52-bit uniform spans < 40 nats, so a
    // 2000-nat weight gap makes selection certain: the 20 heavy ids
    // must be exactly the sample.
    val rows: Seq[(Long, java.lang.Double)] =
      (1 to 20).map(i => (i.toLong, java.lang.Double.valueOf(1000.0))) ++
        (21 to 100).map(i => (i.toLong, java.lang.Double.valueOf(-1000.0))) ++
        Seq((101L, null: java.lang.Double))
    val df = rows.toDF("id", "lw")
    val got = Sampling
      .gumbelTopK(df, "id", col("lw").cast("double"), k = 20, salt = "s1")
      .orderBy("rank")
      .collect()
    assert(got.length == 20)
    assert(got.map(_.getAs[Long]("id")).toSet == (1 to 20).map(_.toLong).toSet)
    assert(got.map(_.getAs[Int]("rank")).toSeq == (1 to 20).toSeq)
    // deterministic: same rows/keys on any partitioning
    val re = Sampling
      .gumbelTopK(df.repartition(13), "id", col("lw").cast("double"), 20, "s1")
      .orderBy("rank")
      .collect()
    assert(re.map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq ==
      got.map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq)
    // salt changes the draw: equal weights -> different membership
    val flat = (1 to 200).map(i => (i.toLong, 0.0)).toDF("id", "lw")
    val s1 = Sampling.gumbelTopK(flat, "id", col("lw"), 10, "a")
      .select("id").as[Long].collect().toSet
    val s2 = Sampling.gumbelTopK(flat, "id", col("lw"), 10, "b")
      .select("id").as[Long].collect().toSet
    assert(s1 != s2, "independent salts must draw different samples")
    // NaN log-weight would sort above every finite key in the bounded
    // heap and pin itself into every sample — excluded like NULL
    val withNaN = rows ++ Seq((102L, java.lang.Double.valueOf(Double.NaN)))
    val nanGot = Sampling
      .gumbelTopK(withNaN.toDF("id", "lw"), "id", col("lw").cast("double"), 20, "s1")
      .select("id").as[Long].collect().toSet
    assert(!nanGot.contains(102L) && nanGot == (1 to 20).map(_.toLong).toSet)
  }
}
