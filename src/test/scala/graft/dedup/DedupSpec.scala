package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away today"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away today"), // exact dup of 1
    (3L, "The quick brown fox JUMPS over the lazy dog, and runs far away today!"), // normalized dup of 1
    (4L, "the quick brown fox jumps over the lazy cat and runs far away today"), // near-dup of 1 (1 word)
    (5L, "completely different content about distributed query engines and shuffles here now"),
    (6L, "a b") // too short for 3-shingles
  ).toDF("doc_id", "text")

  test("exact dedup keeps the lowest id per identical text") {
    val ids = Dedup.exact(corpus, "text", "doc_id").select("doc_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 3L, 4L, 5L, 6L))
  }

  test("normalized dedup also collapses case/punctuation variants") {
    val ids = Dedup.exactNormalized(corpus, "text", "doc_id").select("doc_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 4L, 5L, 6L))
  }

  test("segment dedup keeps global first occurrences and rebuilds docs in order") {
    // w=2 segments: doc 1 = [a b][c d], doc 2 repeats [a b] then new
    // [e f], doc 3 is entirely doc 1's segments -> fully dropped
    val df = Seq(
      (1L, "a b c d"),
      (2L, "a b e f"),
      (3L, "c d a b")
    ).toDF("doc_id", "text")
    val out = Dedup
      .segmentDedupSweep(df, "text", "doc_id", segmentTokens = 2)
      .orderBy("doc_id")
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L, 2L), (2L, 2L, 1L), (3L, 2L, 0L)))
    // doc 2's rebuilt text is just its surviving segment
    val h2 = out(1).getString(3)
    val expected = spark.sql("SELECT md5('e f')").collect().head.getString(0)
    assert(h2 == expected)
    // doc 3 rebuilt as empty string
    val empty = spark.sql("SELECT md5('')").collect().head.getString(0)
    assert(out(2).getString(3) == empty)
  }

  test("segment dedup: a short tail segment is its own dedup unit") {
    val df = Seq((1L, "a b c"), (2L, "c")).toDF("doc_id", "text")
    val out = Dedup
      .segmentDedupSweep(df, "text", "doc_id", segmentTokens = 2)
      .orderBy("doc_id")
      .collect()
    // doc 1 = [a b][c]; doc 2 = [c] which duplicates doc 1's tail
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L, 2L), (2L, 1L, 0L)))
  }

  test("canonical pick elects the highest-rank copy, ties to lowest id") {
    val df = Seq(
      (1L, "same text here", 10L),
      (2L, "same text here", 30L), // highest rank wins
      (3L, "same text here", 30L), // tie -> lower id (2) wins
      (4L, "other text now", 5L)
    ).toDF("doc_id", "text", "quality")
    val out = Dedup
      .canonicalPick(df, "text", "doc_id", "quality")
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)))
      .toSet
    assert(out == Set((2L, 3L), (4L, 1L)))
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    // 13-token docs differing by one word have shingle-jaccard ~0.57;
    // 16 bands x 2 rows gives band-collision recall >99% at that
    // similarity (4x4 would miss ~64% of the time), so the docs 1-4
    // pair must surface while unrelated doc 5 stays unpaired.
    val pairs = Dedup
      .minhashLshPairs(corpus, "text", "doc_id", numHashes = 32, bands = 16, threshold = 0.4)
      .select("id_a", "id_b")
      .as[(Long, Long)]
      .collect()
      .toSet
    assert(pairs.contains((1L, 2L))) // identical -> jaccard 1
    assert(pairs.contains((1L, 4L)) || pairs.contains((2L, 4L))) // near-dup
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L)) // unrelated never paired
  }

  test("minhash estimated jaccard is 1.0 for identical docs") {
    val j = Dedup
      .minhashLshPairs(corpus, "text", "doc_id", threshold = 0.5)
      .where($"id_a" === 1L && $"id_b" === 2L)
      .select("jaccard")
      .as[Double]
      .collect()
    assert(j.headOption.contains(1.0))
  }

  test("simhash pairs identical and near docs within hamming budget") {
    val pairs = Dedup
      .simhashPairs(corpus, "text", "doc_id", maxHamming = 3)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Int]("hamming")))
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair.get((1L, 2L)).contains(0)) // identical text -> identical simhash
    assert(!byPair.keySet.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("near-dup sweep keeps the lowest id per pair and all unpaired docs") {
    val pairs = Dedup.minhashLshPairs(corpus, "text", "doc_id", numHashes = 32, bands = 16, threshold = 0.4)
    val kept = Dedup
      .nearDupSweep(corpus, pairs, "doc_id")
      .select("doc_id")
      .as[Long]
      .collect()
      .sorted
      .toSeq
    assert(kept.contains(1L)) // cluster representative survives
    assert(!kept.contains(2L)) // exact dup of 1 swept
    assert(kept.contains(5L) && kept.contains(6L)) // unpaired docs survive
  }

  test("connected-component sweep collapses transitive clusters the greedy sweep misses") {
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // components: {1,2,3} via hub 3 (no 1-2 edge), {4,5}; 6 unpaired
    val pairs = Seq((1L, 3L, 0.9), (2L, 3L, 0.9), (4L, 5L, 0.8))
      .toDF("id_a", "id_b", "jaccard")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))

    val exact = Dedup.componentSweep(docs, pairs, "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(exact == Seq(1L, 4L, 6L))
    // greedy keeps 2 as well (it never appears as id_b)
    val greedy = Dedup.nearDupSweep(docs, pairs, "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(greedy == Seq(1L, 2L, 4L, 6L))
  }

  test("connected components converge on a long chain — driver and distributed paths agree") {
    val chain = (1L until 20L).map(i => (i, i + 1, 1.0)).toDF("id_a", "id_b", "jaccard")
    // small graph takes the driver union-find path
    val cc = Dedup.connectedComponents(chain, maxIter = 30).collect()
    assert(cc.forall(_.getLong(1) == 1L)) // single component labeled by min id
    // driverThreshold=0 forces the distributed label-propagation loop
    val dist = Dedup.connectedComponents(chain, maxIter = 30, driverThreshold = 0).collect()
    assert(dist.toSet == cc.toSet)
  }

  test("star alternation raises instead of returning unconverged labels") {
    val chain = (1L until 300L).map(i => (i, i + 1, 1.0)).toDF("id_a", "id_b", "jaccard")
    val err = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 1, driverThreshold = 0).collect()
    }
    assert(err.getMessage.contains("fixpoint"))
  }

  test("star alternation converges on a chain far deeper than the round budget") {
    // diameter 299 with maxIter=10: min-label propagation would stall
    // 10 hops in; large-star/small-star contracts the whole chain to a
    // star on node 1 in O(log n) rounds.
    val n = 300L
    val chain = (1L until n).map(i => (i, i + 1, 1.0)).toDF("id_a", "id_b", "jaccard")
    val cc = Dedup.connectedComponents(chain, maxIter = 10, driverThreshold = 0).collect()
    assert(cc.length == n)
    assert(cc.forall(_.getLong(1) == 1L))
  }

  test("star alternation equals driver union-find on random graphs") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val pairs = Seq
        .fill(80)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .map { case (a, b) => (a, b, 1.0) }
        .toDF("id_a", "id_b", "jaccard")
      val driver = Dedup.connectedComponents(pairs).collect().toSet
      val dist =
        Dedup.connectedComponents(pairs, maxIter = 15, driverThreshold = 0).collect().toSet
      assert(dist == driver, s"trial $trial: paths diverged")
    }
  }

  test("connected-component schema preserves the input id type on both paths") {
    val intEdges = Seq((1, 2, 1.0), (2, 3, 1.0)).toDF("id_a", "id_b", "jaccard")
    val driverPath = Dedup.connectedComponents(intEdges, maxIter = 10)
    val distPath = Dedup.connectedComponents(intEdges, maxIter = 10, driverThreshold = 0)
    assert(driverPath.schema.map(_.dataType) == distPath.schema.map(_.dataType))
    assert(driverPath.collect().toSet == distPath.collect().toSet)
  }

  test("graft.checkpoint.reliable=true routes iterations through reliable checkpoints") {
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    spark.conf.set("graft.checkpoint.reliable", "true")
    try {
      val pairs = Seq((1L, 3L, 0.9), (2L, 3L, 0.9), (4L, 5L, 0.8))
        .toDF("id_a", "id_b", "jaccard")
      val cc = Dedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // identical result to the localCheckpoint path...
      assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
      // ...but the intermediates now live in the reliable checkpoint dir
      def rddFiles(f: java.io.File): Int =
        Option(f.listFiles()).toSeq.flatten
          .map(c => (if (c.isDirectory) rddFiles(c) else 0) + (if (c.getName.startsWith("rdd-") || c.getName.startsWith("part-")) 1 else 0))
          .sum
      assert(rddFiles(new java.io.File(ckDir)) > 0, "no reliable checkpoint files written")
    } finally {
      spark.conf.unset("graft.checkpoint.reliable")
    }
  }

  test("XXH64 minhash-LSH pairs exactly match a plain-JVM recomputation") {
    // Independent exactness check for the non-oracle family: recompute
    // every signature with direct HashKernels calls (no Spark), derive
    // the expected pair set by brute force — a pair is expected iff the
    // signatures agree on at least one FULL band (band-bucket equality
    // == band-content equality modulo a ~2^-64 hash collision) and the
    // slot-agreement Jaccard clears the threshold.
    import graft.functions.HashKernels
    import org.apache.spark.unsafe.types.UTF8String
    val numHashes = 32; val bands = 16; val rpb = numHashes / bands
    val threshold = 0.4
    val docs = corpus.select("doc_id", "text").as[(Long, String)].collect()
    val sigs = docs.flatMap { case (id, text) =>
      val th = HashKernels.tokenHashes(UTF8String.fromString(text))
      val sh = HashKernels.shingleHashes(th, 3)
      if (sh.numElements() == 0) None
      else Some(id -> HashKernels.minhashSignature(sh, numHashes).toLongArray())
    }.toMap
    val expected = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      bandHit = (0 until bands).exists(bd =>
        (0 until rpb).forall(j => sa(bd * rpb + j) == sb(bd * rpb + j)))
      jac = (0 until numHashes).count(k => sa(k) == sb(k)).toDouble / numHashes
      if bandHit && jac >= threshold
    } yield (a, b, jac)).toSet
    val got = Dedup
      .minhashLshPairs(corpus, "text", "doc_id", numHashes = numHashes, bands = bands, threshold = threshold)
      .as[(Long, Long, Double)]
      .collect()
      .toSet
    assert(got == expected, s"got $got expected $expected")
    assert(expected.nonEmpty) // the corpus plants near-dups; empty = vacuous
  }

  test("XXH64 simhash pairs exactly match brute-force Hamming over JVM signatures") {
    // Validates the pigeonhole chunk join recalls EVERY pair within
    // maxHamming — expected set is all-pairs popcount, no chunking.
    import graft.functions.HashKernels
    import org.apache.spark.unsafe.types.UTF8String
    val maxHamming = 3
    val docs = corpus.select("doc_id", "text").as[(Long, String)].collect()
    val sigs = docs.map { case (id, text) =>
      id -> HashKernels.simhash64(HashKernels.tokenHashes(UTF8String.fromString(text)))
    }.toMap
    val expected = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb)
      if h <= maxHamming
    } yield (a, b, h)).toSet
    val got = Dedup
      .simhashPairs(corpus, "text", "doc_id", maxHamming = maxHamming)
      .as[(Long, Long, Int)]
      .collect()
      .toSet
    assert(got == expected, s"got $got expected $expected")
  }

  test("portable md5 family finds the same planted near-dups as the XXH64 family") {
    val pairs = graft.dedup.PortableDedup
      .minhashLshPairs(corpus, "text", "doc_id", numHashes = 32, bands = 16, threshold = 0.4)
      .select("id_a", "id_b")
      .as[(Long, Long)]
      .collect()
      .toSet
    // exact dup 1-2 and near-dups of 1 must surface; unrelated 5 must not
    assert(pairs.contains((1L, 2L)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 4L) || pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("cross-corpus minhash pairs find contamination, never within-side pairs") {
    // "benchmark" holds doc 1; corpus holds its exact dup (2), near-dup
    // (4), and unrelated docs — decontamination must surface 2 and 4
    val benchmark = corpus.where($"doc_id" === 1L)
    val train = corpus.where($"doc_id" =!= 1L)
    val pairs = graft.dedup.PortableDedup
      .crossMinhashPairs(benchmark, train, "text", "doc_id",
        numHashes = 32, bands = 16, threshold = 0.4)
      .as[(Long, Long, Double)]
      .collect()
    assert(pairs.forall(_._1 == 1L)) // left side is only ever the benchmark
    val flagged = pairs.map(_._2).toSet
    assert(flagged.contains(2L) && flagged.contains(4L), s"flagged $flagged")
    assert(!flagged.contains(5L)) // unrelated doc is not contaminated
  }

  test("XXH64 cross-corpus pairs agree with the portable family on planted contamination") {
    val benchmark = corpus.where($"doc_id" === 1L)
    val train = corpus.where($"doc_id" =!= 1L)
    val fast = Dedup
      .crossMinhashPairs(benchmark, train, "text", "doc_id",
        numHashes = 32, bands = 16, threshold = 0.4)
      .select("id_l", "id_r").as[(Long, Long)].collect().toSet
    assert(fast.forall(_._1 == 1L))
    assert(fast.map(_._2).contains(2L) && fast.map(_._2).contains(4L))
    assert(!fast.map(_._2).contains(5L))
  }

  test("portable simhash pairs exact dups at Hamming 0") {
    val pairs = graft.dedup.PortableDedup
      .simhashPairs(corpus, "text", "doc_id", maxHamming = 3)
      .as[(Long, Long, Int)]
      .collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    assert(pairs.forall(p => p._3 <= 3))
  }

  test("duplicate spans: shared windows across docs are found, within-doc repeats are not double-counted as docs") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zzz alpha beta gamma delta qqq"),   // shares the 4-gram "alpha beta gamma delta" with 1
      (3L, "one two three one two three one two"), // repeats spans only WITHIN itself
      (4L, "tiny doc")                          // shorter than one span
    ).toDF("doc_id", "text")
    val dup = Dedup
      .duplicateSpans(docs, "text", "doc_id", spanWords = 4, minDocs = 2)
      .collect()
    // exactly one cross-doc span: "alpha beta gamma delta" (docs 1, 2)
    assert(dup.length == 1)
    assert(dup.head.getAs[Long]("n_docs") == 2L)
    assert(dup.head.getAs[Long]("n_occurrences") == 2L)
  }

  test("xxh64 span family groups identically to the portable md5 family") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "zzz alpha beta gamma delta qqq"),
      (3L, "one alpha beta gamma delta eight"),
      (4L, "unrelated words only here nothing shared")
    ).toDF("doc_id", "text")
    def counts(df: org.apache.spark.sql.DataFrame) = df
      .select("n_docs", "n_occurrences")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sorted
      .toSeq
    val slow = counts(Dedup.duplicateSpans(docs, "text", "doc_id", 4, 2))
    val fast = counts(Dedup.duplicateSpansFast(docs, "text", "doc_id", 4, 2))
    assert(slow.nonEmpty && slow == fast)
  }

  test("cross-span overlap finds planted contamination with exact containment, never within-side pairs") {
    val bench = Seq(
      (100L, "the exact eval answer phrase appears here verbatim"),
      (101L, "totally clean benchmark question nothing shared at all")
    ).toDF("doc_id", "text")
    val corpusDocs = Seq(
      (1L, "prefix words the exact eval answer phrase appears here verbatim suffix"),
      (2L, "the exact eval answer phrase appears here verbatim"),
      (3L, "unrelated training document with its own words entirely")
    ).toDF("doc_id", "text")
    val got = Dedup
      .crossSpanOverlap(bench, corpusDocs, "text", "doc_id", spanWords = 4, minShared = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    // bench 100 has 5 distinct 4-word spans, all contained in docs 1 and 2
    assert(got.keySet == Set((100L, 1L), (100L, 2L)))
    assert(got((100L, 2L)) == ((5L, 1.0)))
    assert(got((100L, 1L)) == ((5L, 1.0)))
  }

  test("boilerplate stripping removes every occurrence of hot segments, keeps the rest in order") {
    // segment width 2; "cookie banner" appears in 3 of 4 docs (75%)
    val docs = Seq(
      (1L, "cookie banner real content one"),
      (2L, "cookie banner real content two"),
      (3L, "other words cookie banner"),
      (4L, "cookie banner") // fully boilerplate -> empty rebuild
    ).toDF("doc_id", "text")
    // 0.6 threshold: "cookie banner" (4/4 docs) is hot; "real content"
    // (2/4 = 0.5) survives
    val got = Dedup
      .stripBoilerplate(docs, "text", "doc_id", segmentTokens = 2, minDocFrac = 0.6)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    def md5Of(s: String) =
      java.security.MessageDigest
        .getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_))
        .mkString
    // docs 1-2: segments (cookie banner | real content | one/two) keep
    // their unique tails; doc 3's "cookie banner" sits at position 1
    // and is stripped there too; doc 4 rebuilds to the empty string
    assert(got(1L) == ((3L, 2L, md5Of("real content one"))))
    assert(got(2L) == ((3L, 2L, md5Of("real content two"))))
    assert(got(3L) == ((2L, 1L, md5Of("other words"))))
    assert(got(4L) == ((1L, 0L, md5Of(""))))
  }

  test("jaccard threshold join equals brute force on random corpora (prefix filter lossless)") {
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 40).map(i => s"w$i")
    for (trial <- 0 until 3) {
      val thr = Seq(0.5, 0.7, 0.9)(trial)
      val docs = (0 until 60).map { i =>
        val n = 3 + rnd.nextInt(10)
        (i.toLong, rnd.shuffle(vocab).take(n).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val got = Dedup
        .jaccardThresholdJoin(df, "text", "doc_id", thr)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val sets = docs.map { case (id, t) => id -> t.split(" ").toSet }.toMap
      val brute = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
        inter = (sets(a) & sets(b)).size
        uni = (sets(a) | sets(b)).size
        if uni > 0 && inter.toDouble / uni >= thr
      } yield (a, b) -> inter.toLong).toMap
      assert(got == brute, s"trial $trial thr $thr")
    }
    // whitespace artifacts are not tokens: 'a  b' vs 'a b' is an exact
    // duplicate (pre-fix the phantom "" token scored it 2/3 and two
    // whitespace-only docs scored 1.0 against each other)
    val padded = Seq(
      (1L, "a  b"),
      (2L, "a b"),
      (3L, "   "),
      (4L, " ")
    ).toDF("doc_id", "text")
    val pairs = Dedup
      .jaccardThresholdJoin(padded, "text", "doc_id", 0.9)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)),
      s"expected only the (1,2) exact pair, got ${pairs.toSeq}")
  }

  test("containment join finds subsets Jaccard misses and equals brute force") {
    // a 4-token quote inside a 12-token article: containment 1.0,
    // Jaccard 1/3 — the asymmetric join must surface it
    val ref = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu")
    ).toDF("doc_id", "text")
    val probe = Seq(
      (1L, "gamma delta epsilon zeta"), // fully contained quote
      (2L, "gamma delta nu xi"), // 0.5 contained
      (3L, "") // zero tokens -> emits nothing
    ).toDF("doc_id", "text")
    val got = Dedup
      .containmentJoin(probe, ref, "text", "doc_id", 0.9)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 100L, 4L, 1.0)))
    // prefix filter lossless vs brute force on random corpora
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 30).map(i => s"w$i")
    val docs = (0 until 50).map { i =>
      (i.toLong, rnd.shuffle(vocab).take(2 + rnd.nextInt(10)).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val refSlice = df.where($"doc_id" % 5 === 0)
    val thr = 0.6
    val gotR = Dedup
      .containmentJoin(df, refSlice, "text", "doc_id", thr)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val sets = docs.map { case (id, t) => id -> t.split(" ").toSet }.toMap
    val brute = (for {
      a <- docs.map(_._1); b <- docs.map(_._1)
      if b % 5 == 0 && a != b
      inter = (sets(a) & sets(b)).size
      if sets(a).nonEmpty && inter.toDouble / sets(a).size >= thr
    } yield (a, b) -> inter.toLong).toMap
    assert(gotR == brute)
    // self-pair guard OFF keeps identical-id cross-corpus hits
    val self = Dedup
      .containmentJoin(refSlice, refSlice, "text", "doc_id", 0.9,
        excludeSelfPairs = false)
      .where($"id_a" === $"id_b")
    assert(self.count() == refSlice.count())
  }

  test("contamination score: fraction of doc spans found in the bench set, zero-span docs score 0") {
    val bench = Seq(
      (100L, "the exact eval answer phrase appears here verbatim")
    ).toDF("doc_id", "text")
    val corpusDocs = Seq(
      // fully contained -> all its spans are bench spans
      (1L, "the exact eval answer phrase appears here verbatim"),
      // 10 tokens -> 7 distinct spans, the 5 bench spans among them
      (2L, "prefix words the exact eval answer phrase appears here verbatim"),
      // no overlap
      (3L, "unrelated training document with its own words entirely"),
      // shorter than one span -> 0 spans, score 0.0
      (4L, "too short")
    ).toDF("doc_id", "text")
    val got = Dedup
      .contaminationScore(bench, corpusDocs, "text", "doc_id", spanWords = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) == ((5L, 5L, 1.0)))
    assert(got(2L) == ((7L, 5L, math.rint(5.0 / 7.0 * 1e6) / 1e6)))
    assert(got(3L)._2 == 0L && got(3L)._3 == 0.0)
    assert(got(4L) == ((0L, 0L, 0.0)))
  }

  test("bloom-prefiltered cross-span overlap is bit-identical to the plain join") {
    val bench = Seq(
      (100L, "the exact eval answer phrase appears here verbatim")
    ).toDF("doc_id", "text")
    val corpusDocs = (1 to 200)
      .map(i => (i.toLong, s"unrelated training document number $i with its own words entirely"))
      .toDF("doc_id", "text")
      .union(Seq((500L, "prefix words the exact eval answer phrase appears here verbatim suffix"))
        .toDF("doc_id", "text"))
    def run(bloomBits: Long) = Dedup
      .crossSpanOverlap(bench, corpusDocs, "text", "doc_id",
        spanWords = 4, minShared = 1, benchBloomBits = bloomBits)
      .orderBy("id_l", "id_r")
      .collect()
      .toSeq
    val plain = run(0L)
    val bloomed = run(1L << 20)
    assert(plain.nonEmpty && bloomed === plain)
  }

  test("dup-span stats: fraction math, zero-span docs report 0.0") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"), // 2 spans, 1 duplicated
      (2L, "zzz alpha beta gamma delta qqq"), // 3 spans, 1 duplicated
      (3L, "tiny")                            // 0 spans
    ).toDF("doc_id", "text")
    val stats = Dedup
      .dupSpanStats(docs, "text", "doc_id", spanWords = 4, minDocs = 2)
      .collect()
      .map(r =>
        r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_dup_spans"), r.getAs[Double]("dup_fraction")))
      )
      .toMap
    assert(stats(1L) == ((2L, 1L, 0.5)))
    assert(stats(2L) == ((3L, 1L, 0.333333)))
    assert(stats(3L) == ((0L, 0L, 0.0)))
  }

  test("dup-span stats: recompute and checkpoint modes are row-identical") {
    // the input picks the mode: a single-partition input is spread and
    // recomputes the span stream, an already-parallel one checkpoints
    // it; both must produce the exact same table (integer counts over
    // deterministic md5 spans)
    val docs = (0 until 60)
      .map(i => (i.toLong, if (i % 3 == 0) "a b c d e f g h i dup" else s"doc $i " * 5))
      .toDF("doc_id", "text")
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition}
    import org.apache.spark.sql.execution.LogicalRDD
    def checkpoints(p: LogicalPlan) = p.collect { case r: LogicalRDD => r }.size
    def roundRobins(p: LogicalPlan) = p.collect { case r: Repartition if r.shuffle => r }.size
    val serial = Dedup.dupSpanStats(docs.coalesce(1), "text", "doc_id", spanWords = 4)
    val parallel = Dedup.dupSpanStats(docs.repartition(8), "text", "doc_id", spanWords = 4)
    // pin the path each input took: spread's exchange under both span
    // consumers and no checkpoint, vs a checkpointed span stream and
    // no exchange beyond the input's own
    assert(checkpoints(serial.queryExecution.logical) == 0)
    assert(roundRobins(serial.queryExecution.logical) == 2)
    assert(checkpoints(parallel.queryExecution.logical) > 0)
    assert(roundRobins(parallel.queryExecution.logical) == 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val recomputed = rows(serial)
    assert(recomputed.size == 60)
    assert(recomputed === rows(parallel))
  }

  test("source overlap matrix counts shared spans and induced doc pairs") {
    // span = 4 words; "a b c d" lives in src1 (docs 1,2) and src2
    // (doc 3) -> pair (src1,src2): 1 shared span, 2*1 doc pairs.
    // src3 shares nothing; same-source duplication alone emits no row.
    val docs = Seq(
      (1L, "a b c d x", "src1"),
      (2L, "y a b c d", "src1"),
      (3L, "a b c d", "src2"),
      (4L, "q r s t u", "src3")
    ).toDF("doc_id", "text", "source")
    val got = Dedup
      .sourceOverlapSpans(docs, "text", "doc_id", "source", spanWords = 4)
      .as[(String, String, Long, Long)]
      .collect()
      .toSeq
    assert(got == Seq(("src1", "src2", 1L, 2L)))
  }

  test("source overlap: a span in three sources fills all three matrix cells") {
    val docs = Seq(
      (1L, "a b c", "s1"),
      (2L, "a b c", "s2"),
      (3L, "a b c", "s3")
    ).toDF("doc_id", "text", "source")
    val got = Dedup
      .sourceOverlapSpans(docs, "text", "doc_id", "source", spanWords = 3)
      .as[(String, String, Long, Long)]
      .collect()
      .toSet
    assert(
      got == Set(("s1", "s2", 1L, 1L), ("s1", "s3", 1L, 1L), ("s2", "s3", 1L, 1L))
    )
  }

  test("signatures are deterministic across evaluations") {
    val s1 = Dedup
      .minhashLshPairs(corpus, "text", "doc_id", threshold = 0.3)
      .orderBy("id_a", "id_b")
      .collect()
      .toSeq
    val s2 = Dedup
      .minhashLshPairs(corpus, "text", "doc_id", threshold = 0.3)
      .orderBy("id_a", "id_b")
      .collect()
      .toSeq
    assert(s1 == s2)
  }
}
