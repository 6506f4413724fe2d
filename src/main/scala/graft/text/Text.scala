package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines
  * (SURVEY §2.6). All pure `Column` expressions — codegen-friendly, no
  * UDFs, so they run at full scan speed over 100 TB of documents.
  */
object Text {

  /** Tiny fixed stopword lists per language — enough for a
    * deterministic n-gram/stopword-hit language heuristic (a real
    * deployment would swap in larger lists; the *operator shape* —
    * argmax over per-language token-hit counts — is what scales).
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "for",
      "on", "with", "as", "at", "by", "from"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "zu", "mit", "den",
      "auf", "für", "ein", "eine", "nicht", "im"),
    "fr" -> Seq("le", "la", "les", "de", "et", "est", "un", "une", "dans",
      "pour", "que", "qui", "sur", "pas", "au"),
    "es" -> Seq("el", "la", "los", "de", "y", "es", "un", "una", "en", "por",
      "que", "no", "con", "para", "su")
  )

  /** Whitespace tokens (single-space convention of the corpus). */
  def tokens(c: Column): Column = split(c, " ")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count: alpha runs, digit runs, and individual
    * punctuation each count as one token.
    */
  def bpeTokenCount(c: Column): Column =
    regexp_count(c, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))

  /** Split a document into consecutive non-overlapping segments of
    * `w` tokens each (last segment may be shorter), as an array of
    * segment strings — the segmentation unit for corpus-level segment
    * dedup ([[graft.dedup.Dedup.segmentDedupSweep]]). Production
    * corpora with real line structure should segment on newlines
    * instead ([[lineSegments]]); this corpus is single-line, so a
    * fixed token window is the deterministic stand-in. Pure `Column`
    * expression (sequence + transform + slice), codegen'd.
    */
  def tokenSegments(c: Column, w: Int): Column = {
    require(w >= 1, s"segment width must be >= 1, got $w")
    val t = tokens(c)
    transform(
      sequence(lit(1), ceil(size(t) / lit(w.toDouble)).cast("int")),
      i => array_join(slice(t, (i - lit(1)) * w + lit(1), lit(w)), " ")
    )
  }

  /** Newline segmentation — the C4-style unit for corpora with real
    * line structure.
    */
  def lineSegments(c: Column): Column = split(c, "\n")

  /** Canonical form for exact-dedup and fingerprinting: lowercase,
    * strip non-alphanumerics, collapse whitespace.
    */
  def normalize(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Unicode normalization (UAX #15) via the codegen'd
    * [[graft.functions.unicodeExpressions.UnicodeNormalize]] kernel —
    * run BEFORE any hash-keyed operator so precomposed and decomposed
    * spellings of the same text land on the same dedup/fingerprint/
    * shingle key. NFC for byte canonicalization; NFKC additionally
    * folds compatibility variants (ﬁ→fi, ５→5).
    */
  def unicodeNormalize(c: Column, form: String = "NFC"): Column =
    graft.functions.unicodeExpressions.unicodeNormalize(c, form)

  /** Accent folding (NFD → drop combining marks → NFC): résumé ==
    * resume for match keys. Lossy by design — a join/search key
    * transform, not a storage one.
    */
  def stripAccents(c: Column): Column =
    graft.functions.unicodeExpressions.stripAccents(c)

  /** Tracking params dropped by [[canonicalizeUrl]] — the
    * click-provenance junk (utm_*, fbclid, gclid, ref) that makes one
    * page look like thousands of distinct URLs to an exact-key dedup.
    */
  val trackingParamPattern: String = "^(utm_[^=&]*|fbclid|gclid|ref)(=.*)?$"

  /** URL canonicalization — the key-folding step BEFORE URL-level
    * dedup / frontier accounting: lowercases scheme+host, drops the
    * fragment, drops default ports (http:80 / https:443), collapses a
    * trailing-slash-only path difference, removes tracking params
    * ([[trackingParamPattern]]) and SORTS the survivors so param order
    * stops mattering. Pure codegen'd builtins (regexp + array HOFs),
    * zero shuffle — canonicalization rides the first scan, and every
    * downstream md5/groupBy sees one key per page. Non-URLs (no
    * `scheme://`) yield NULL — flagged, never guessed. Lossy by
    * design: a dedup/join KEY transform, not a storage rewrite.
    */
  def canonicalizeUrl(c: Column): Column = {
    val noFrag = regexp_replace(c, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    val host = lower(regexp_replace(hostPort, ":[0-9]+$", ""))
    // ports compare (and render) NUMERICALLY: ':080' is ':80' — a
    // string compare would keep the default port and split one page
    // into two dedup keys
    val portStr = regexp_extract(hostPort, ":([0-9]+)$", 1)
    val port = when(portStr =!= "", portStr.cast("int").cast("string"))
      .otherwise(lit(""))
    val keepPort = port =!= "" &&
      !(scheme === "http" && port === "80") &&
      !(scheme === "https" && port === "443")
    val rawPath = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val trimmedPath = regexp_replace(rawPath, "/+$", "")
    val path = when(trimmedPath === "", lit("/")).otherwise(trimmedPath)
    val query = regexp_extract(noFrag, "\\?([^#]*)", 1)
    val kept = filter(
      split(query, "&"),
      p => p =!= "" && !p.rlike(trackingParamPattern)
    )
    val sortedQuery = array_join(array_sort(kept), "&")
    when(
      scheme === "" || host === "",
      lit(null).cast("string")
    ).otherwise(
      concat(
        scheme,
        lit("://"),
        host,
        when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
        path,
        when(sortedQuery =!= "", concat(lit("?"), sortedQuery)).otherwise(lit(""))
      )
    )
  }

  /** Deterministic document fingerprint (md5 of normalized text). */
  def fingerprint(c: Column): Column = md5(normalize(c))

  /** Count of tokens present in `words` — CASE-INSENSITIVE (each token
    * is lowercased before the membership test; the word lists are
    * lowercase by convention), so "The" hits the English list on raw
    * crawl text, not only after [[normalize]].
    */
  def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => lower(t).isin(words: _*)))

  def stopwordRatio(c: Column, words: Seq[String] = stopwords("en")): Column =
    hitCount(tokens(c), words) / tokenCount(c)

  /** Ratio of non-alphanumeric, non-space characters. Case handled by
    * an EXPLICIT [a-zA-Z0-9 ] class on the RAW string: capitalized
    * prose ("The cat…") does not count letters as symbols, the
    * numerator is measured over exactly the same characters as the
    * `length(c)` denominator (no lowercasing, so Unicode case
    * expansions like U+0130 can never inflate the ratio past 1), and —
    * unlike an inline `(?i)` — the class means the SAME thing in
    * Java's regex engine and the DuckDB oracle's RE2 (RE2's `(?i)`
    * does Unicode simple folding, so U+212A KELVIN SIGN would strip
    * there but not here; the explicit class is fold-free on both).
    */
  def punctRatio(c: Column): Column =
    length(regexp_replace(c, "[a-zA-Z0-9 ]", "")) / length(c)

  def meanWordLen(c: Column): Column =
    length(regexp_replace(c, " ", "")) / tokenCount(c)

  /** Heuristic quality score in [0,1]: favors stopword-bearing prose of
    * moderate length with few symbols — the classic cheap pre-filter
    * before expensive model-based scoring.
    *
    * PERFORMANCE: callers that control the plan should tokenize in a
    * separate projection and use [[qualityScoreFromTokens]] — the
    * stopword hitCount is a filter lambda over the tokens, and handing
    * it the inline split() re-tokenizes per element when the HOF
    * evaluates interpreted (the [[wordShingles]] pathology; same
    * reason [[gopherReasonFromTokens]] exists).
    */
  def qualityScore(c: Column): Column =
    qualityScoreFromTokens(c, tokens(c))

  /** [[qualityScore]] over a pre-projected token-array ATTRIBUTE. */
  def qualityScoreFromTokens(c: Column, toks: Column): Column = {
    val n = size(toks)
    val lenTerm = least(n.cast("double") / 100.0, lit(1.0))
    val wordTerm =
      least(length(regexp_replace(c, " ", "")) / n / 8.0, lit(1.0))
    lit(0.3) * (hitCount(toks, stopwords("en")) / n) +
      lit(0.2) * (lit(1.0) - punctRatio(c)) +
      lit(0.3) * lenTerm + lit(0.2) * wordTerm
  }

  /** Gopher-style rule filter (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * Appendix A1.1, adapted to the signals available here): a document
    * is kept only when word count, mean word length, symbol ratio and
    * stopword presence all sit in prose-like ranges. Returns the FIRST
    * failing rule name in a fixed evaluation order, or "ok" — keep ==
    * (reason = "ok"). Pure Column arithmetic (each ratio is a single
    * division, bit-identical across engines), no UDF, so the whole
    * filter rides one codegen'd projection at scan time — the shape
    * that lets 100 TB be rule-filtered in the same pass that reads it.
    */
  def gopherReason(
      c: Column,
      minWords: Int = 40,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minStopwordHits: Int = 2
  ): Column = gopherReasonFromTokens(
    c,
    tokens(c),
    minWords,
    maxWords,
    minMeanWordLen,
    maxMeanWordLen,
    maxSymbolRatio,
    minStopwordHits
  )

  /** [[gopherReason]] over a pre-projected token-array ATTRIBUTE.
    * `hitCount` is a lambda over the tokens; handing it the inline
    * `split()` expression re-tokenizes per element when the filter
    * evaluates interpreted (see [[wordShingles]]) — callers that
    * control the plan should tokenize in a separate projection and
    * pass the attribute here.
    */
  def gopherReasonFromTokens(
      c: Column,
      toks: Column,
      minWords: Int = 40,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minStopwordHits: Int = 2
  ): Column = {
    val nWords = size(toks)
    val mwl = length(regexp_replace(c, " ", "")) / nWords
    when(nWords < minWords, lit("too_short"))
      .when(nWords > maxWords, lit("too_long"))
      .when(mwl < minMeanWordLen || mwl > maxMeanWordLen, lit("word_len"))
      .when(punctRatio(c) > maxSymbolRatio, lit("symbol_ratio"))
      .when(
        hitCount(toks, stopwords("en")) < minStopwordHits,
        lit("few_stopwords")
      )
      .otherwise(lit("ok"))
  }

  /** Predicted language: argmax of per-language stopword hits, with a
    * fixed preference order (en > de > fr > es) on ties and "und" (
    * undetermined) when no list hits at all.
    */
  def langId(c: Column): Column = langIdFromTokens(tokens(c))

  /** The default language roster: preference-ordered (earlier wins
    * ties) with the built-in mini stopword lists. Swap in larger
    * lists or more languages via [[langIdFromTokens]]'s `lists`
    * parameter — the operator shape (argmax of per-language hit
    * counts, one scan) is independent of the roster.
    */
  def defaultLangLists: Seq[(String, Seq[String])] =
    Seq("en", "de", "fr", "es").map(l => l -> stopwords(l))

  /** [[langId]] over a pre-projected token-array attribute (same
    * interpreted-lambda rationale as [[gopherReasonFromTokens]]).
    */
  def langIdFromTokens(
      toks: Column,
      lists: Seq[(String, Seq[String])] = defaultLangLists
  ): Column = {
    require(lists.nonEmpty, "langId needs at least one language list")
    val counts = lists.map { case (l, words) => l -> hitCount(toks, words) }
    // when-chain in language order => earlier language wins ties
    val maxCount = counts.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = counts.foldRight(lit("und")) { case ((l, cc), acc) =>
      when(cc === maxCount && maxCount > 0, lit(l)).otherwise(acc)
    }
    pick
  }

  /** Word n-gram shingles (empty array when too few tokens).
    *
    * PERFORMANCE: pass an already-projected token-array ATTRIBUTE via
    * [[wordShinglesFromTokens]] whenever the caller controls the plan.
    * Higher-order functions evaluate interpreted, re-running every
    * Column subtree per element — handing this function a raw split()
    * re-tokenizes the document once per shingle position (O(tokens²)
    * splits). Tokenize in a separate projection first; CollapseProject
    * keeps the stages apart because inlining would duplicate a
    * non-trivial expression.
    */
  def wordShingles(c: Column, n: Int): Column =
    wordShinglesFromTokens(tokens(c), n)

  /** Corpus-wide most frequent word n-grams — the vocabulary-induction
    * / boilerplate-discovery signal ("which 5-grams dominate this
    * crawl"). Shape: scan-side shingle explode, map-side-combined
    * count per n-gram (the vocabulary-sized intermediate is the
    * operator's inherent state, same as tf-idf's df), then a global
    * row_number top-k that Catalyst rewrites to TakeOrderedAndProject
    * (per-partition bounded heap of k, single merge — verified in the
    * executed plan) — no vocabulary-sized sort ships anywhere. Ties
    * break by n-gram text for engine-exact determinism.
    */
  def topNgrams(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      n: Int,
      k: Int
  ): org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(k >= 1, s"k must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("count").desc, col("ngram"))
    df.select(tokens(col(textCol)).as("_toks"))
      .select(explode(wordShinglesFromTokens(col("_toks"), n)).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("count"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** [[wordShingles]] over a pre-tokenized array column. */
  def wordShinglesFromTokens(toks: Column, n: Int): Column =
    when(
      size(toks) >= n,
      transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))
      )
    ).otherwise(array().cast("array<string>"))

  /** One 64-bit hash per whitespace token, computed directly over the
    * UTF-8 bytes by a custom Catalyst expression — the single pass that
    * touches strings. Downstream shingle/minhash/simhash work is
    * long→long mixing only.
    */
  def tokenHashes(c: Column): Column = graft.functions.hashExpressions.tokenHashes(c)

  /** 64-bit word-n-gram shingle hashes from a token-hash array: each
    * shingle hash chains `n` consecutive token hashes (hash-of-hashes —
    * any deterministic combiner works for MinHash / fingerprinting);
    * empty array when too few tokens. Custom expression: one tight loop
    * per row.
    */
  def shingleHashesFromTokenHashes(th: Column, n: Int): Column =
    graft.functions.hashExpressions.shingleHashes(th, n)

  /** Jaccard similarity of two string arrays (as distinct sets). */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a)
    val db = array_distinct(b)
    size(array_intersect(da, db)).cast("double") /
      size(array_union(da, db))
  }

  /** Default redaction patterns for training-corpus PII scrubbing.
    * Order matters: specific shapes (email, phone, ip) are replaced
    * before the generic digit-run fallback. Patterns stick to portable
    * regex (character classes + bounded repetition — identical
    * semantics in Java regex and RE2-style engines).
    */
  val redactionPatterns: Seq[(String, String)] = Seq(
    "email" -> "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}",
    // token name must stay digit-free — the generic number fallback
    // runs later and would rewrite digits inside the tag itself
    "ip" -> "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}",
    "phone" -> "\\+?[0-9][0-9()\\- ]{6,}[0-9]",
    "number" -> "[0-9]+"
  )

  /** Matches of `pattern` in the column (for redaction accounting). */
  def redactionCount(c: Column, pattern: String): Column =
    regexp_count(c, lit(pattern))

  /** Replace every match of each (name, pattern) with `[NAME]`, in
    * order. Pure scan-side `regexp_replace` chain — codegen'd, no
    * shuffle, so scrubbing rides the first read of the corpus.
    */
  def redact(c: Column, patterns: Seq[(String, String)] = redactionPatterns): Column =
    patterns.foldLeft(c) { case (acc, (name, pat)) =>
      regexp_replace(acc, pat, s"[${name.toUpperCase}]")
    }

  /** Per-document repetition signals — the classic cheap quality
    * filters for web-scale training corpora (fraction of repeated
    * content; heavily templated/spammy documents score high):
    *
    *   - `distinct_token_ratio` — distinct / total tokens (low = repetitive)
    *   - `top_token_frac`       — occurrences of the most frequent token / total
    *   - `dup_bigram_frac`      — fraction of bigram occurrences whose
    *                              bigram appears more than once
    *   - `dup_trigram_char_frac`— characters covered by all occurrences
    *                              of repeated trigrams / document chars
    *                              (overlaps counted, so it can exceed 1)
    *
    * Shape: ONE corpus scan. All three gram sizes are generated as a
    * single array of `(n, xxhash64(gram), len(gram))` structs inside
    * the scan projection and exploded once — the gram STRINGS never
    * leave the scan stage; the shuffle carries 8-byte hashes. One
    * `groupBy(id, n, hash)` count (map-side combinable) → one per-doc
    * conditional aggregation. Two compact shuffles total, no
    * join-back scan: `n_chars` rides the gram rows as an int.
    *
    * Grouping on `xxhash64(gram)` instead of the gram string merges
    * two DIFFERENT grams of one document only on a 64-bit collision
    * (~n_grams^2 / 2^64 per doc — vanishing for any real document).
    */
  def repetitionSignals(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String
  ): org.apache.spark.sql.DataFrame = {
    // tokenize ONCE in its own projection: higher-order functions run
    // interpreted, where every Column reference re-evaluates its whole
    // subtree — referencing the split() inside the per-element lambdas
    // would re-split the document O(tokens) times. An attribute read is
    // cheap, and CollapseProject keeps the stages separate precisely
    // because inlining would duplicate a non-trivial expression.
    // spread: serial-scan guard for the tokenize + 3-gram transform +
    // per-gram xxhash kernel (no-op on parallel inputs)
    val toksDf = graft.functions
      .spread(df)
      .select(
        col(idCol).as("id"),
        length(col(textCol)).as("_nc"),
        tokens(col(textCol)).as("_toks")
      )
    val toks = col("_toks")
    def gramStrs(n: Int): Column =
      if (n == 1) toks else wordShinglesFromTokens(toks, n)
    // second transform binds the gram to a lambda VARIABLE, so hash and
    // length each read an already-computed value instead of rebuilding
    // the shingle string per struct field
    def gramStructs(n: Int): Column =
      transform(
        gramStrs(n),
        g => struct(lit(n).as("n"), xxhash64(g).as("h"), length(g).as("len"))
      )
    val grams = toksDf.select(
      col("id"),
      col("_nc"),
      explode(concat(gramStructs(1), gramStructs(2), gramStructs(3))).as("_g")
    )
    val counts = grams
      .groupBy(col("id"), col("_g.n").as("_n"), col("_g.h").as("_h"))
      .agg(count(lit(1)).as("_cnt"), max(col("_g.len")).as("_len"), max(col("_nc")).as("_ncg"))
    counts
      .groupBy("id")
      .agg(
        sum(when(col("_n") === 1, col("_cnt"))).as("n_tokens"),
        count(when(col("_n") === 1, lit(1))).as("_n_distinct"),
        max(when(col("_n") === 1, col("_cnt"))).as("_top_cnt"),
        sum(when(col("_n") === 2, col("_cnt"))).as("_n_bi"),
        sum(when(col("_n") === 2 && col("_cnt") > 1, col("_cnt"))).as("_dup_bi"),
        sum(when(col("_n") === 3 && col("_cnt") > 1, col("_cnt") * col("_len")))
          .as("_dup_tri_chars"),
        max(col("_ncg")).as("n_chars")
      )
      .select(
        col("id"),
        col("n_tokens"),
        graft.functions.round6(col("_n_distinct").cast("double") / col("n_tokens"))
          .as("distinct_token_ratio"),
        graft.functions.round6(col("_top_cnt").cast("double") / col("n_tokens"))
          .as("top_token_frac"),
        when(col("_n_bi").isNull, lit(0.0))
          .otherwise(
            graft.functions
              .round6(coalesce(col("_dup_bi"), lit(0L)).cast("double") / col("_n_bi"))
          )
          .as("dup_bigram_frac"),
        graft.functions
          .round6(coalesce(col("_dup_tri_chars"), lit(0L)).cast("double") / col("n_chars"))
          .as("dup_trigram_char_frac")
      )
  }

  /** Top-k salient terms per document by TF-IDF:
    * `(id, term, score, rank)`.
    *
    * Terms are normalized tokens; score = tf * (N - df + 0.5) /
    * (df + 0.5) — the BM25 idf ratio WITHOUT the log. Rationale: ln()
    * may differ between engines in the last ulp (libm-dependent),
    * which breaks hash-exact oracle comparison; the rational form is
    * pure arithmetic (bit-identical everywhere) and a strictly
    * monotone transform of the classic idf in df, so per-term
    * down-weighting of common terms is preserved.
    *
    * Shape: explode tokens → per-doc tf groupBy, MATERIALIZED once →
    * corpus df as a second partial-aggregated groupBy over the tf
    * table, equi-joined back on term → broadcast the 1-row corpus
    * count → one windowed top-k per doc (partitioned on `id`, which is
    * high-cardinality and k-bounded, so it never concentrates).
    *
    * Why df is a groupBy+join and NOT a count-over-`term` window: a
    * window partitioned on raw `term` pins EVERY (doc, term) row of a
    * stopword-class term into one partition — at 100 TB that single
    * partition is a straggler no config can split. The groupBy form
    * map-side-combines the hot term down to one row per partition
    * before the shuffle, and the join back is an equi-join whose build
    * side carries exactly ONE row per term — AQE skew-join can split
    * the probe side freely. The tf table is LAZILY cached so the
    * token-explode subtree computes once, not once per consumer —
    * persist() (not an eager checkpoint) keeps plan construction free
    * of jobs (EXPLAIN stays an explain) and the full subtree visible
    * to plan audits.
    *
    * CACHE LIFETIME IS CALLER-OWNED: the returned plan references the
    * cached tf table, so this function cannot unpersist it (the blocks
    * materialize only when the CALLER runs an action). After consuming
    * the result, drop the blocks with `spark.catalog.clearCache()` —
    * or rely on the ContextCleaner, which frees them when the plan is
    * garbage-collected. Repeated invocations in a long-lived session
    * accumulate storage until one of those happens.
    */
  def tfIdfTopK(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      k: Int
  ): org.apache.spark.sql.DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val toks = df
      .select(
        col(idCol).as("id"),
        explode(split(normalize(col(textCol)), " ")).as("term")
      )
      .where(col("term") =!= "")
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf")).persist()
    val dfTab = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // 1-row broadcast cross join is the distributed way to attach a
    // corpus-level scalar (it plans as a BNL over a single build row —
    // O(rows), not all-pairs)
    val n = df.agg(count(lit(1)).as("_n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id")
      .orderBy(col("score").desc, col("term"))
    tf.join(dfTab, "term")
      .crossJoin(broadcast(n))
      .withColumn(
        "score",
        graft.functions.round6(
          (col("tf") * ((col("_n") - col("df")) + 0.5)) / (col("df") + 0.5)
        )
      )
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("id"), col("term"), col("score"), col("rank"))
  }

  /** Unigram language-model quality score, the CCNet-style LM filter
    * (Wenzek et al., "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data", LREC 2020 — there a KenLM 5-gram;
    * here the unigram self-corpus variant, which needs no external
    * model): every document scored by the mean log-probability of its
    * tokens under the corpus's own unigram distribution,
    *
    *   avg_logprob = sum_t tf(t) * ln(count(t) / total) / n_terms.
    *
    * Gibberish, character noise, and off-domain boilerplate are built
    * from rare tokens and score far below prose; feed the score to
    * [[graft.pipelines.Corpus.qualityCut]] (keep the top fraction) or
    * an `extraStages` threshold. Every scored token exists in the
    * corpus, so counts are >= 1 and no smoothing term is needed.
    *
    * Scale shape, same as [[tfIdfTopK]]: one explode into (doc, term)
    * counts (map-side combined), a vocabulary-sized term-count table
    * joined back on the DISTINCT doc-term pairs (not the raw token
    * stream — the stopword-class hot terms stay off the join), and a
    * 1-row broadcast for the corpus total. Output: (id, n_terms,
    * avg_logprob round6).
    */
  def unigramLogProb(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String
  ): org.apache.spark.sql.DataFrame = {
    val toks = df
      .select(
        col(idCol).as("id"),
        explode(split(normalize(col(textCol)), " ")).as("term")
      )
      .where(col("term") =!= "")
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val termCounts = tf.groupBy("term").agg(sum(col("tf")).as("cnt"))
    val total = termCounts.agg(sum(col("cnt")).as("_total"))
    val agg = tf
      .join(termCounts, "term")
      .crossJoin(broadcast(total))
      .groupBy("id")
      .agg(
        sum(col("tf")).as("n_terms"),
        graft.functions.round6(
          sum(col("tf") * (log(col("cnt")) - log(col("_total")))) /
            sum(col("tf"))
        ).as("avg_logprob")
      )
    // EVERY document comes back (the bigramLogProb convention): a doc
    // that normalizes to zero tokens has no tf rows, and without the
    // join-back it would VANISH from the output instead of reaching
    // the caller's quality threshold as (0, NULL)
    df.select(col(idCol).as("id"))
      .join(agg, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("n_terms"), lit(0L)).as("n_terms"),
        col("avg_logprob")
      )
  }

  /** Normalized non-empty token array plus the exploded in-order
    * bigram pair stream `(id, w1, w2)` — the shared front half of
    * [[bigramLogProb]] and [[dsirLogWeights]]. Pairs are built by
    * zipping the token array against itself shifted by one (`slice` +
    * `zip_with`, both codegen'd builtins) — zero windows, zero
    * shuffles, the pair stream rides the document scan.
    */
  private def bigramPairs(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      extraCols: Seq[(String, Column)] = Nil
  ): org.apache.spark.sql.DataFrame =
    pairsFromArrays(tokenArrays(df, textCol, idCol, extraCols), extraCols)

  /** `(id, _arr, extras)` token-array projection — split out so a
    * caller that also needs UNIGRAM counts ([[bigramLogProb]]) can
    * materialize it once and feed both branches, instead of paying the
    * normalize+split corpus scan twice.
    */
  private def tokenArrays(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      extraCols: Seq[(String, Column)] = Nil
  ): org.apache.spark.sql.DataFrame = {
    val arr = filter(split(normalize(col(textCol)), " "), t => t =!= "")
    // no spread here: a 5-rep A/B on every consumer key (bigram LM,
    // PMI, top-ngrams, DSIR) measured neutral — normalize+split is
    // cheap relative to the exchange these pipelines already do right
    // after (contrast repetitionSignals, whose 3-gram+hash kernel won
    // 2x from spreading)
    df.select(
      Seq(col(idCol).as("id"), arr.as("_arr")) ++
        extraCols.map { case (n, c) => c.as(n) }: _*
    )
  }

  private def pairsFromArrays(
      base: org.apache.spark.sql.DataFrame,
      extraCols: Seq[(String, Column)] = Nil
  ): org.apache.spark.sql.DataFrame = {
    base
      .where(size(col("_arr")) >= 2)
      .select(
        Seq(
          col("id"),
          explode(
            zip_with(
              slice(col("_arr"), lit(1), size(col("_arr")) - 1),
              slice(col("_arr"), lit(2), size(col("_arr")) - 1),
              (a, b) => struct(a.as("w1"), b.as("w2"))
            )
          ).as("_p")
        ) ++ extraCols.map { case (n, _) => col(n) }: _*
      )
      .select(
        Seq(col("id"), col("_p.w1").as("w1"), col("_p.w2").as("w2")) ++
          extraCols.map { case (n, _) => col(n) }: _*
      )
  }

  /** Interpolated bigram language-model quality score — the CCNet
    * perplexity filter (Wenzek et al., LREC 2020) one order up from
    * [[unigramLogProb]]: every document scored by the mean log
    * probability of its bigram transitions under the corpus's own
    * Jelinek–Mercer-interpolated bigram model,
    *
    *   lp(w1,w2) = ln( λ·c(w1,w2)/c(w1,·) + (1−λ)·c(w2)/total ).
    *
    * The bigram term captures local fluency (word salad built from
    * common words scores near the unigram filter's ceiling but has
    * never-seen transitions and collapses here); the unigram backoff
    * keeps every in-corpus pair finite, so no discounting estimate is
    * needed. Emits per doc: `n_bigrams`, `avg_logprob` (round6;
    * NULL for documents with <2 tokens — 0/1-token rows keep their
    * row with `n_bigrams = 0` instead of vanishing).
    *
    * Scale shape, one order up from [[unigramLogProb]]: the pair
    * stream is a scan-side array zip (no window), per-doc pair counts
    * are map-side combined, the corpus bigram/context tables are
    * joined on the DISTINCT (doc, w1, w2) triples — never the raw
    * token stream — and the grand total rides a 1-row broadcast. The
    * bigram table is the only state that grows with corpus diversity,
    * and it shuffles once at vocabulary-squared-bounded (observed ≪)
    * cardinality. Per-token contributions cross engines through a
    * DECIMAL(28,6) exact sum, so the score is partitioning-invariant.
    */
  def bigramLogProb(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      lambda: Double = 0.7
  ): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1), got $lambda")
    // ONE normalize+split corpus pass: the token-array base feeds BOTH
    // the bigram-pair branch and the unigram-count branch (materialized
    // — two independent subtrees would each rescan and re-tokenize)
    val base = graft.functions.materialize(tokenArrays(df, textCol, idCol))
    val pairs = pairsFromArrays(base)
    val tf = pairs.groupBy("id", "w1", "w2").agg(count(lit(1)).as("tf"))
    val big = tf.groupBy("w1", "w2").agg(sum(col("tf")).as("c2"))
    val ctx = big.groupBy("w1").agg(sum(col("c2")).as("cc"))
    val uni = base
      .select(explode(col("_arr")).as("w2"))
      .groupBy("w2")
      .agg(count(lit(1)).as("c1"))
    val total = uni.agg(sum(col("c1")).as("_total"))
    val lp = tf
      .join(big, Seq("w1", "w2"))
      .join(ctx, "w1")
      .join(uni, "w2")
      .crossJoin(broadcast(total))
      .withColumn(
        "_l",
        log(
          lit(lambda) * (col("c2").cast("double") / col("cc").cast("double")) +
            lit(1 - lambda) *
            (col("c1").cast("double") / col("_total").cast("double"))
        )
      )
    val agg = lp
      .groupBy("id")
      .agg(
        sum(col("tf")).as("n_bigrams"),
        graft.functions.round6(
          sum((col("tf") * col("_l")).cast(DecimalType(28, 6)))
            .cast("double") / sum(col("tf"))
        ).as("avg_logprob")
      )
    df.select(col(idCol).as("id"))
      .join(agg, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_logprob")
      )
  }

  /** DSIR importance log-weights — Data Selection via Importance
    * Resampling (Xie et al., NeurIPS 2023): score every document in a
    * raw pool by how much more likely its hashed-bigram bag is under
    * the TARGET distribution than under the pool's own,
    *
    *   log_weight = Σ_b n_b(doc) · ( ln p_tgt(b) − ln p_raw(b) ),
    *
    * with features = word bigrams hashed into `buckets` buckets (md5,
    * engine-portable) and both distributions add-1 smoothed over the
    * bucket space. `isTarget` marks the in-domain rows (a quality
    * flag, a trusted source, a language) INSIDE the same pool — the
    * paper's setup, no second dataset needed. Feed `log_weight` to
    * [[graft.operators.Sampling.gumbelTopK]] for the paper's
    * importance resample, or threshold `avg_log_ratio` (the
    * length-normalized variant) as a domain filter.
    *
    * Emits per doc: `n_feats`, `log_weight` (raw sum — the true log
    * importance ratio, length-biased by construction), and
    * `avg_log_ratio` (per-feature mean; length-free). Documents with
    * <2 tokens keep their row with `n_feats = 0` and NULL scores.
    *
    * Scale shape: one scan-side pair zip, per-(doc,bucket) counts
    * map-side combined, and BOTH model tables are `buckets`-bounded —
    * at the paper's 10⁴ buckets the target/raw tables and the
    * log-ratio join are broadcast-sized regardless of corpus size, so
    * scoring 100 TB costs one explode pass plus one per-doc
    * aggregation. Contributions cross engines through a DECIMAL(28,6)
    * exact sum (partitioning-invariant, oracle-exact).
    */
  def dsirLogWeights(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      isTarget: Column,
      buckets: Int = 256
  ): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(buckets > 1, s"buckets must be > 1, got $buckets")
    val fb = bigramPairs(
      graft.functions.spread(df), // serial-scan guard for the one tokenize+pair+md5 pass
      textCol, idCol, Seq("_tgt" -> isTarget))
      .select(
        col("id"),
        col("_tgt"),
        pmod(
          graft.operators.Sampling.hexValue(md5(concat(col("w1"), lit(" "), col("w2"))), 1, 13),
          lit(buckets.toLong)
        ).as("bucket")
      )
    // ONE tokenize+pair+hash corpus pass: BOTH model tables plus the
    // totals derive from the per-(doc, bucket) count table by exact
    // integer sums. r14 derived all four consumers from this shared
    // groupBy expecting runtime exchange reuse to collapse them; the
    // r15 EXECUTED plans (plans/r15/pipeline_dsir_sample_executed.txt)
    // showed reuse does NOT fire — the identical subtrees ran as
    // three-plus separate corpus passes. So the compact per-(doc,
    // bucket) count table (|docs|·buckets-bounded integer rows, ~4%
    // of the raw bigram stream here) is explicitly materialized: the
    // corpus pass provably runs once. Unlike r14's regretted eager
    // checkpoint this one is post-aggregation and small, and the r14
    // "1.6 s regression" on the plain log-weight key turns out to be
    // the guide-§1.4 count() trap: the bench's count() eliminates the
    // whole weight computation through the unique-key left join, so
    // that key's bench time measured a pruned no-op. Under the noop
    // sink (full computation, 5-rep medians minutes apart) this
    // materialize + the spread above take text_dsir_logweight
    // 3.23→1.65 s and pipeline_dsir_sample 3.11→1.75 s. _tgt rides
    // the group keys (constant per id), so groups — and every
    // downstream count — are unchanged.
    val docB = graft.functions.materialize(
      fb.groupBy("id", "_tgt", "bucket").agg(count(lit(1)).as("n"))
    )
    val tgt = docB.where(col("_tgt")).groupBy("bucket").agg(sum(col("n")).as("tc"))
    val raw = docB.groupBy("bucket").agg(sum(col("n")).as("rc"))
    val tots = docB.agg(
      sum(when(col("_tgt"), col("n")).otherwise(0L)).as("tt"),
      sum(col("n")).as("rt")
    )
    val lr = raw
      .join(tgt, Seq("bucket"), "left")
      .crossJoin(broadcast(tots))
      .select(
        col("bucket"),
        (log((coalesce(col("tc"), lit(0L)) + 1L).cast("double") /
          (col("tt") + buckets).cast("double")) -
          log((col("rc") + 1L).cast("double") /
            (col("rt") + buckets).cast("double"))).as("_lr")
      )
    val agg = docB
      .join(broadcast(lr), "bucket")
      .groupBy("id")
      .agg(
        sum(col("n")).as("n_feats"),
        graft.functions.round6(
          sum((col("n") * col("_lr")).cast(DecimalType(28, 6))).cast("double")
        ).as("log_weight"),
        graft.functions.round6(
          sum((col("n") * col("_lr")).cast(DecimalType(28, 6)))
            .cast("double") / sum(col("n"))
        ).as("avg_log_ratio")
      )
    df.select(col(idCol).as("id"))
      .join(agg, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        col("log_weight"),
        col("avg_log_ratio")
      )
  }

  /** Split documents into overlapping token-window chunks — the RAG
    * ingestion primitive (chunk size `window` tokens, consecutive
    * chunks sharing `overlap` tokens): `(id, chunk_no, start_token,
    * n_tokens, chunk_text)`.
    *
    * Chunk starts step by `window - overlap`; a tail start whose
    * remaining tokens are all inside the previous chunk's coverage
    * (start > 0 and n <= start + overlap) is dropped, so every
    * emitted chunk contributes at least one new token and short
    * documents yield exactly one chunk.
    *
    * Pure per-row expression work — `sequence` + `posexplode` + Spark
    * `slice` are all codegen'd builtins, zero shuffle, so chunking
    * rides the document scan at full speed; output size is
    * `~n_tokens/step` rows per doc, each carrying only its own window
    * of text (never the whole document duplicated per chunk).
    */
  def chunk(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      window: Int,
      overlap: Int
  ): org.apache.spark.sql.DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    require(
      overlap >= 0 && overlap < window,
      s"overlap must be in [0, window), got $overlap"
    )
    val step = window - overlap
    df.select(
        col(idCol).as("id"),
        split(col(textCol), " ").as("_toks")
      )
      .withColumn("_n", size(col("_toks")))
      .select(
        col("id"),
        col("_toks"),
        col("_n"),
        posexplode(sequence(lit(0), col("_n") - 1, lit(step)))
          .as(Seq("chunk_no", "start_token"))
      )
      .where(
        col("start_token") === 0 || col("_n") > col("start_token") + overlap
      )
      .select(
        col("id"),
        col("chunk_no"),
        col("start_token"),
        least(lit(window), col("_n") - col("start_token")).as("n_tokens"),
        array_join(slice(col("_toks"), col("start_token") + 1, lit(window)), " ")
          .as("chunk_text")
      )
  }

  /** Top-k bigram collocations by pointwise mutual information — the
    * phrase-mining / tokenizer-merge-candidate signal (Church & Hanks,
    * "Word Association Norms, Mutual Information, and Lexicography",
    * 1990): `(w1, w2, n_ab, score, rank)`.
    *
    * score is the PMI ratio WITHOUT the log (same cross-engine
    * rationale as [[tfIdfTopK]]):
    *
    *   p(ab) / (p(a) p(b)) = (c_ab * N_uni^2) / (N_bi * c_a * c_b)
    *
    * computed in DOUBLE throughout — at 100 TB the integer products
    * overflow BIGINT (N_uni^2 alone passes 2^63 at ~3e9 tokens), and
    * the cast keeps Spark and DuckDB on identical IEEE ops. A
    * `minCount` floor (collocation practice) kills the rare-pair noise
    * that pure PMI is notorious for AND shrinks the join input to the
    * frequent tail.
    *
    * Scale shape: bigram and unigram counts are two map-side-combined
    * groupBys off one scan; corpus totals ride 1-row broadcasts; the
    * unigram join-back runs only against the >= minCount bigram
    * survivors; the global top-k rank is a WindowGroupLimit (bounded
    * per-partition heap), not a full sort.
    */
  def pmiBigrams(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      minCount: Int,
      k: Int
  ): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(k >= 1, s"k must be >= 1, got $k")
    // materialized: the bigram-count and unigram-count branches are
    // independent subtrees — unpersisted, each would rescan and
    // re-tokenize the corpus (the tfIdfTopK persist rationale)
    val toks = graft.functions.materialize(
      df.select(tokens(col(textCol)).as("_toks")))
    val pairs = toks
      .select(
        explode(
          when(
            size(col("_toks")) >= 2,
            transform(
              sequence(lit(0), size(col("_toks")) - 2),
              i =>
                struct(
                  element_at(col("_toks"), i + 1).as("w1"),
                  element_at(col("_toks"), i + 2).as("w2")
                )
            )
          ).otherwise(array().cast("array<struct<w1:string,w2:string>>"))
        ).as("p")
      )
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val biCounts = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
    val totalBi = biCounts.agg(sum(col("n_ab")).as("_m"))
    val uniCounts = toks
      .select(explode(col("_toks")).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("c"))
    val totalUni = uniCounts.agg(sum(col("c")).as("_n"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("w1"), col("w2"))
    biCounts
      .where(col("n_ab") >= minCount)
      .join(uniCounts.select(col("w").as("w1"), col("c").as("_ca")), "w1")
      .join(uniCounts.select(col("w").as("w2"), col("c").as("_cb")), "w2")
      .crossJoin(broadcast(totalUni))
      .crossJoin(broadcast(totalBi))
      .withColumn(
        "score",
        graft.functions.round6(
          (col("n_ab").cast("double") * col("_n").cast("double") *
            col("_n").cast("double")) /
            (col("_m").cast("double") * col("_ca").cast("double") *
              col("_cb").cast("double"))
        )
      )
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("w1"), col("w2"), col("n_ab"), col("score"), col("rank"))
  }

  /** BM25 relevance of every document against a fixed query term set:
    * `(id, n_matched, score)` for documents containing at least one
    * query term (Robertson & Zaragoza, "The Probabilistic Relevance
    * Framework: BM25 and Beyond", 2009 — eq. 3.15):
    *
    *   score = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    *
    * with the same log-free rational idf as [[tfIdfTopK]],
    * (N - df + 0.5) / (df + 0.5) — pure arithmetic, bit-identical
    * across engines, strictly monotone in df.
    *
    * Scale shape: one explode into (doc, term) counts (the one
    * corpus-sized shuffle, map-side combined); per-doc length from the
    * SAME materialized tf table (no second scan); the query-term tf
    * slice is `|matching docs| × |query|` rows — df over it collapses
    * to `|query|` rows and joins back as a broadcast; corpus N and
    * avgdl attach as a 1-row broadcast cross join. Per-doc sums run
    * through DECIMAL(38,12) so partial-aggregation order can't move
    * the result (the oracle hash-compares). Nothing downstream of the
    * tf table grows with corpus size except the matching-doc slice
    * itself.
    *
    * Same caller-owned cache lifetime caveat as [[tfIdfTopK]]: the tf
    * table is lazily persisted and referenced by the returned plan.
    */
  def bm25Score(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75
  ): org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    // Query terms get the SAME normalization as the indexed terms (the
    // JVM mirror of `normalize`): tf terms are lowercased and
    // punctuation-stripped, so a raw "Spark" would silently match zero
    // documents. Multi-word phrases normalize into their words.
    // Locale.ROOT: the default-locale toLowerCase turns 'I' into dotless
    // 'ı' on a tr_TR/az driver, which the [^a-z0-9 ] strip then deletes
    // ("INDEX" -> "ndex") — mirror Spark's locale-independent lower().
    val normTerms = queryTerms
      .flatMap(t =>
        t.toLowerCase(java.util.Locale.ROOT)
          .replaceAll("[^a-z0-9 ]", " ")
          .replaceAll(" +", " ")
          .trim
          .split(" "))
      .filter(_.nonEmpty)
      .distinct
    require(
      normTerms.nonEmpty,
      s"queryTerms $queryTerms normalize to nothing — no alphanumeric content"
    )
    val toks = df
      .select(
        col(idCol).as("id"),
        explode(split(normalize(col(textCol)), " ")).as("term")
      )
      .where(col("term") =!= "")
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf")).persist()
    val dl = tf.groupBy("id").agg(sum(col("tf")).as("dl"))
    // N and avgdl from the doc-length table: one row, broadcast
    val stats = dl.agg(
      count(lit(1)).as("_n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("_avgdl")
    )
    val qtf = tf.where(col("term").isin(normTerms: _*))
    val dfTab = qtf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = (col("_n") - col("df") + 0.5) / (col("df") + 0.5)
    val tfNorm = (col("tf") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("_avgdl")))
    qtf
      .join(broadcast(dfTab), "term")
      .join(dl, "id")
      .crossJoin(broadcast(stats))
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_matched"),
        graft.functions.round6(
          sum((idf * tfNorm).cast(org.apache.spark.sql.types.DecimalType(38, 12)))
            .cast("double")
        ).as("score")
      )
  }

  /** Flesch reading-ease per document — the classic readability
    * signal for curriculum ordering and education-level filtering:
    * `(id, n_words, n_sentences, n_syllables, flesch)` with
    * flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syll/words).
    * Syllables are the standard vowel-group approximation
    * (`[aeiouy]+` runs — exact syllabification needs a dictionary;
    * the approximation ranks documents identically in practice) and
    * sentences are terminal-punctuation runs, floored at 1 so an
    * unpunctuated fragment scores as one long sentence instead of
    * dividing by zero. Empty documents emit NULL flesch.
    *
    * Pure scan-side regexp counts — zero shuffle, readability for a
    * billion documents rides the first corpus read.
    */
  def readability(df: org.apache.spark.sql.DataFrame, textCol: String, idCol: String): org.apache.spark.sql.DataFrame = {
    // NON-EMPTY tokens only: split("", " ") is [""], so a raw
    // tokenCount gives every empty/blank document n_words = 1 and a
    // flesch of ~205.8 — the HIGHEST score in the corpus, the exact
    // inversion of what curriculum ordering needs. Counting non-empty
    // tokens makes the documented `words > 0` NULL guard real.
    val words = size(array_remove(split(col(textCol), " "), ""))
    val sentences = greatest(regexp_count(col(textCol), lit("[.!?]+")), lit(1))
    val syllables = regexp_count(lower(col(textCol)), lit("[aeiouy]+"))
    df.select(
      col(idCol),
      words.as("n_words"),
      sentences.cast("int").as("n_sentences"),
      syllables.cast("int").as("n_syllables"),
      when(
        words > 0,
        graft.functions.round6(
          lit(206.835) -
            lit(1.015) * (words.cast("double") / sentences) -
            lit(84.6) * (syllables.cast("double") / words)
        )
      ).as("flesch")
    )
  }

  /** Distributed byte-pair-encoding merge learning (Sennrich et al.,
    * "Neural Machine Translation of Rare Words with Subword Units",
    * ACL 2016): learn up to `numMerges` merge rules from the corpus
    * and return the ranked merge table
    * `(rank, left, right, pair_count)` — the tokenizer-training step
    * of an LLM data pipeline, run where the data lives.
    *
    * The classic observation makes this corpus-scale: merge statistics
    * depend only on the WORD-FREQUENCY table, so the corpus is touched
    * ONCE (normalized tokenize → groupBy(word) count — the only
    * corpus-sized shuffle) and every learning round runs on the
    * \|distinct words\| table: explode adjacent symbol pairs weighted
    * by word count, one map-side-combinable argmax (count desc, then
    * lexicographic (left, right) — fully deterministic, engine-
    * independent), and an `aggregate` fold that greedily re-merges
    * each word's symbol array left-to-right (the fold IS the greedy
    * single pass: a just-merged symbol `left+right` can never equal
    * `left`, so it cannot re-pair within the same round — the fold
    * provably matches the sequential skip-ahead scan). Words carry
    * a `</w>` end-of-word sentinel so merges distinguish word-final
    * units (standard BPE). The merge fold references the loop
    * variable ONCE per round, so lineage grows linearly (the
    * pageRank/LPA shape) and the \|W\|-row word table only needs
    * materializing every 4 rounds — per-round checkpoints were
    * measured pure job overhead on local[32]; rounds stop early when
    * the best pair's count drops below `minPairCount`. The driver
    * receives ONE row per round (the argmax) — bounded orchestration,
    * the same contract as the IVF probe-cell collects.
    *
    * No SQL oracle (iterative argmax with data-dependent literals is
    * not a query) — correctness is pinned by the plain-JVM reference
    * implementation spec (identical merge sequence, identical
    * tie-breaks).
    */
  def bpeTrain(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      numMerges: Int,
      minPairCount: Long = 2L
  ): org.apache.spark.sql.DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    val spark = df.sparkSession
    import spark.implicits._
    var words = graft.functions.materialize(
      df.select(explode(split(normalize(col(textCol)), " ")).as("_w"))
        .where(col("_w") =!= "")
        .groupBy("_w")
        .agg(count(lit(1)).as("_n"))
        .select(
          concat(
            filter(split(col("_w"), ""), x => x =!= ""),
            array(lit("</w>"))
          ).as("_syms"),
          col("_n")
        )
    )
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      val top = words
        .select(
          explode(
            zip_with(
              slice(col("_syms"), lit(1), size(col("_syms")) - 1),
              slice(col("_syms"), lit(2), size(col("_syms")) - 1),
              (a, b) => struct(a.as("l"), b.as("r"))
            )
          ).as("_p"),
          col("_n")
        )
        .groupBy(col("_p.l").as("l"), col("_p.r").as("r"))
        .agg(sum(col("_n")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty || top.head.getAs[Long]("c") < minPairCount) done = true
      else {
        val l = top.head.getAs[String]("l")
        val r = top.head.getAs[String]("r")
        merges += ((rank, l, r, top.head.getAs[Long]("c")))
        val m = l + r
        words = words.select(
          aggregate(
            col("_syms"),
            typedlit(Array.empty[String]),
            (acc, x) =>
              when(
                size(acc) > 0 &&
                  element_at(acc, -1) === lit(l) && x === lit(r),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(m)))
              ).otherwise(concat(acc, array(x)))
          ).as("_syms"),
          col("_n")
        )
        // single-reference lineage: truncate on a loose cadence only
        if (rank % 4 == 0) words = graft.functions.materialize(words)
        rank += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
  }

  /** Tokenize text with a LEARNED merge table — the inference twin of
    * [[bpeTrain]] (pass its collected `(left, right)` rows in rank
    * order): normalize, then the codegen'd greedy lowest-rank-first
    * apply ([[graft.functions.MediaKernels.bpeEncode]]); returns the
    * subword array (word-final units carry `</w>`). Segmentation is
    * lossless by construction — concatenating a word's subwords and
    * stripping the sentinel reproduces the normalized word
    * (spec-pinned) — and the merge table rides the plan as a codegen
    * reference object, so corpus tokenization is a zero-shuffle
    * scan-side projection.
    */
  def bpeEncode(textCol: Column, merges: Seq[(String, String)]): Column =
    graft.functions.mediaExpressions.bpeEncode(normalize(textCol), merges)
}
