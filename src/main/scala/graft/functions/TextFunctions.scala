package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for training-data pipelines.
  *
  * Everything here is built from `org.apache.spark.sql.functions` only —
  * whole-stage-codegen'd expressions, no UDFs — so the operators stay inside
  * Tungsten at any scale. Token model: whitespace-separated words (the
  * testdata `documents.text` is single-space separated).
  */
object TextFunctions {

  def tokens(text: Column): Column = split(text, " ")

  /** Token count; `size(split)` = separators + 1 on single-spaced text. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: word-piece heuristic counting regex matches of
    * letter-runs, digit-runs and single punctuation, ~GPT-2 pre-tokenizer
    * shape. regexp_count is codegen'd.
    */
  def subwordCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** Word n-grams (ordered, overlapping). Empty array when fewer than n
    * tokens — `sequence(0, size-n)` would otherwise run DESCENDING for
    * negative spans.
    */
  def wordNGrams(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(
        transform(
          sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " ")))
  }

  /** Distinct word n-gram shingles — the unit set for Jaccard/MinHash. */
  def shingles(text: Column, n: Int): Column = array_distinct(wordNGrams(text, n))

  /** Distinct shingles as 64-bit xxhash64 values. Set cardinalities (and so
    * Jaccard) are preserved w.h.p. (collision odds ~|shingles|²/2⁶⁴), while
    * downstream set ops run on fixed-width longs instead of n-word strings —
    * the working set shrinks ~10x and `array_intersect`/`array_union` stop
    * hashing variable-length strings per comparison. Hash-then-distinct:
    * the distinct compares 8-byte longs, not strings. Computed by the
    * native one-pass [[graft.plans.HashedShingles]] expression
    * (bit-identical to the HOF spec below, asserted in TextFunctionsSpec).
    */
  def hashedShingles(text: Column, n: Int): Column =
    graft.plans.PolyHashExpressions.hashedShingles(text, n)

  /** HOF composition — the executable spec [[hashedShingles]]' native
    * expression is asserted against.
    */
  private[graft] def hashedShinglesHof(text: Column, n: Int): Column =
    array_distinct(transform(wordNGrams(text, n), s => xxhash64(s)))

  /** Punctuation ratio: non-alnum/non-space chars over total chars. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(
        length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("double") /
          length(text).cast("double"))

  /** Per-language stopword lexicons for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: broadcast as literals into the plan.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "a"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "une", "que"),
    "es" -> Seq("el", "la", "los", "y", "es", "no", "una", "que"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我"))

  /** Count of DISTINCT tokens that hit a lexicon (array_intersect is
    * set-semantic on both Spark and DuckDB — keeps the oracle expressible).
    */
  def stopwordHits(text: Column, lexicon: Seq[String]): Column =
    size(array_intersect(tokens(text), array(lexicon.map(lit): _*)))

  /** Ratio of stopword TOKEN OCCURRENCES (English lexicon) to all tokens —
    * a classic document-quality feature.
    */
  def stopwordRatio(text: Column, lexicon: Seq[String] = stopwords("en")): Column = {
    val lex = array(lexicon.map(lit): _*)
    val hits = size(filter(tokens(text), t => array_contains(lex, t)))
    when(tokenCount(text) === 0, lit(0.0))
      .otherwise(hits.cast("double") / tokenCount(text).cast("double"))
  }

  /** Language-ID heuristic: argmax of per-language distinct-stopword hits,
    * deterministic tie-break by language code, "und" when no lexicon hits.
    */
  def langId(text: Column): Column = {
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, lex) =>
      struct(stopwordHits(text, lex).as("score"), lit(lang).as("lang"))
    }
    // array_max on struct(score, lang): max score, then max lang — to get
    // the SMALLEST lang on ties we compare on (score, negated-rank) instead.
    val ranked = stopwords.keys.toSeq.sorted.zipWithIndex.toMap
    val scored2 = stopwords.toSeq.sortBy(_._1).map { case (lang, lex) =>
      struct(
        stopwordHits(text, lex).as("score"),
        lit(-ranked(lang)).as("nrank"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored2: _*))
    when(best.getField("score") <= 0, lit("und")).otherwise(best.getField("lang"))
  }

  /** Composite quality score in [0,1]: rewards mid-length docs, low
    * punctuation, healthy stopword ratio. Weights are heuristic; the value
    * is deterministic and SQL-expressible for the oracle.
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val lengthTerm = least(nTok / lit(100.0), lit(1.0))
    val punctTerm = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val stopTerm = least(stopwordRatio(text) * 4.0, lit(1.0))
    round(lit(0.4) * lengthTerm + lit(0.3) * punctTerm + lit(0.3) * stopTerm, 6)
  }

  /** PII redaction patterns, applied in order (emails before the URL and
    * digit-run passes so an address is never half-eaten by a later rule).
    * Deliberately engine-portable regex (no lookarounds, no \\s classes) so
    * Java regex and RE2-family engines match identically.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "https?://[^ ]+" -> "<URL>",
    "[0-9]{6,}" -> "<NUM>")

  /** Scrub PII-shaped spans: sequential codegen'd regexp_replace passes. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (p, r)) => regexp_replace(c, p, r) }

  /** PORTABLE rolling fingerprint: nested polynomial folds (chars within
    * token, tokens within document) in 48-bit modular arithmetic — every
    * operation is plain integer math over codepoints, so any engine with a
    * string split and a list fold recomputes the exact value (the DuckDB
    * oracle does). 48-bit modulus keeps every intermediate under 2^56 — no
    * ANSI 64-bit overflow. Order-sensitive at both levels, so token
    * permutations fingerprint apart. The inner char folds come from the native
    * [[graft.plans.PolyTokenHashes]] expression; only the cheap per-token
    * outer fold stays a HOF.
    */
  def portableFingerprint(text: Column): Column =
    aggregate(portableTokenHashes(text), lit(0L),
      (acc, h) => (acc * lit(31L) + h) % lit(1L << 48))

  /** 48-bit polynomial char fold of one token — the portable unit hash.
    * Spark's split(t, "") keeps a trailing "" (limit -1 semantics); drop
    * empties so the fold sees exactly the characters, like the oracle.
    * Reference HOF shape: [[portableTokenHashes]] computes the same values
    * natively; this stays as the executable spec the equivalence test
    * checks against.
    */
  private[graft] def portableTokenHash(t: Column): Column =
    aggregate(filter(split(t, ""), c => c =!= ""), lit(0L),
      (a, c) => (a * lit(131L) + ascii(c).cast("long")) % lit(1L << 48))

  /** Deterministic engine-portable uniform in (0, 1) from any key: the
    * 48-bit char fold of `key` folded into Z_{2^31-1} and scrambled by
    * one affine step with a LARGE multiplier (the classic LCG
    * constants), then midpoint-normalized. The affine step is the part
    * that makes it a usable uniform: the raw char fold of a SHORT key
    * ("42") is numerically tiny against the modulus, so thresholding it
    * directly sends every short key to the low end (an all-train split,
    * a keep-everything sample); the large multiplier spreads unit fold
    * steps ~0.514 apart around the circle. All intermediates < 2^62 —
    * no overflow in any ANSI engine; every operation replays in the
    * DuckDB oracles (q13f's permutation arithmetic class).
    */
  def portableUniform(key: Column): Column =
    (((graft.plans.PolyHashExpressions.polyStringHash(key) % lit(2147483647L))
      * lit(1103515245L)
      + lit(12345L)) % lit(2147483647L) + lit(0.5)) / lit(2147483647.0)

  /** HOF twin of the native whole-string fold — the executable spec
    * TextFunctionsSpec pins [[graft.plans.PolyHashExpressions
    * .polyStringHash]] against.
    */
  private[graft] def portableStringHashHof(key: Column): Column =
    portableTokenHash(key)

  /** HOF composition of [[portableTokenHash]] — the executable spec for
    * the native expression (asserted equal in TextFunctionsSpec).
    */
  private[graft] def portableTokenHashesHof(text: Column): Column =
    transform(tokens(text), t => portableTokenHash(t))

  /** Per-token portable hashes via the native single-pass
    * [[graft.plans.PolyTokenHashes]] expression (codegen'd; ~10x the HOF
    * chain on the token-hash stage). Still materialize as a column behind
    * a repartition barrier before fanning out into multi-reference
    * consumers like [[portableSimhash48]]: CollapseProject would otherwise
    * re-inline the fold into every reference.
    */
  def portableTokenHashes(text: Column): Column =
    graft.plans.PolyHashExpressions.polyTokenHashes(text)

  /** Portable hashed word-shingles over a pre-materialized token-hash
    * array: shingle hash = 48-bit polynomial fold of its n token hashes
    * ((acc*31 + th) % 2^48, acc0 = 0). Composing from
    * [[portableTokenHashes]] runs each token's char fold once per doc (not
    * once per covering shingle), and the arithmetic is engine-portable so
    * the DuckDB oracle recomputes every value — the minhash analog of
    * [[portableFingerprint]]. Intermediates stay < 2^53.2: no ANSI
    * overflow. Fewer-than-n tokens -> empty array (the `sequence` guard —
    * negative spans run DESCENDING).
    */
  def portableShingleHashes(ths: Column, n: Int): Column =
    when(size(ths) < n, array().cast("array<bigint>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(ths) - (n - 1)),
        i => aggregate(slice(ths, i, lit(n)), lit(0L),
          (a, h) => (a * lit(31L) + h) % lit(1L << 48)))))

  /** Portable 48-bit simhash over a pre-materialized token-hash array:
    * Charikar vote vector — bit i is set when the majority of token hashes
    * carry bit i. Same construction as
    * [[graft.operators.SimHashDedup.simhash]] but in engine-portable
    * arithmetic, so the DuckDB oracle recomputes it bit-for-bit. (The
    * production simhash keeps splitmix64 mixing — better bit independence;
    * this variant's value is that the CLASS of sketch is oracle-checkable.)
    */
  /** Canonical URL form — the crawl-frontier dedup key (two fetches of
    * "the same page" must collide BEFORE content ever downloads):
    * lowercase scheme+authority, strip default ports (:80 http / :443
    * https), drop the fragment, remove tracking parameters
    * (utm_*, gclid, fbclid, ref), sort the survivors. Pure codegen'd
    * built-ins (`parse_url` + HOFs) — map-only at any scale, and the
    * DuckDB oracle replays every rule with plain regexes (q98 already
    * pinned parse_url <-> regex agreement for this URL shape).
    */
  def canonicalizeUrl(url: Column): Column = {
    val proto = lower(parse_url(url, lit("PROTOCOL")))
    val rawAuth = lower(parse_url(url, lit("AUTHORITY")))
    val auth = when(proto === "https", regexp_replace(rawAuth, ":443$", ""))
      .when(proto === "http", regexp_replace(rawAuth, ":80$", ""))
      .otherwise(rawAuth)
    val params = filter(split(coalesce(parse_url(url, lit("QUERY")), lit("")), "&"),
      p => p =!= "" && !p.rlike("^(utm_[^=]*|gclid|fbclid|ref)="))
    val sorted = array_join(array_sort(params), "&")
    concat(proto, lit("://"), auth, coalesce(parse_url(url, lit("PATH")), lit("")),
      when(sorted === "", lit("")).otherwise(concat(lit("?"), sorted)))
  }

  /** Multi-label public suffixes the registrable-domain rule must treat
    * as one TLD unit (a working subset of the public-suffix list — the
    * full list is data, not code: load it the same way and union). Kept
    * sorted so the generated IN-list is deterministic across builds.
    */
  val twoLevelSuffixes: Seq[String] = Seq(
    "ac.uk", "co.il", "co.in", "co.jp", "co.kr", "co.nz", "co.uk",
    "co.za", "com.ar", "com.au", "com.br", "com.cn", "com.mx",
    "com.sg", "com.tr", "com.tw", "gov.uk", "github.io", "ne.jp",
    "net.au", "or.jp", "org.uk").sorted

  /** Registrable domain (eTLD+1) of a URL — the aggregation key for
    * domain-level corpus curation (per-domain quotas, blocklists,
    * crawl-politeness buckets all key on the SITE, and
    * `a.cdn.example.co.uk` and `example.co.uk` are the same site while
    * `example.co.uk` and `other.co.uk` are not — exactly what raw-host
    * grouping gets wrong). Rule: host = lowercased authority minus
    * port; if the last TWO labels form a listed multi-label suffix
    * ([[twoLevelSuffixes]]), keep the last three labels, else the last
    * two; a bare one-label host passes through. Pure codegen'd
    * built-ins (`parse_url` + array slicing over a literal IN-list) —
    * map-only at any scale, every rule replayable in ANSI SQL.
    */
  def registrableDomain(url: Column): Column = {
    val host = regexp_replace(lower(parse_url(url, lit("AUTHORITY"))), ":[0-9]+$", "")
    val labels = split(host, "\\.")
    val n = size(labels)
    val lastTwo = concat_ws(".", element_at(labels, -2), element_at(labels, -1))
    when(n <= 1, host)
      .when(lastTwo.isin(twoLevelSuffixes: _*) && n >= 3,
        concat_ws(".", element_at(labels, -3), element_at(labels, -2),
          element_at(labels, -1)))
      .otherwise(lastTwo)
  }

  def portableSimhash48(hs: Column): Column =
    aggregate(sequence(lit(0), lit(47)), lit(0L), (acc, i) => {
      val vote = aggregate(hs, lit(0L), (v, h) =>
        v + when(call_function("shiftright", h, i).bitwiseAND(lit(1L)) === lit(1L), lit(1L))
          .otherwise(lit(-1L)))
      acc + when(vote >= 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))
    })

  /** CLIPPED n-gram overlap over n-gram ARRAY columns — the ROUGE-n
    * numerator (Lin 2004): over the reference's DISTINCT n-grams, sum
    * min(count in candidate, count in reference). Clipping is what stops
    * a candidate from farming credit by repeating one matching n-gram.
    * Recall = overlap / |ref n-grams|, precision = overlap / |cand
    * n-grams| — the generation-eval and summarization-QA staple. Pure
    * codegen'd array HOFs (no UDF), map-only per pair; exact integer
    * result, so an oracle replays it with the same list operations.
    *
    * Performance contract: lambda bodies re-evaluate whatever expression
    * tree they reference, so pass REAL (pre-projected) array columns
    * here — an inlined `wordNGrams(...)` would be rebuilt once per
    * distinct ref gram (measured ~5x on q139's bench slice); a bound
    * column materializes once per row.
    */
  def clippedOverlap(cg: Column, rg: Column): Column =
    aggregate(array_distinct(rg), lit(0L), (acc, g) =>
      acc + least(
        size(filter(cg, x => x === g)).cast("long"),
        size(filter(rg, x => x === g)).cast("long")))
}
