package graft.scale

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the LLM-data-pipeline extensions
  * (SURVEY §7.1 scale/): tokenization, polynomial hashing, shingling,
  * quality metrics, language-ID heuristic.
  *
  * Everything is pure Catalyst higher-order functions — no UDFs — so the
  * whole stage codegens and distributes; per-document cost is linear in
  * text length and the operators are embarrassingly parallel at 100 TB.
  *
  * Determinism: all hashes are explicit polynomial arithmetic (not Spark's
  * murmur3 `hash()`, which DuckDB cannot reproduce), so every derived
  * quantity is oracle-checkable.
  */
object TextOps {

  /** Large prime modulus for polynomial hashes. */
  val P: Long = 1000000007L
  /** 32-bit modulus for SimHash bit sampling. */
  val M32: Long = 4294967296L

  /** Whitespace tokenization (single-space corpus). */
  def tokens(text: Column): Column = split(text, " ")

  /** Characters of a string as a non-empty array (split("") emits a
    * trailing empty element under Java regex semantics — filtered).
    */
  def chars(text: Column): Column =
    filter(split(text, ""), ch => ch =!= "")

  /** Rolling polynomial hash over code points: h = (h*31 + code) mod `mod`,
    * seeded with 7. Mirrors the DuckDB oracle's
    * `list_reduce(list_prepend(7, [unicode(c) ...]), (a,b) -> (a*31+b) % mod)`.
    *
    * Backed by the native codegen'd `PolyHashExpr` (one pass, no per-char
    * array) — sessions must run `graft.functions.Hashing.register` first;
    * every registry query builder that hashes does so. [[polyHashHof]] is
    * the pure-builtin fallback, kept spec-cross-checked against the native
    * form.
    */
  def polyHash(text: Column, mod: Long = P): Column =
    call_function("graft_poly_hash", text, lit(mod))

  /** Pure higher-order-function form of [[polyHash]] (identical values on
    * BMP text; slower — interpreted, materializes the char array).
    */
  def polyHashHof(text: Column, mod: Long = P): Column =
    aggregate(
      transform(chars(text), ch => ascii(ch).cast("long")),
      lit(7L),
      (h, c) => (h * 31 + c) % mod)

  /** Word n-gram shingles (default 3): positions 1..len-n+1, space-joined.
    * Documents shorter than n words yield their full token join as the
    * single shingle.
    */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = tokens(text)
    val count = greatest(size(toks) - (n - 1), lit(1))
    array_distinct(
      transform(sequence(lit(1), count),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** All word n-grams with duplicates kept ([[shingles]] without the
    * distinct) — the multiset view repetition detection needs.
    */
  def ngramsAll(text: Column, n: Int = 3): Column = {
    val toks = tokens(text)
    val count = greatest(size(toks) - (n - 1), lit(1))
    transform(sequence(lit(1), count),
      i => concat_ws(" ", slice(toks, i, lit(n))))
  }

  /** Per-document repetition statistic as one native pass:
    * `[total multiset n-grams, top n-gram count]` (`graft_ngram_rep`).
    * A per-doc stat needs no gram explode/shuffle at any scale; the
    * explode + count composition over [[ngramsAll]] is kept
    * spec-cross-checked. Sessions must register
    * `graft.functions.Hashing.register` first.
    */
  def ngramRep(text: Column, n: Int = 3): Column =
    call_function("graft_ngram_rep", text, lit(n))

  /** Native fused form of [[shingles]] (one pass, no HOF chain) — kept
    * spec-cross-checked against the builtin composition. Sessions must
    * register `graft.functions.Hashing.register` first.
    */
  def shinglesNative(text: Column, n: Int = 3): Column =
    call_function("graft_shingles", text, lit(n))

  /** Poly-hashes of the distinct shingles, as one fused native pass
    * (= `transform(shingles(text, n), polyHash)` — kept spec-cross-checked
    * against that HOF composition). The signature/index paths only ever
    * need the hashes; skipping the intermediate string array keeps the
    * whole derivation in codegen.
    */
  def shingleHashes(text: Column, n: Int = 3, mod: Long = P): Column =
    call_function("graft_shingle_hashes", text, lit(n), lit(mod))

  /** Jaccard similarity of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_distinct(concat(a, b))).cast("double")

  /** Stopword list for quality scoring / language-ID (fixed, tiny). */
  val stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")

  /** Token-column variants: when several scores derive from the same
    * tokenization, materialize `tokens(text)` once (HOFs don't codegen, so
    * repeated references otherwise re-tokenize per score — see
    * spark-perf-pitfalls).
    */
  def stopwordRatioOf(toks: Column): Column =
    size(filter(toks, t => t.isin(stopwords: _*))).cast("double") /
      size(toks).cast("double")

  def stopwordRatio(text: Column): Column = stopwordRatioOf(tokens(text))

  /** Digit-character ratio — one vectorized regex pass per document
    * (`regexp_count`), not a per-character interpreted `rlike` over an
    * exploded char array.
    */
  def digitRatio(text: Column): Column =
    regexp_count(text, lit("[0-9]")).cast("double") /
      length(text).cast("double")

  /** Punctuation-character ratio (non-alphanumeric, non-space) — same
    * single-pass `regexp_count` shape as [[digitRatio]].
    */
  def punctRatio(text: Column): Column =
    regexp_count(text, lit("[^a-zA-Z0-9 ]")).cast("double") /
      length(text).cast("double")

  /** Composite quality score in [0,1]: rewards mid-length docs with low
    * stopword/digit load — the usual pretraining-filter shape.
    */
  def qualityScore(text: Column): Column =
    round(
      least(length(text).cast("double") / 500.0, lit(1.0)) * 0.4
        + (lit(1.0) - stopwordRatio(text)) * 0.4
        + (lit(1.0) - digitRatio(text)) * 0.2,
      6)

  /** Canonical text normalization: lowercase, collapse all whitespace runs
    * to single spaces, trim. The cleanup pass that runs BEFORE hashing /
    * dedup / shingling so that formatting variants ("Foo  bar\n" vs
    * "foo bar") collapse to one canonical form. Pure per-row Catalyst
    * expressions — vectorized regex, no shuffle, no UDF — and restricted
    * to constructs with identical Java-regex/RE2 semantics so the DuckDB
    * oracle replays the transform byte-for-byte (same discipline as
    * redactPii). The whitespace run is an EXPLICIT class, not `\s`:
    * Java's `\s` includes U+000B (vertical tab) while RE2/DuckDB's does
    * not — [[WhitespaceClass]] spells out Java's set so both engines
    * agree on every input, \x0B included (the oracle SQL mirrors it).
    */

  /** Java `\s` spelled out: [ \t\n\x0B\f\r] — mirrored literally in the
    * DuckDB oracle SQL (RE2 reads the same class; its own `\s` lacks
    * \x0B).
    */
  val WhitespaceClass = "[ \\t\\n\\x0B\\f\\r]"

  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), WhitespaceClass + "+", " "))

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken — SIGMOD 2003,
    * the MOSS algorithm): positional word `k`-gram hashes, then the
    * minimum hash of every `w`-long sliding window, deduplicated. The
    * guarantee: any match of length >= w+k-1 tokens between two documents
    * shares at least one fingerprint, while the fingerprint density stays
    * ~2/(w+1) regardless of document length — a local, length-bounded
    * signature set that catches partial overlap (plagiarized paragraphs,
    * quoted passages) where whole-document MinHash dilutes away.
    * Positional (non-distinct) k-grams, unlike [[shingles]]: winnowing's
    * window guarantee needs every occurrence.
    *
    * One fused native pass (`graft_winnow`) — the HOF composition
    * ([[winnowFingerprintsHof]], kept spec-cross-checked) re-slices the
    * token and hash arrays per element and measured 350 s for the sf0.1
    * corpus vs sub-second native.
    */
  def winnowFingerprints(text: Column, k: Int = 3, w: Int = 4): Column =
    call_function("graft_winnow", text, lit(k), lit(w), lit(P))

  /** Pure higher-order-function form of [[winnowFingerprints]] (identical
    * values; interpreted, quadratically allocation-heavy — cross-check
    * only).
    */
  def winnowFingerprintsHof(text: Column, k: Int = 3, w: Int = 4): Column = {
    val toks = tokens(text)
    val nGrams = greatest(size(toks) - (k - 1), lit(1))
    val hs = transform(sequence(lit(1), nGrams),
      i => polyHash(concat_ws(" ", slice(toks, i, lit(k)))))
    val nWins = greatest(size(hs) - (w - 1), lit(1))
    array_distinct(transform(sequence(lit(1), nWins),
      j => array_min(slice(hs, j, lit(w)))))
  }

  /** Percentile-gated selection: drop the bottom `dropFrac` of rows by
    * `scoreCol` — "keep the best 70% by quality", the distribution-relative
    * form of a quality filter (a fixed cutoff goes stale as the corpus
    * shifts; the percentile tracks it). One exact-percentile aggregation
    * produces a single threshold row, broadcast to a scalar compare per
    * row — TWO passes over the input (threshold, then filter), no corpus
    * shuffle in either. The upstream lineage recomputes on the second
    * pass; that is the right default at 100 TB, where caching the corpus
    * costs more than re-scanning it — callers sitting on an expensive
    * derived frame should `Caches.persist` it before calling (as
    * corpus_prepare_v2 does for its scored frame). At 100 TB swap
    * `percentile` for `approx_percentile` (same single-scan mergeable
    * sketch trade as Sharding.rangeShardsApprox; the oracle can't replay
    * the sampled estimate, so that variant is spec-checked).
    *
    * Rows EQUAL to the threshold are kept: when the percentile lands on a
    * tied data value both engines compute it exactly (v + f·0), and when
    * it interpolates strictly between two 6-dp-rounded scores no data row
    * can sit within float error of it — either way the kept set is
    * engine-stable.
    */
  def keepAbovePercentile(df: org.apache.spark.sql.DataFrame, scoreCol: String,
                          dropFrac: Double): org.apache.spark.sql.DataFrame = {
    require(dropFrac > 0 && dropFrac < 1, "dropFrac must be in (0, 1)")
    val thr = df.agg(expr(s"percentile($scoreCol, $dropFrac)").as("_thr"))
    df.crossJoin(broadcast(thr)).filter(col(scoreCol) >= col("_thr")).drop("_thr")
  }

  /** [[keepAbovePercentile]] with a mergeable approximate threshold — the
    * 100 TB form. Exact `percentile` is a sort-based aggregate that must
    * hold EVERY score on one reducer; `approx_percentile` is a
    * bounded-memory quantile sketch whose partials merge, so the
    * threshold pass scales like any other aggregation. The kept set is
    * within the sketch's rank-error band of the exact gate (spec-pinned
    * at `accuracy` = 1/eps); not oracle-hashable by design — the oracle
    * path keeps the exact form, production corpora use this one.
    */
  def keepAbovePercentileApprox(df: org.apache.spark.sql.DataFrame,
                                scoreCol: String, dropFrac: Double,
                                accuracy: Int = 10000): org.apache.spark.sql.DataFrame = {
    require(dropFrac > 0 && dropFrac < 1, "dropFrac must be in (0, 1)")
    val thr = df.agg(
      expr(s"approx_percentile($scoreCol, $dropFrac, $accuracy)").as("_thr"))
    df.crossJoin(broadcast(thr)).filter(col(scoreCol) >= col("_thr")).drop("_thr")
  }

  /** BPE-ish token count: word pieces of <=4 chars via regex matching —
    * a deterministic proxy for subword token counts.
    */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("[a-z]{1,4}|[A-Z]{1,4}|[0-9]{1,3}|[^a-zA-Z0-9 ]"))

  /** Smoothed inverse document frequency ln((N+1)/(df+1)) — the classic
    * TF-IDF weighting (reference for the formula: Sparck Jones 1972 /
    * the Lucene ClassicSimilarity docs). Exact-integer inputs through one
    * `ln`, so the double is bit-reproducible by the DuckDB oracle.
    */
  def idf(nDocs: Column, df: Column): Column =
    log((nDocs + 1).cast("double") / (df + 1))

  /** BM25 contribution of one query term (Robertson/Okapi, k1=1.2 b=0.75):
    * idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) with the probabilistic
    * idf ln(1 + (N - df + 0.5)/(df + 0.5)). Callers add per-term
    * contributions in a FIXED textual order (not a double `sum()`
    * aggregation) so the result is order-independent and oracle-hashable.
    */
  def bm25Term(tf: Column, df: Column, nDocs: Column, dl: Column,
               avgdl: Column, k1: Double = 1.2, b: Double = 0.75): Column =
    log(lit(1.0) + (nDocs - df + 0.5) / (df + 0.5)) *
      (tf * (k1 + 1)) /
      (tf + lit(k1) * (lit(1.0) - b + lit(b) * dl / avgdl))

  /** PII patterns — kept to constructs with identical semantics in Java
    * regex (Spark) and RE2 (DuckDB oracle): character classes + bounded
    * repetition, no lookaround, no backreferences.
    */
  val emailRe: String = "[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val phoneRe: String = "\\+[0-9]{2}-[0-9]{3}-[0-9]{4}"

  /** PII scrubbing: emails then phone numbers replaced by typed tags — one
    * vectorized regex pass each, embarrassingly parallel at any scale.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailRe, "<EMAIL>"),
      phoneRe, "<PHONE>")

  /** Language-ID marker dictionaries (n-gram heuristic): score = marker-token
    * hits per language; argmax with alphabetical tie-break.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "und", "nicht"),
    "en" -> Seq("the", "a", "and", "is"),
    "es" -> Seq("el", "la", "que", "de"),
    "fr" -> Seq("le", "la", "et", "est"),
    "zh" -> Seq("shi", "de", "le", "bu"))

  def langScoreOf(toks: Column, lang: String): Column =
    size(filter(toks, t => t.isin(langMarkers(lang): _*)))

  /** Predicted language from a token column: max marker score, ties broken
    * alphabetically (fold keeps the earlier language unless strictly
    * beaten).
    */
  def predictedLangOf(toks: Column): Column = {
    val scored = langMarkers.keys.toSeq.sorted.map(l => (l, langScoreOf(toks, l)))
    scored.tail.foldLeft((lit(scored.head._1), scored.head._2)) {
      case ((bestLang, bestScore), (l, sc)) =>
        (when(sc > bestScore, lit(l)).otherwise(bestLang),
         when(sc > bestScore, sc).otherwise(bestScore))
    }._1
  }

  def predictedLang(text: Column): Column = predictedLangOf(tokens(text))
}
