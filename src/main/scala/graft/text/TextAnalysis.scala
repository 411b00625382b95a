package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis kit for large-scale training-data pipelines (north-star
  * ops beyond the reference surface; SURVEY.md §7 step 8): language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * `Column` compositions of codegen'd built-ins — no UDFs — so the whole
  * pipeline stays inside whole-stage codegen and scales linearly with
  * executors (per-row ops, no shuffle).
  */
object TextAnalysis {

  /** Whitespace tokens of trimmed text. The separator is the EXPLICIT
    * class `[ \t\n\r\f]` — exactly RE2's `\s` — rather than Java's
    * `\s` (which additionally matches U+000B vertical tab), so the
    * engine and a DuckDB `\s+` oracle tokenize identically on EVERY
    * input, VT-bearing text included (the adversarial-fixture gate
    * exposed the old divergence poisoning corpus-wide stats like
    * BM25's avgdl through one hostile doc). Spark `split` and DuckDB
    * `string_split_regex` also agree on the edges: both keep leading
    * AND trailing empty tokens, and both `trim` strip spaces only.
    *
    * DELIBERATE regex-split convention: empty/whitespace-only text
    * tokenizes to ONE empty token (`split("", ..) == [""]`), so
    * tokenCount("") is 1, not 0. Every oracle spells the same
    * `string_split_regex(trim(..))` and shares the convention —
    * "fixing" one side would be an invisible parity break on blank
    * docs across every token-consuming query. Filter blank docs
    * upstream (`length(trim(text)) > 0`) where 0 is the count you
    * want; [[subwordCount]] (0 for blank) and [[gptPattern]] counts
    * (0 matches) intentionally differ.
    */
  def tokens(text: Column): Column = split(trim(text), "[ \\t\\n\\r\\f]+")

  /** Token count (whitespace tokenization). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: tokens plus extra units for long words
    * (a word of length L costs ceil(L/4) units — a cheap stand-in for
    * byte-pair segmentation that needs no vocab).
    */
  def subwordCountT(toks: Column): Column =
    aggregate(toks, lit(0),
      (acc, t) => acc + ceil(length(t) / lit(4.0)).cast("int"))

  def subwordCount(text: Column): Column = subwordCountT(tokens(text))

  /** GPT-2-style pretokenizer pattern (no-lookahead form): English
    * contraction suffixes, space-prefixed letter runs, digit runs,
    * punctuation runs, leftover whitespace. Pure alternation — valid
    * and leftmost-first in both Java regex and RE2, so Spark and
    * DuckDB tokenize identically. Whitespace is the EXPLICIT class
    * `[ \t\n\r\f\x0B]` rather than `\s`, because the two engines
    * disagree on `\s` at the edges (Java includes U+000B vertical
    * tab, RE2 does not) — the explicit class is the Java `\s` set
    * spelled out, identical in both.
    */
  val gptPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+" +
      "| ?[^ \\t\\n\\r\\f\\x0B\\p{L}\\p{N}]+|[ \\t\\n\\r\\f\\x0B]+"

  /** BPE-style pretokens of `text` under [[gptPattern]] — the unit a
    * real BPE tokenizer would split further against its vocab; counting
    * these is the standard pre-training token-budget estimate.
    */
  def gptTokens(text: Column): Column =
    regexp_extract_all(text, lit(gptPattern), lit(0))

  /** Deterministic MLM-style token masking (denoising corpus prep):
    * token i of document `id` is replaced by `maskTok` iff the first
    * two hex chars of md5(id:i) fall below the rate gate — the same
    * engine-reproducible md5 recipe as text.Sampling, so masks are
    * stable across runs, partitionings, and engines (no RNG state to
    * carry). `rate256` is the gate in 1/256ths (38 ≈ 15%). Returns a
    * struct(masked, n_masked); pure map-side expression.
    *
    * The token array must be a PROJECTED COLUMN (attribute), not an
    * inline split — lambda bodies re-evaluate their subtrees per
    * element (see Scoring.bigramFluency).
    */
  def maskTokens(id: Column, toks: Column, rate256: Int,
      maskTok: String = "<mask>"): Column = {
    require(rate256 >= 0 && rate256 <= 256, s"rate256=$rate256 out of range")
    // "g" sorts above every hex digit -> rate 256 masks everything;
    // %02x alone would render 256 as "100", which lpad-style
    // truncation to 2 chars turns into a 1/16 gate
    val gateHex = if (rate256 >= 256) lit("g") else lit(f"$rate256%02x")
    // empty-array guard: sequence(1, 0) counts DOWN to [1, 0] and
    // zip_with pads toks with null, which would mask up to 2 phantom
    // tokens — same trap bigramsT branches on
    def gateAt(i: Column): Column =
      substring(md5(concat(id.cast("string"), lit(":"), i.cast("string"))), 1, 2)
        .lt(gateHex)
    val masked = when(size(toks) >= 1,
      zip_with(toks, sequence(lit(1), size(toks)),
        (tok, i) => when(gateAt(i), lit(maskTok)).otherwise(tok)))
      .otherwise(array().cast("array<string>"))
    // n_masked counts the GATE, not output tokens equal to maskTok: a
    // document whose text already contains the literal mask token
    // (scraped model docs, prior denoising output) must not inflate
    // the reported replacement count
    val nMasked = when(size(toks) >= 1,
      size(filter(sequence(lit(1), size(toks)), i => gateAt(i))))
      .otherwise(lit(0))
    struct(
      concat_ws(" ", masked).as("masked"),
      nMasked.cast("long").as("n_masked"))
  }

  /** Overlapping character chunks (retrieval/context-window prep):
    * chunk i starts at 1 + i·(size − overlap) and spans `size` chars;
    * starts run to len − overlap so the final (possibly short) chunk
    * always reaches the end of the text, and every text yields at
    * least one chunk (empty text → one empty chunk — drop upstream if
    * unwanted). Returns an array of chunk strings in document order;
    * pair with posexplode for (chunk_idx, chunk) rows. Pure map-side
    * expression: chunking a 100 TB corpus shuffles nothing.
    */
  def chunks(text: Column, size: Int, overlap: Int): Column = {
    require(size > overlap && overlap >= 0,
      s"need size > overlap >= 0, got size=$size overlap=$overlap")
    val stride = size - overlap
    transform(
      sequence(lit(1), greatest(length(text) - overlap, lit(1)), lit(stride)),
      start => text.substr(start, lit(size)))
  }

  /** Tiny per-language stopword inventories for the n-gram/stopword
    * language-ID heuristic. Deliberately small and deterministic.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "mit"),
    "es" -> Seq("el", "la", "de", "y", "es", "un", "en", "que"),
    "fr" -> Seq("le", "la", "et", "est", "un", "une", "dans", "que"))

  /** Count of tokens that appear in `words`. Pass a PRE-SPLIT tokens
    * column when calling repeatedly: higher-order functions run
    * interpreted (outside codegen CSE), so an inlined `split` would be
    * re-evaluated per call site.
    */
  def stopwordHitsT(toks: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(set, t)))
  }

  def stopwordHits(text: Column, words: Seq[String]): Column =
    stopwordHitsT(tokens(text), words)

  /** Heuristic language ID: the language with the most stopword hits;
    * 'und' (undetermined) when no stopword matches. Ties break by
    * inventory order (en, de, es, fr).
    */
  def langIdT(toks: Column): Column = {
    val hits = stopwords.map { case (lang, words) => lang -> stopwordHitsT(toks, words) }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.foldRight(lit("und"): Column) { case ((lang, h), acc) =>
      when(h === best && best > 0, lang).otherwise(acc)
    }
  }

  def langId(text: Column): Column = langIdT(tokens(text))

  /** Quality score in [0,1]: blends token-length sanity, alpha ratio,
    * punctuation-terminated text, and stopword density — the standard
    * cheap pre-training filters (length/punct/stopword ratios).
    * Per-row scalar arithmetic only: deterministic across engines.
    */
  def qualityScoreT(text: Column, toks: Column): Column = {
    val t = trim(text)
    val nTok = size(toks).cast("double")
    val nChars = length(t).cast("double")
    val meanTokLen = when(nTok > 0, nChars / nTok).otherwise(lit(0.0))
    val lenOk = when(nTok >= 10 && nTok <= 100000, 1.0).otherwise(0.0)
    val tokLenOk = when(meanTokLen >= 3 && meanTokLen <= 12, 1.0).otherwise(0.0)
    val alphaRatio = when(nChars > 0,
      length(regexp_replace(t, "[^a-zA-Z ]", "")).cast("double") / nChars)
      .otherwise(lit(0.0))
    val stopRatio = when(nTok > 0,
      stopwordHitsT(toks, stopwords.flatMap(_._2)).cast("double") / nTok)
      .otherwise(lit(0.0))
    lenOk * 0.25 + tokLenOk * 0.25 + alphaRatio * 0.25 +
      least(stopRatio * lit(5.0), lit(1.0)) * 0.25
  }

  def qualityScore(text: Column): Column = qualityScoreT(text, tokens(text))

  /** Document fingerprint: polynomial rolling hash of the normalized
    * text (lowercase, collapsed whitespace), mod 1e9+7 so the value
    * is engine-portable (no 64-bit overflow semantics involved).
    */
  def fingerprint(text: Column): Column = {
    val norm = lower(trim(regexp_replace(text, "[ \\t\\n\\r\\f]+", " ")))
    // native codegen'd rolling hash — O(n) single pass; the equivalent
    // higher-order-function form (per-index substr) is O(n²) interpreted
    graft.functions.PolyHash(norm)
  }

  /** C4-style within-document repetition removal: drop every line
    * after its first occurrence, preserving order. Quadratic in line
    * count per document (fine: documents have tens of lines; the
    * pathological case is the corpus, not the doc) and pure Column
    * arithmetic — no shuffle, no UDF.
    */
  def dedupeLines(text: Column, sep: String = "\n"): Column = {
    val l = split(text, java.util.regex.Pattern.quote(sep))
    // keep element i (0-based) iff it's absent from elements 0..i-1
    array_join(
      filter(l, (x, i) => !array_contains(slice(l, lit(1), i), x)), sep)
  }

  /** PII scrubbing: redact email addresses and NNN-NNN-NNNN phone
    * numbers (ASCII patterns chosen to behave identically under Java
    * regex and RE2, so the redaction is engine-reproducible).
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b", "<PHONE>")

  /** Adjacent word bigrams of a token array, space-joined, in document
    * order WITH repeats (repetition signals need the multiset, unlike
    * the dedup shingle SETS).
    *
    * Implementation: zip the array with its shifted self rather than
    * indexing element_at(t, i) per position — each element_at
    * re-evaluates the array subtree, turning tokenization O(len) into
    * O(len²) per doc (measured ~6× slower at sf0.1 in bigramFluency,
    * which this is the shared helper for). zip_with pads the shorter
    * side with null; the final slice drops that (t_n, null) tail pair
    * before it can surface.
    */
  def bigramsT(toks: Column): Column =
    when(size(toks) >= 2,
      slice(zip_with(toks, slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b)), lit(1), size(toks) - 1))
      .otherwise(array().cast("array<string>"))

  /** Fraction of elements that are repeats of an earlier element:
    * (n - n_distinct) / n, 0.0 for an empty array. Integer counts in
    * double, one division — engine-exact.
    */
  def dupFraction(arr: Column): Column =
    when(size(arr) > 0,
      (size(arr).cast("double") - size(array_distinct(arr)).cast("double"))
        / size(arr).cast("double"))
      .otherwise(0.0)

  /** Character-class mix diversity: struct(simpson, top_share) over the
    * 5-way class distribution {lowercase, uppercase, digit, whitespace,
    * other}. `simpson` is the Simpson diversity index 1 - Σ pᵢ² (0 =
    * one class only, 0.8 = uniform over 5); `top_share` is the largest
    * class's fraction. A near-zero simpson / near-one top_share flags
    * gibberish runs, base64 blobs, and separator walls — the cheap
    * char-level screen next to [[qualityScoreT]]'s token-level one.
    *
    * Simpson instead of Shannon entropy ON PURPOSE: 1 - Σ pᵢ² is pure
    * rational arithmetic (counts, one division each, exact IEEE ops in
    * a fixed order), so both engines produce bit-identical doubles —
    * `ln` differs in the last ulp between Java's Math.log intrinsic and
    * libm, which breaks hash-exact oracles (same reason Scoring uses
    * unlogged odds-idf). Class counts come from 4 regexp_replace strip
    * lengths: per-row, map-side, codegen'd, no explode.
    */
  def charClassDiversity(text: Column): Column = {
    // one-pass codegen census [n, lo, up, di, ws] — the regex-strip
    // formulation rewrote the full text once per class (4 allocations
    // per document; measured 3.2 s -> sub-second on the sf0.1 screen).
    // Values are identical: ASCII classes, codepoint-counted n
    val cc = org.apache.spark.sql.GraftShim.column(
      graft.functions.CharClassCounts(
        org.apache.spark.sql.GraftShim.expression(text)))
    val n = cc.getItem(0).cast("double")
    val lowerC = cc.getItem(1).cast("double")
    val upperC = cc.getItem(2).cast("double")
    val digitC = cc.getItem(3).cast("double")
    val wsC = cc.getItem(4).cast("double")
    val otherC = n - lowerC - upperC - digitC - wsC
    def share(c: Column): Column = when(n > 0, c / n).otherwise(lit(0.0))
    val shares = Seq(lowerC, upperC, digitC, wsC, otherC).map(share)
    val simpson = lit(1.0) - shares.map(p => p * p).reduce(_ + _)
    struct(
      when(n > 0, simpson).otherwise(lit(0.0)).as("simpson"),
      greatest(shares: _*).as("top_share"))
  }
}
