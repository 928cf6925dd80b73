package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis expression library for the training-data-pipeline
  * surface (language id, quality scoring, token counting, shingling,
  * fingerprinting, MinHash/SimHash primitives).
  *
  * Design rule: every hash is md5 (identical hex output in Spark and
  * DuckDB), every tokenizer is a plain regex — so each operator has an
  * exact SQL oracle and behaves identically on any engine. All
  * functions are `Column` compositions (codegen'd, no UDFs), so they
  * distribute trivially: per-document work with no shuffle.
  */
object text {

  /** Whitespace tokenizer (documents are single-space separated). */
  def tokens(t: Column): Column = split(t, " ")

  /** BPE-ish tokenizer: maximal alphanumeric runs. */
  def wordTokens(t: Column): Column = regexp_extract_all(lower(t), lit("[a-z0-9]+"), lit(0))

  /** Token count (whitespace). */
  def nTokens(t: Column): Column = size(tokens(t)).cast("long")

  /** Canonical normalization for fingerprinting: lowercase, strip
    * non-alphanumerics, collapse whitespace. Native one-char-pass
    * expression ([[graft.expressions.NormalizeText]]); the two-regex
    * composed twin [[normalizeComposed]] is what the DuckDB oracle
    * runs and what ScalarsSpec pins this equal to. */
  def normalize(t: Column): Column = call_function("graft_normalize", t)

  /** Regex form of [[normalize]] — the oracle/spec twin (2.6s of pure
    * regex at the 10× corpus, so never on the hot path). */
  def normalizeComposed(t: Column): Column =
    trim(regexp_replace(regexp_replace(lower(t), "[^a-z0-9 ]", ""), " +", " "))

  /** HTML → text extraction (script/style/comment blocks dropped with
    * content, tags stripped to a space, entities decoded, whitespace
    * collapsed) — the crawl front door. Native one-pass expression
    * ([[graft.expressions.HtmlExtract]]); [[htmlExtractComposed]] is
    * the regex-chain twin the oracle replays and ScalarsSpec pins
    * this equal to. */
  def htmlExtract(t: Column): Column = call_function("graft_html_extract", t)

  /** Composed-builtins form of [[htmlExtract]] for the NAMED-entity
    * subset (numeric entities need the kernel; spec-tested there):
    * 4 regex passes + 6 replaces — the oracle shape, never the hot
    * path. Unterminated constructs drop to end-of-input on both
    * forms (the `|$` arms), so the twins agree on malformed markup. */
  def htmlExtractComposed(t: Column): Column = {
    // script/style/comment AND the generic tag in ONE leftmost-first
    // alternation pass — separate global passes disagree with the
    // kernel's single left-to-right scan on pathological inputs (a
    // <script> literal inside a <style> block; a <script> opener
    // inside an unclosed generic tag's interior); leftmost-first
    // alternation with the generic arm LAST replays the scan order
    // exactly, in Java regex and RE2 alike
    val noTags = regexp_replace(t,
      "(?is)(<script\\b[^>]*(>.*?(</script\\s*>|$)|$)" +
        "|<style\\b[^>]*(>.*?(</style\\s*>|$)|$)" +
        "|<!--.*?(-->|$)" +
        "|<[^>]*(>|$))", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&apos;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) =>
        regexp_replace(c, java.util.regex.Pattern.quote(from), to) }
    trim(regexp_replace(ent, "[ \\t\\n\\r\\f]+", " "))
  }

  /** PII redaction for training-data scrubbing: emails then phone-like
    * digit runs replaced by typed placeholder tokens. Patterns stay in
    * the regex subset Java and RE2 (DuckDB) evaluate identically, so
    * the operator is oracle-checkable; emails are rewritten FIRST so a
    * long digit run inside a local-part can't be half-eaten by the
    * phone pass. Deliberately conservative (no names/addresses — those
    * need NER, out of an expression's league); the point is the
    * codegen'd scan-stage shape: redaction is per-row map work, no
    * shuffle, runs inside the same WholeStageCodegen span as the
    * quality/language filters it precedes. */
  def redactPii(t: Column): Column =
    regexp_replace(
      regexp_replace(t, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "\\+?[0-9][0-9 ()-]{6,}[0-9]", "<PHONE>")

  /** Document fingerprint = md5 of normalized text (exact near-layout
    * dedup key). Non-Latin text whose normalized form is empty falls
    * back to hashing the raw text — otherwise every CJK/Cyrillic doc
    * would collapse onto the single key md5(""). One md5 over the
    * selected input, not one per branch. */
  def fingerprint(t: Column): Column = {
    val norm = normalize(t)
    md5(when(length(norm) === 0, t).otherwise(norm))
  }

  /** Polynomial rolling-hash document fingerprint: fold tokens
    * left-to-right as h' = (h*31 + v(tok)) mod (2^31 - 1), with the
    * per-token value v = ascii(first) + 131*ascii(last) + 7*length.
    * Order-SENSITIVE (unlike the bag-of-shingles MinHash) and
    * incremental — appending a token updates the hash in O(1), the
    * property a streaming ingest fingerprint needs. [[fingerprint]]
    * (md5) stays the collision-robust dedup key; this is the cheap
    * sequential form. All integer arithmetic: identical in any
    * engine. Bound: h < 2^31, 31*h + v < 2^36 — no 64-bit overflow.
    * aggregate() evaluates interpreted (one fold per document — off
    * the hot path; the per-token md5 pipelines stay codegen'd). */
  def rollingFingerprint(t: Column): Column = {
    val vals = transform(tokens(t), tk =>
      (ascii(tk) + lit(131) * ascii(reverse(tk)) + lit(7) * length(tk)).cast("long"))
    aggregate(vals, lit(0L), (acc, v) => pmod(acc * lit(31L) + v, lit(2147483647L)))
  }

  /** SimHash over 16 md5-hex-digit bits: for a token's md5 hex and bit
    * b, the b-th hex digit's high bit votes +1/-1; document bit b is
    * the sign of the vote sum. Takes the PRE-COMPUTED md5 hex (compute
    * it once per token; 16 votes then share it). Use under a groupBy:
    * `simhashBitVote(md5(tok), b)` then combine with
    * [[simhashFromVotes]]. */
  def simhashBitVote(tokenMd5Hex: Column, b: Int): Column = {
    val hexDigit = substring(tokenMd5Hex, b + 1, 1)
    when(hexDigit.isin("8", "9", "a", "b", "c", "d", "e", "f"), lit(1)).otherwise(lit(-1))
  }

  /** Combine 16 per-bit vote sums into the simhash value. */
  def simhashFromVotes(votes: Seq[Column]): Column =
    votes.zipWithIndex.map { case (v, b) =>
      when(v > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Hamming distance between two simhash longs (bit_count of xor). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b)).cast("long")

  private val enStopwords = Seq("the", "a", "of", "and", "in", "to", "is", "on", "for", "with")

  /** Stopword ratio — quality / language-id signal. */
  def stopwordRatio(t: Column): Column = {
    val toks = tokens(t)
    val hits = size(filter(toks, tk => tk.isin(enStopwords.map(lit): _*).cast("boolean")))
    hits.cast("double") / size(toks).cast("double")
  }

  /** Mean token length (quality signal). */
  def meanTokenLen(t: Column): Column =
    length(regexp_replace(t, " ", "")).cast("double") / nTokens(t).cast("double")

  /** Heuristic quality score in [0,1]: blend of length saturation,
    * stopword presence and token-length sanity (the reference-free
    * analog of a Gopher-style quality rule set). */
  def qualityScore(t: Column): Column = {
    val lenScore = least(length(t).cast("double") / lit(500.0), lit(1.0))
    val swScore = least(stopwordRatio(t) * lit(5.0), lit(1.0))
    val tlen = meanTokenLen(t)
    val tlenScore = when(tlen.between(3.0, 10.0), lit(1.0)).otherwise(lit(0.0))
    lenScore * lit(0.4) + swScore * lit(0.4) + tlenScore * lit(0.2)
  }

  /** N-gram-profile language id: score a text against per-language
    * marker token sets; emit the argmax language. Deterministic,
    * SQL-expressible (CASE over ratios). `profiles` maps lang ->
    * marker tokens. */
  def langId(t: Column, profiles: Seq[(String, Seq[String])], default: String = "unk"): Column = {
    val toks = tokens(t)
    val n = size(toks).cast("double")
    val scores = profiles.map { case (lang, markers) =>
      val hits = size(filter(toks, tk => tk.isin(markers.map(lit): _*).cast("boolean")))
      (lang, hits.cast("double") / n)
    }
    // argmax with first-wins tie-break (stable, engine-agnostic):
    // a CASE chain in profile order — foldRight, NOT a foldLeft that
    // re-compares the accumulator (which emits a trivially-true
    // predicate on the first step and breaks if a profile is ever
    // named like the default)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit(default)) { case ((lang, s), acc) =>
      when(s === best && s > 0.0, lit(lang)).otherwise(acc)
    }
  }
}
