package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for training-data pipelines: tokenizing,
  * shingling, quality counters, normalization/fingerprinting, language ID.
  *
  * Everything except langId is pure `org.apache.spark.sql.functions`
  * composition (codegen'd, no UDF). The reference has no scalar-function
  * layer (SURVEY.md §2.9); these are the beyond-reference ops the engine
  * adds for LLM-data work.
  */
object Text {

  /** Whitespace tokens (single-space split, empties dropped) — kept
    * deliberately simple so the semantics are expressible in any SQL
    * dialect for oracle checks.
    */
  def tokens(c: Column): Column =
    filter(split(c, " "), t => t =!= lit(""))

  def tokenSet(c: Column): Column = array_distinct(tokens(c))

  /** Token count via the codegen'd [[TokenCount]] expression — same
    * semantics as `size(tokens(c))` (property-tested equal) without
    * materializing two arrays per row; the hottest scalar in the corpus
    * gates (SCALE.md `MicroBench ntokens` A/B).
    */
  def nTokens(c: Column): Column = TokenCount.token_count(c)

  /** BPE-ish subword segmentation via one regex pass (GPT-2-family shape:
    * contraction suffix | letter run | digit run | punctuation run).
    * This is the PRE-tokenizer of a BPE pipeline — the unit whose count
    * upper-bounds the merged-BPE token count, which is what corpus token
    * budgeting needs; an actual learned merge table is model-specific and
    * out of scope. Deliberately restricted to RE2-compatible syntax (no
    * lookarounds) so the SAME pattern runs in the DuckDB oracle, and
    * evaluated with `regexp_extract_all` — codegen'd, no UDF.
    */
  val bpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s']+"

  // group 0 = the whole match (the pattern has no capturing groups)
  def bpeTokens(c: Column): Column =
    regexp_extract_all(c, lit(bpePattern), lit(0))

  def nBpeTokens(c: Column): Column = size(bpeTokens(c)).cast("long")

  /** Distinct n-word shingles ("n-grams of words"), the standard unit for
    * near-duplicate detection: unigram sets saturate on small vocabularies
    * while bigrams/trigrams keep discriminating.
    *
    * PERF: evaluate this on a *materialized token array column*
    * (`shinglesOfTokens`), not directly on the text — a non-trivial token
    * expression referenced inside the `transform` lambda is re-evaluated
    * per element by Catalyst, turning the shingle step O(tokens²) per row.
    */
  def shinglesOfTokens(t: Column, n: Int): Column = {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    val grams = transform(sequence(lit(0), size(t) - n), i =>
      concat_ws(" ", (1 to n).map(j => element_at(t, i + j)): _*))
    when(size(t) < n, array().cast("array<string>"))
      .otherwise(array_distinct(grams))
  }

  /** Convenience form for small inputs/tests; see perf note above. */
  def shingles(c: Column, n: Int): Column = shinglesOfTokens(tokens(c), n)

  /** ALL n-gram occurrences in document order (multiplicity kept) — the
    * occurrence stream that repetition statistics need, where
    * [[shinglesOfTokens]]'s distinct set would erase exactly the signal
    * being measured. Same perf contract: evaluate on a materialized token
    * array column.
    */
  def ngramsOfTokens(t: Column, n: Int): Column = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val grams = transform(sequence(lit(0), size(t) - n), i =>
      concat_ws(" ", (1 to n).map(j => element_at(t, i + j)): _*))
    when(size(t) < n, array().cast("array<string>")).otherwise(grams)
  }

  /** Count of characters matching a regex character class. */
  def countMatches(c: Column, charClass: String): Column =
    (length(c) - length(regexp_replace(c, charClass, ""))).cast("long")

  def punctCount(c: Column): Column = countMatches(c, "[^a-zA-Z0-9 ]")
  def digitCount(c: Column): Column = countMatches(c, "[0-9]")
  def upperCount(c: Column): Column = countMatches(c, "[A-Z]")

  /** Canonical text form for fingerprinting: lowercase, strip non-alnum,
    * collapse runs of spaces, trim.
    */
  def normalize(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  /** Stable 32-hex document fingerprint of the normalized text. */
  def fingerprint(c: Column): Column = md5(normalize(c))

  /** 64-bit rolling-hash fingerprint (native codegen'd expression). */
  def rollingFingerprint(c: Column): Column =
    RollingHash.rolling_hash(normalize(c))

  /** Heuristic quality score in [0,1]: token count (saturating at 100),
    * penalized by punctuation density and out-of-range mean token length.
    * Deliberately simple/deterministic; weights are not tuned to any
    * proprietary scorer.
    */
  def qualityScore(c: Column): Column = {
    val nTok = size(tokens(c))
    val meanLen = length(regexp_replace(c, " ", "")).cast("double") /
      greatest(nTok, lit(1)).cast("double")
    val punctRatio = punctCount(c).cast("double") /
      greatest(length(c), lit(1)).cast("double")
    val lengthTerm = least(nTok.cast("double") / 100.0, lit(1.0))
    val lenOk = when(meanLen.between(2.0, 12.0), lit(1.0)).otherwise(lit(0.5))
    when(nTok === 0, 0.0).otherwise(lengthTerm * (lit(1.0) - punctRatio) * lenOk)
  }

  /** Stopword tables for the n-gram/stopword language-ID heuristic. Public
    * knowledge (most-frequent function words per language).
    */
  private val stopwords: Map[String, Set[String]] = Map(
    "en" -> Set("the", "a", "of", "and", "to", "in", "is", "you", "that", "it", "for", "on", "with", "as"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "ich", "sie", "mit", "ein", "eine", "zu", "den", "von"),
    "fr" -> Set("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour", "des", "du", "il", "ne"),
    "es" -> Set("el", "los", "las", "de", "y", "es", "un", "una", "en", "que", "por", "con", "no", "se"))

  /** Language ID: CJK codepoint check first (=> "zh"), then stopword-hit
    * argmax over the tables above; "und" when nothing matches. Ties break
    * lexicographically so the result is deterministic.
    */
  private[graft] val langIdF = (text: String) => {
    if (text == null) "und"
    else if (text.exists(ch => ch >= '一' && ch <= '鿿')) "zh"
    else {
      val toks = text.split(" ").iterator.filter(_.nonEmpty).map(_.toLowerCase).toSeq
      val scores = stopwords.view.mapValues(sw => toks.count(sw.contains)).toMap
      val best = scores.filter(_._2 > 0)
      if (best.isEmpty) "und"
      else best.toSeq.sortBy { case (lang, hits) => (-hits, lang) }.head._1
    }
  }
  private[graft] val langIdUdf = udf(langIdF)

  def langId(c: Column): Column = langIdUdf(c)

  /** Canonical URL DEDUP KEY — the URL-level dedup step of a crawl
    * pipeline: the same page arrives as `HTTPS://WWW.Host.COM/p/?b=2&a=1
    * #frag` and `https://host.com/p?a=1&b=2&utm_source=x`, and every
    * downstream group-by treats them as different documents until
    * canonicalized. Rules (each an engine-portable string op, shared with
    * the oracle): strip the fragment; lowercase scheme and host; strip a
    * leading `www.`; strip trailing slashes from the path; drop tracking
    * parameters (`utm_*`, `gclid`, `fbclid`, `ref`); sort the remaining
    * query parameters bytewise. Ports are DROPPED (parse_url HOST
    * excludes them) — this is a dedup KEY, not a fetchable address.
    * UNPARSEABLE URLs (schemeless or malformed — `parse_url` HOST is
    * null, common in real crawl data) canonicalize to THEMSELVES: without
    * the fallback the null host would null-propagate through the concat
    * and every malformed URL would share one null dedup key, silently
    * collapsing unrelated documents in any min-id-per-key keep.
    * Pure per-row Column expression; idempotent (spec-pinned).
    */
  def canonicalUrl(c: Column): Column = {
    // try_parse_url, not parse_url: a malformed crawl URL must yield a
    // null (-> the raw-URL fallback below), not fail the whole stage
    val noFrag = regexp_replace(c, "#.*$", "")
    val proto = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host = regexp_replace(lower(try_parse_url(noFrag, lit("HOST"))), "^www\\.", "")
    val path = regexp_replace(coalesce(try_parse_url(noFrag, lit("PATH")), lit("")),
      "/+$", "")
    val keep = filter(split(coalesce(try_parse_url(noFrag, lit("QUERY")), lit("")), "&"),
      p => p =!= "" && !p.rlike("^(utm_[A-Za-z0-9_]*|gclid|fbclid|ref)="))
    val qs = array_join(array_sort(keep), "&")
    coalesce(
      concat(proto, lit("://"), host, path,
        when(qs === "", lit("")).otherwise(concat(lit("?"), qs))),
      c)
  }

  /** Unicode NFC normalization (canonical composition) — the first step of
    * any cross-source text pipeline: the same visible string arrives both
    * precomposed (é = U+00E9) and decomposed (e + U+0301) from different
    * crawlers/OCR, and every downstream hash/dedup/join treats them as
    * different documents until normalized. `java.text.Normalizer` ships in
    * the JDK and implements the Unicode standard, so results agree with
    * any conformant engine (the oracle uses DuckDB's `nfc_normalize`).
    * Pure map stage (null-safe UDF); at 100 TB this rides the scan like
    * the PII scrub.
    */
  private[graft] val nfcUdf = udf((s: String) =>
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))

  def nfcNormalize(c: Column): Column = nfcUdf(c)
}
