package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level operations a large-scale training-data pipeline needs on top
  * of the per-document text functions in [[Text]]: benchmark-contamination
  * detection, corpus frequency analysis (heavy hitters), PII scrubbing,
  * exact stratified sampling, and per-document repetition signals.
  *
  * The reference has no text layer at all (SURVEY.md §2.9); these are
  * beyond-reference ops, all built from codegen'd `sql.functions` so the
  * exact semantics can be re-expressed in the DuckDB oracle.
  */
object Corpus {

  /** Documents of `train` that share at least one distinct `n`-word shingle
    * with any document of `bench` — the standard n-gram decontamination
    * check run before training on a scraped corpus (n = 8..13 in published
    * pipelines; small n flags common phrases, large n only real copies).
    *
    * Returns one row per contaminated train document:
    * `(<idCol>, n_contaminated)` where n_contaminated counts the distinct
    * overlapping shingles.
    *
    * 100 TB posture: the benchmark side is distinct-reduced and broadcast
    * (eval sets are ~10⁵..10⁷ shingles — megabytes, not terabytes), so the
    * train side is ONE scan + explode with a map-side broadcast semi-join;
    * only (id, gram) rows that actually hit reach the final per-doc
    * aggregate's shuffle. Pass `broadcastBench = false` for an oversized
    * benchmark side and the same plan degrades to a shuffled hash join on
    * the gram key.
    */
  def contaminatedDocs(train: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int,
      broadcastBench: Boolean = true): DataFrame = {
    // materialize the token array BEFORE shingling: a token expression
    // referenced inside the shingle lambda is re-evaluated per element,
    // turning the scan O(tokens²) per row (perf note in Text.scala —
    // measured 12 s vs 0.9 s on the sf0.1 gate)
    val trainGrams = train
      .select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        explode(Text.shinglesOfTokens(col("__toks"), n)).as("gram"))
    val benchGrams0 = bench
      .select(Text.tokens(col(benchTextCol)).as("__toks"))
      .select(explode(Text.shinglesOfTokens(col("__toks"), n)).as("gram"))
      .distinct()
    val benchGrams = if (broadcastBench) broadcast(benchGrams0) else benchGrams0
    trainGrams.join(benchGrams, "gram")
      .groupBy(col(idCol))
      .agg(countDistinct(col("gram")).as("n_contaminated"))
  }

  /** [[contaminatedDocs]] with a Bloom-filter prefilter — the 100 TB shape
    * for when the benchmark side is too large to broadcast as a set but its
    * BLOOM FILTER still fits anywhere (~10 bits/gram at 1% fpp: 10⁸ grams ≈
    * 120 MB vs tens of GB of strings). The train side is prefiltered
    * map-side with `mightContain` (no shuffle, no join), and only the
    * survivors — true hits + an fpp-sized sliver of false positives — reach
    * the exact gram join. The RESULT IS EXACT for any fpp: the Bloom pass
    * only shrinks the join input, the verification join removes every false
    * positive (same output, and same oracle, as [[contaminatedDocs]]).
    *
    * `fpp` trades filter size against wasted join traffic; 1% keeps the
    * verify join within ~1% of the true-hit volume.
    */
  def contaminatedDocsBloom(train: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int,
      fpp: Double = 0.01): DataFrame = {
    val spark = train.sparkSession
    val benchGrams = bench
      .select(Text.tokens(col(benchTextCol)).as("__toks"))
      .select(explode(Text.shinglesOfTokens(col("__toks"), n)).as("gram"))
      .distinct()
      // MEMORY_AND_DISK is fine here (SCALE.md r10 persist rule audit):
      // this is the BENCH side — small by definition, never corpus-sized.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the two eager actions: the distinct-gram count sizes the filter
    val sc = spark.sparkContext
    val nGrams = math.max(1L,
      graft.operators.Jobs.named(sc, "corpus:bench_grams")(benchGrams.count()))
    val bloom = graft.operators.Jobs.named(sc, "corpus:bloom")(
      benchGrams.stat.bloomFilter("gram", nGrams, fpp))
    val bBloom = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((g: String) => bBloom.value.mightContainString(g))
    val trainGrams = train
      .select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        explode(Text.shinglesOfTokens(col("__toks"), n)).as("gram"))
      .filter(mightContain(col("gram")))
    val out = trainGrams.join(benchGrams, "gram")
      .groupBy(col(idCol))
      .agg(countDistinct(col("gram")).as("n_contaminated"))
    graft.operators.Release.hold(benchGrams)
    out
  }

  /** Top-k most frequent whitespace tokens across the corpus, ties broken
    * by token text so the k-boundary is deterministic.
    *
    * 100 TB posture: explode → hash aggregate with map-side partial
    * (vocabulary, not corpus, crosses the shuffle) → TakeOrderedAndProject
    * (no global sort materializes the full vocabulary on one node).
    */
  def heavyHitters(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(Text.tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)

  // PII patterns — deliberately restricted to syntax that behaves
  // identically in Java regex (Spark) and RE2 (DuckDB oracle): no
  // lookarounds, no backrefs. Scrub order matters: URLs first (an email or
  // IP inside a URL is part of the URL), then emails, then IPs, then long
  // digit runs (phone/account-shaped).
  val urlRe = "https?://[^ ]+"
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val longNumRe = "\\b[0-9]{7,}\\b"

  /** Count of non-overlapping matches of `re` in `c` (codegen'd, no UDF). */
  def countRe(c: Column, re: String): Column =
    size(regexp_extract_all(c, lit(re), lit(0))).cast("long")

  /** The four scrub stages, applied in the documented order. */
  def scrubUrls(c: Column): Column = regexp_replace(c, urlRe, "<URL>")
  def scrubEmails(c: Column): Column = regexp_replace(c, emailRe, "<EMAIL>")
  def scrubIps(c: Column): Column = regexp_replace(c, ipRe, "<IP>")
  def scrubLongNums(c: Column): Column = regexp_replace(c, longNumRe, "<NUM>")

  /** Full PII scrub: URL → email → IP → long-digit-run redaction. One
    * codegen'd expression chain per row; at 100 TB this is a pure map
    * stage that pushes no data anywhere.
    */
  def scrubPii(c: Column): Column =
    scrubLongNums(scrubIps(scrubEmails(scrubUrls(c))))

  /** Exactly `k` rows per stratum, chosen deterministically: rows are
    * ranked inside each stratum by `md5(coalesce(orderCol, ''))` (a
    * seedless pseudo-random but reproducible order — the coalesce gives
    * null order values a real rank instead of silently dropping them)
    * with `idCol` as tie-break. Requires `idCol` NON-NULL and castable to
    * long (the id is carried through a primitive heap; rows whose id is
    * null or fails the cast are dropped by the heap's null filter — use
    * [[stratifiedSampleSort]] for non-castable ids); `(strataCol, idCol)`
    * must identify a row. A null STRATUM is a regular stratum (the
    * group-by keeps it and the join-back is null-safe), matching the
    * window form's null partition.
    *
    * 100 TB posture (round 9, replacing the window form kept as
    * [[stratifiedSampleSort]]): the input is first projected to
    * (stratum, md5, id) SCALARS — the corpus text never shuffles — and
    * the per-stratum selection is a bounded [[graft.operators.TopK
    * .bottomKPerKey]] heap: the partial ObjectHashAggregate caps each map
    * partition at k rows per stratum before the exchange, so shuffle
    * volume is O(k · #strata · #partitions) scalars instead of the whole
    * table, and — unlike the window, which funnels everything into
    * #strata reducer tasks (strata are sources/languages: single-digit
    * counts) — parallelism stays at #partitions. The k·#strata winners
    * broadcast back onto the input to recover the full rows.
    */
  def stratifiedSample(df: DataFrame, strataCol: String, k: Int,
      orderCol: String, idCol: String): DataFrame = {
    val keyed = df.select(col(strataCol),
      md5(coalesce(col(orderCol), lit(""))).as("__ord"),
      col(idCol).cast("long").as("__sid"))
    val winners = graft.operators.TopK
      .bottomKPerKey(keyed, Seq(strataCol), "__ord", "__sid", k)
      .select(col(strataCol).as("__strat"),
        col("rank").as("rn"), col("__sid"))
    // <=> on the stratum: a null stratum's winners must survive the
    // join-back (null === null is null, which silently vanished the
    // whole null stratum while the window form kept it).
    df.join(broadcast(winners),
        df(idCol).cast("long") === winners("__sid") &&
          (df(strataCol) <=> winners("__strat")))
      .drop("__strat", "__sid")
  }

  /** The pre-round-9 sort-based stratifiedSample — one window sort per
    * stratum. Kept as the reference CorpusSpec compares against (A/B:
    * SCALE.md, "Round-9 sampling de-sort A/B") and for
    * callers whose id is not castable to long. Same output on the same
    * input when ids are integral and non-null (CorpusSpec pins equality,
    * including null order values and a null stratum); CAVEATS of the
    * equality: a null or non-castable id is kept here but dropped by the
    * heap path, and md5-tie rows (identical order text) tie-break here on
    * the id's NATIVE ordering vs the heap's long value — for string ids
    * "10" < "9" while 10 > 9, so ties can select differently.
    */
  def stratifiedSampleSort(df: DataFrame, strataCol: String, k: Int,
      orderCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(md5(coalesce(col(orderCol), lit(""))), col(idCol))
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Exact weighted k-sample WITHOUT replacement — Efraimidis–Spirakis
    * A-Res (IPL 2006, public): each row draws u ∈ (0,1] and scores
    * u^(1/w); the k highest scores are the sample, giving inclusion
    * probability proportional to weight. The draw is a seeded integer
    * hash of the id, squared mod p (p = 1e9+7) so the seed enters
    * NON-linearly — an affine `(id·C + seed) mod p` only rotates every
    * draw by a constant, leaving selections nearly seed-invariant (caught
    * by the bias spec). All intermediates stay < 2⁶³ for any id, and the
    * DuckDB oracle re-derives the identical selection.
    *
    * 100 TB posture: score is a row-local expression; selection compiles
    * to TakeOrderedAndProject — per-partition k-heaps + driver merge of k
    * rows, never a global sort. The corpus-mixing use (sample sources
    * proportional to size/quality weights) runs one scan regardless of k.
    */
  def weightedSample(df: DataFrame, idCol: String, weight: Column, k: Int,
      seed: Long): DataFrame = {
    val p = 1000000007L
    val h1 = pmod(pmod(col(idCol) + lit(seed), lit(p)) * lit(2654435761L), lit(p))
    val h = pmod(h1 * h1, lit(p))
    val u = (h + lit(1L)).cast("double") / lit(1000000008.0)
    val score = pow(u, lit(1.0) / weight.cast("double"))
    df.withColumn("es_score", score)
      .orderBy(col("es_score").desc, col(idCol))
      .limit(k)
  }

  /** Per-document term statistics for TF-IDF-style keyword scoring:
    * one row per (document, term) with the term frequency, the term's
    * document frequency, the corpus size, and the smoothed TF-IDF score
    * `tf · (ln((N+1)/(df+1)) + 1)`.
    *
    * 100 TB posture: explode → two hash aggregates with map-side partials
    * (per-doc term counts; per-term doc counts over the already-distinct
    * (doc, term) pairs — never a countDistinct), a join against the
    * vocabulary-sized df table (AQE picks broadcast while it fits), and
    * the corpus size as a broadcast one-row aggregate — no driver action,
    * no O(N) anything on one node. Consumers ranking top-k per doc should
    * note ln() is not IEEE-exact across engines: for cross-engine-stable
    * ranking use the integer-rational score the q_tfidf gate builds from
    * tf/df/n_docs instead of the double.
    */
  def termStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df
      .select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(col("__toks")).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("doc_freq"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    tf.join(docFreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", col("tf") *
        (log((col("n_docs") + 1).cast("double") / (col("doc_freq") + 1)) + 1.0))
  }

  /** Split each document into fixed-size token chunks with overlap — the
    * context-window preparation step of a training pipeline (`window`
    * tokens per chunk, advancing by `stride`; the final chunk is the
    * trailing remainder). Chunk count is
    * `1 + ceil((n − window)/stride)` for n > window, 1 for 0 < n ≤ window,
    * 0 for empty documents — computed in integer arithmetic shared
    * verbatim with the oracle.
    *
    * Output: (<idCol>, chunk_idx, chunk_text, n_chunk_tokens).
    *
    * 100 TB posture: pure map stage — tokenize once, `slice` per chunk
    * from the materialized array (no re-tokenization per chunk), explode;
    * output size is input·(window/stride) by construction, no shuffle.
    */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"need 1 <= stride <= window, got window=$window stride=$stride")
    val toks = df.select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
    val n = size(col("__toks"))
    val nChunks = when(n === 0, lit(0))
      .when(n <= window, lit(1))
      .otherwise(expr(s"(size(__toks) - $window + ${stride - 1}) div $stride")
        .cast("int") + 1)
    toks
      .withColumn("chunk_idx",
        // sequence(0, -1) would produce a DESCENDING [0, -1], so the
        // empty-document case short-circuits to an empty array
        explode(when(nChunks === 0, array().cast("array<int>"))
          .otherwise(sequence(lit(0), nChunks - 1))))
      .withColumn("__chunk",
        slice(col("__toks"), col("chunk_idx") * stride + 1, lit(window)))
      .select(col(idCol), col("chunk_idx"),
        concat_ws(" ", col("__chunk")).as("chunk_text"),
        size(col("__chunk")).cast("long").as("n_chunk_tokens"))
  }

  /** Boilerplate segments of a corpus — the RefinedWeb/CCNet line-dedup
    * rule "drop any segment that appears in ≥ `minDocs` documents"
    * (headers, footers, nav bars, license blurbs). For a corpus that is a
    * flat token stream with no line structure, the segment convention is
    * NON-OVERLAPPING fixed windows of `segLen` tokens ([[chunkDocs]]
    * with stride = window; trailing remainder is its own segment); for
    * corpora with real newlines, [[boilerplateLines]] /
    * [[scrubBoilerplateLines]] use the line convention the published
    * pipelines define.
    *
    * Returns one row per boilerplate segment: (segment, n_docs) with
    * n_docs = the number of DISTINCT documents containing it (per-doc
    * repeats count once — document frequency, not occurrence count).
    *
    * 100 TB posture: tokenize+slice is a pure map stage; the per-doc
    * distinct and the doc-frequency count are hash aggregates with
    * map-side partials keyed on the segment text (bounded length:
    * `segLen` tokens — this is the (id, gram) shuffle shape of
    * [[contaminatedDocs]], not a full-document shuffle). Output size is
    * the high-frequency tail only.
    */
  def boilerplateSegments(df: DataFrame, idCol: String, textCol: String,
      segLen: Int, minDocs: Long): DataFrame =
    segmentDocFreq(chunkDocs(df, idCol, textCol, segLen, segLen), idCol)
      .filter(col("n_docs") >= minDocs)
      .select(col("chunk_text").as("segment"), col("n_docs"))

  /** Document frequency per segment over a [[chunkDocs]]/[[lineSegments]]
    * output.
    */
  private def segmentDocFreq(segs: DataFrame, idCol: String): DataFrame =
    segs.select(col(idCol), col("chunk_text")).distinct()
      .groupBy(col("chunk_text"))
      .agg(count(lit(1)).as("n_docs"))

  /** One row per non-empty LINE of each document — the segment convention
    * for corpora with real line structure (the RefinedWeb/CCNet rule
    * operates on lines, not token windows). `chunk_idx` is the 0-based
    * position of the line in the original `\n`-split (gaps where blank
    * lines were dropped), `chunk_text` the line verbatim — the same
    * output shape as [[chunkDocs]], so the frequency and scrub machinery
    * is shared. Blank lines (empty or space-only — `trim` strips 0x20
    * only, in Spark and DuckDB alike, so e.g. a tab-only line IS a
    * segment) are dropped: they carry no content and would otherwise be
    * trivially "boilerplate".
    *
    * 100 TB posture: a pure 1→N map (split + posexplode), zero shuffle.
    */
  def lineSegments(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("chunk_idx", "chunk_text")))
      .filter(length(trim(col("chunk_text"))) > 0)

  /** [[boilerplateSegments]] under the LINE convention: every line that
    * appears (verbatim) in ≥ `minDocs` distinct documents. Same scale
    * shape — map-stage segmentation, hash-aggregate doc frequency keyed
    * on the line text, output is the high-frequency tail only.
    */
  def boilerplateLines(df: DataFrame, idCol: String, textCol: String,
      minDocs: Long): DataFrame =
    segmentDocFreq(lineSegments(df, idCol, textCol), idCol)
      .filter(col("n_docs") >= minDocs)
      .select(col("chunk_text").as("segment"), col("n_docs"))

  /** One row per SENTENCE: text split on runs of terminal punctuation
    * followed by whitespace (`[.!?]+\s+` — consumed by the split, so
    * non-final sentences lose their terminal run; RE2-safe, no
    * lookbehind, so any regex-bearing engine reproduces the convention
    * verbatim). Same output shape and blank-drop rule as
    * [[lineSegments]]; same zero-shuffle 1→N map posture.
    */
  def sentenceSegments(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol),
        posexplode(split(col(textCol), "[.!?]+\\s+"))
          .as(Seq("chunk_idx", "chunk_text")))
      .filter(length(trim(col("chunk_text"))) > 0)

  /** [[boilerplateLines]] under the SENTENCE convention. */
  def boilerplateSentences(df: DataFrame, idCol: String, textCol: String,
      minDocs: Long): DataFrame =
    segmentDocFreq(sentenceSegments(df, idCol, textCol), idCol)
      .filter(col("n_docs") >= minDocs)
      .select(col("chunk_text").as("segment"), col("n_docs"))

  /** Remove boilerplate segments (per [[boilerplateSegments]], same
    * segment convention) from every document and reassemble the survivors
    * in original order. Output: (<idCol>, n_segments, n_dropped,
    * clean_text) — one row per input document, all-boilerplate documents
    * keep an empty `clean_text`, empty documents pass through with zero
    * counts.
    *
    * 100 TB posture: the corpus is segmented ONCE (persisted across the
    * frequency pass and the scrub pass, released after the next action);
    * the boilerplate set — the ≥ `minDocs` tail, typically vocabulary-
    * sized, not corpus-sized — is broadcast, so marking is a map-side
    * hash join with no shuffle of the corpus. The only corpus-wide
    * shuffle is the per-document reassembly `collect_list`, keyed by doc
    * id and bounded by single-document size. Pass
    * `broadcastBoiler = false` for a degenerate corpus whose boilerplate
    * set itself is huge; the same plan degrades to a shuffled hash join
    * on the segment key.
    */
  def scrubBoilerplate(df: DataFrame, idCol: String, textCol: String,
      segLen: Int, minDocs: Long,
      broadcastBoiler: Boolean = true): DataFrame =
    scrubSegments(df, idCol,
      chunkDocs(df, idCol, textCol, segLen, segLen), minDocs, " ",
      broadcastBoiler)

  /** [[scrubBoilerplate]] under the LINE convention ([[lineSegments]] /
    * [[boilerplateLines]]): drop every ≥ `minDocs` line from every
    * document and reassemble the surviving lines (original order,
    * `\n`-joined). Same output shape and scale posture as the
    * token-window scrub.
    */
  def scrubBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
      minDocs: Long, broadcastBoiler: Boolean = true): DataFrame =
    scrubSegments(df, idCol, lineSegments(df, idCol, textCol), minDocs,
      "\n", broadcastBoiler)

  /** [[scrubBoilerplateLines]] under the SENTENCE convention (survivors
    * rejoined with ". " — terminal runs were consumed by the split, so
    * reassembly re-punctuates with the canonical separator).
    */
  def scrubBoilerplateSentences(df: DataFrame, idCol: String, textCol: String,
      minDocs: Long, broadcastBoiler: Boolean = true): DataFrame =
    scrubSegments(df, idCol, sentenceSegments(df, idCol, textCol), minDocs,
      ". ", broadcastBoiler)

  /** [[scrubBoilerplateLines]] with NORMALIZED matching: frequency is
    * counted — and the drop decision made — on `normalize(chunk_text)`
    * (e.g. case-fold + digit-scrub), while the kept output preserves the
    * original lines. Collapses near-identical boilerplate that differs
    * only in per-page tokens (dates, counters), the gap verbatim
    * matching leaves (COVERAGE.md known limits).
    */
  def scrubBoilerplateLinesNormalized(df: DataFrame, idCol: String,
      textCol: String, minDocs: Long, normalize: Column => Column,
      broadcastBoiler: Boolean = true): DataFrame =
    scrubSegments(df, idCol,
      lineSegments(df, idCol, textCol)
        .withColumn("chunk_key", normalize(col("chunk_text"))),
      minDocs, "\n", broadcastBoiler)

  /** Shared scrub over any (id, chunk_idx, chunk_text[, chunk_key])
    * segmentation — the token-window, line, and sentence conventions
    * differ only in the segmenter and the reassembly separator. When the
    * segmentation carries a `chunk_key` column, frequency counting and
    * the drop decision key on it (normalized matching) while the rebuilt
    * text keeps `chunk_text` verbatim.
    */
  private def scrubSegments(df: DataFrame, idCol: String, segs0: DataFrame,
      minDocs: Long, joinSep: String, broadcastBoiler: Boolean): DataFrame = {
    // DISK_ONLY per the SCALE.md r10 persist rule: the segmentation is
    // corpus-sized, carries the chunk TEXT, and is live across the
    // boiler census and the per-doc rebuild — two aggregation stages
    // whose execution memory a storage-unroll cache would compete with.
    val segs = segs0
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val keyCol =
      if (segs.columns.contains("chunk_key")) "chunk_key" else "chunk_text"
    val boiler0 = segs.select(col(idCol), col(keyCol)).distinct()
      .groupBy(col(keyCol)).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col(keyCol), lit(true).as("__boiler"))
    val boiler = if (broadcastBoiler) broadcast(boiler0) else boiler0
    val rebuilt = segs.join(boiler, Seq(keyCol), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("__boiler"), 1L).otherwise(0L)).as("n_dropped"),
        // collect_list skips nulls, so boilerplate segments vanish before
        // the sort; struct order (chunk_idx first) restores document order
        array_join(transform(
          array_sort(collect_list(when(col("__boiler").isNull,
            struct(col("chunk_idx"), col("chunk_text"))))),
          x => x.getField("chunk_text")), joinSep).as("clean_text"))
    graft.operators.Release.hold(segs)
    // chunkDocs emits no rows for empty documents; restore them
    df.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** BM25 relevance components per (document, term): tf, document length,
    * document frequency, corpus size, total token count, and the BM25
    * score `idf · tf(k1+1) / (tf + k1(1−b+b·dl/avgdl))` with
    * `idf = ln((N−df+0.5)/(df+0.5)+1)` (the Robertson/Sparck-Jones form).
    *
    * Same shape as [[termStats]] — explode, two partial-agg'd hash
    * aggregates, vocabulary join, and the corpus totals (N, Σdl) as ONE
    * broadcast one-row aggregate. The double `bm25` column is for
    * in-engine ranking; cross-engine gates rank by an integer-rational
    * surrogate instead (see q_bm25) because ln() is not IEEE-exact.
    */
  def bm25Stats(df: DataFrame, idCol: String, textCol: String,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val base = df.select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
    val tf = base
      .select(col(idCol), size(col("__toks")).cast("long").as("dl"),
        explode(col("__toks")).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("doc_freq"))
    val totals = base.agg(count(lit(1)).as("n_docs"),
      sum(size(col("__toks")).cast("long")).as("sum_dl"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log((col("n_docs") - col("doc_freq") + 0.5) /
      (col("doc_freq") + 0.5) + 1.0)
    tf.join(docFreq, "term")
      .crossJoin(broadcast(totals))
      .withColumn("bm25", idf * (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl)))
  }

  /** Consecutive-token bigrams as "w1 w2" strings, occurrences kept (NOT
    * distinct — LM counts are occurrence counts, unlike the dedup
    * shingles). Evaluate on a materialized token array (perf note in
    * Text.shinglesOfTokens).
    */
  private def bigramsAll(t: Column): Column =
    when(size(t) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(t) - 1),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1))))

  /** A trained add-one-smoothed bigram language model: global bigram
    * occurrence counts, left-context counts, and the vocabulary size —
    * all vocabulary-scaled DataFrames (KenLM-class n-gram modeling
    * reduced to n=2; counts, not backoff weights).
    */
  final case class BigramLm(bigrams: DataFrame, contexts: DataFrame,
    vocab: DataFrame)

  /** Train a bigram LM on a corpus: `c2(w1 w2)` = corpus occurrences of
    * the bigram, `c1(w1)` = occurrences of `w1` as a left context
    * (= Σ_w2 c2), `v` = distinct-token vocabulary size. Three hash
    * aggregates with map-side partials over one explode — the model is
    * vocabulary-sized, the corpus never re-shuffles.
    */
  def bigramLm(train: DataFrame, textCol: String): BigramLm = {
    val occ = train.select(Text.tokens(col(textCol)).as("__toks"))
      .select(explode(bigramsAll(col("__toks"))).as("g"))
    BigramLm(
      bigrams = occ.groupBy(col("g")).agg(count(lit(1)).as("c2")),
      contexts = occ.select(split(col("g"), " ").getItem(0).as("w1"))
        .groupBy(col("w1")).agg(count(lit(1)).as("c1")),
      vocab = train.select(explode(Text.tokens(col(textCol))).as("tok"))
        .agg(countDistinct(col("tok")).as("v")))
  }

  /** Per-document LM quality score under a trained [[BigramLm]] — the
    * perplexity-style fluency signal pipelines use to filter
    * machine-mangled or boilerplate text (documents whose token
    * transitions the corpus has never seen score low).
    *
    * Per bigram occurrence, add-one smoothed probability
    * `(c2+1)/(c1+V)`; two scores per document:
    *  - `score_u` / `avg_u` — the FIXED-POINT probability sum
    *    `Σ k · floor(10⁶·(c2+1)/(c1+V))` (and its per-bigram integer
    *    mean). Integer arithmetic end to end, so the result is exact,
    *    FP-order-free, and oracle-comparable (ln() is not — same
    *    convention as q_tfidf/q_bm25). BIGINT-safe while the corpus
    *    bigram count stays below ~9·10¹² (Long.Max/10⁶).
    *  - `lm_logprob` — the true `Σ k · ln((c2+1)/(c1+V))`, for in-engine
    *    ranking (spec-tested, not gated).
    * Plus `n_bigrams` and `n_unseen` (occurrences whose bigram the model
    * never saw — the OOV-transition count).
    *
    * 100 TB posture: per-doc bigram tf aggregates BEFORE the model join,
    * so the joins are (doc, distinct-bigram) × vocabulary-sized model
    * tables (AQE broadcasts them while they fit; a web-scale model
    * degrades to a shuffled hash join on the bigram key), V is a
    * broadcast one-row aggregate, and the final per-doc sum is a keyed
    * hash aggregate. Zero-bigram documents (< 2 tokens) are restored
    * with zero counts.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String,
      model: BigramLm): DataFrame = {
    val docBg = df.select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(bigramsAll(col("__toks"))).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("k"))
      .withColumn("w1", split(col("g"), " ").getItem(0))
    val prob = (coalesce(col("c2"), lit(0L)) + 1).cast("double") /
      (coalesce(col("c1"), lit(0L)) + col("v"))
    val agg = docBg
      .join(model.bigrams, Seq("g"), "left")
      .join(model.contexts, Seq("w1"), "left")
      .crossJoin(broadcast(model.vocab))
      .withColumn("__term_u",
        expr("(1000000 * (coalesce(c2, 0) + 1)) div (coalesce(c1, 0) + v)"))
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(when(col("c2").isNull, col("k")).otherwise(0L)).as("n_unseen"),
        sum(col("k") * col("__term_u")).as("score_u"),
        sum(col("k").cast("double") * log(prob)).as("lm_logprob"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_unseen"), lit(0L)).as("n_unseen"),
        coalesce(col("score_u"), lit(0L)).as("score_u"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0L, lit(0L))
          .otherwise(expr("score_u div n_bigrams")).as("avg_u"),
        coalesce(col("lm_logprob"), lit(0.0)).as("lm_logprob"))
  }

  /** BM25 full-text search: the top `k` documents for a bag-of-words query,
    * ranked by the summed per-term BM25 surrogate. Two scores per doc:
    *  - `score_u` — the q_bm25 integer-rational surrogate (k1=1.2, b=0.75
    *    baked into the 22000/10/3/9 constants) summed over the matched
    *    terms. Integer addition is commutative, so the rank is exact and
    *    identical in any engine/partitioning — this is the gated column.
    *  - `bm25` — the true-ln double sum, for in-engine consumers
    *    (spec-tested, not oracle-gated: ln() and FP sum order are not
    *    cross-engine-exact).
    *
    * 100 TB posture: the query-term `isin` filter pushes through the
    * [[bm25Stats]] join into BOTH aggregate branches (per-doc tf and
    * per-term df only materialize for the queried terms — Catalyst prunes
    * the rest at the explode), the per-doc sum is a hash aggregate with
    * map-side partials, and the selection is TakeOrderedAndProject. For a
    * standing corpus use [[searchIndexWrite]]/[[searchIndex]] instead —
    * scoring a query must not re-scan the corpus.
    */
  def searchTopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "empty query")
    val stats = bm25Stats(df, idCol, textCol)
      .filter(col("term").isin(terms: _*))
    scoreQuery(stats, idCol, k)
  }

  /** Shared query scorer over bm25Stats-shaped rows (in-memory or index). */
  private[graft] def scoreQuery(stats: DataFrame, idCol: String, k: Int): DataFrame =
    stats
      .withColumn("__num",
        lit(22000L) * col("tf") * col("sum_dl") * (col("n_docs") + 1))
      .withColumn("__den", (col("doc_freq") + 1) *
        (lit(10L) * col("tf") * col("sum_dl") + lit(3L) * col("sum_dl") +
          lit(9L) * col("dl") * col("n_docs")))
      .withColumn("__score_u", expr("__num div __den"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit_terms"),
        sum(col("__score_u")).as("score_u"),
        sum(col("bm25")).as("bm25"))
      .orderBy(col("score_u").desc, col(idCol))
      .limit(k)

  /** Build a persisted inverted index for [[searchIndex]]: one parquet row
    * per (term, document) carrying the [[bm25Stats]] columns, laid out in
    * `nBuckets` hash-of-term directories. Index build is the one
    * corpus-wide pass; every later query reads only its terms' buckets.
    *
    * 100 TB posture: `partitionBy(bucket)` gives static partition pruning
    * at query time (a 4096-bucket index turns a 3-term query into ≤ 3
    * directory reads); within a bucket the term `isin` filter pushes into
    * the parquet scan as a row-group-skipping predicate. Rebuilds are
    * `mode=overwrite` on the whole index; for incremental corpora pair
    * with [[corpusDiff]] and re-derive only the touched terms' buckets
    * (the df/totals columns are corpus-global, so a delta-update must
    * rewrite all buckets' stats — by design BM25 df-freshness and
    * incremental cost trade off; document-frequency drift is slow, so
    * production re-stamps totals on a schedule, not per delta).
    */
  def searchIndexWrite(df: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int): Unit =
    bm25Stats(df, idCol, textCol)
      .withColumn("bucket", pmod(hash(col("term")), lit(nBuckets)))
      .write.partitionBy("bucket").mode("overwrite").parquet(path)

  /** Query a [[searchIndexWrite]] index: top `k` docs for a bag-of-words
    * query. `nBuckets` must match the build. The query's bucket set is
    * computed driver-side with the SAME Spark hash expression the writer
    * used (O(#terms) driver work), so the scan carries a
    * `bucket IN (...)` literal filter — static partition pruning, only
    * the queried directories are read (plan-asserted in CorpusSpec).
    */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, terms: Seq[String], nBuckets: Int, k: Int): DataFrame = {
    require(terms.nonEmpty, "empty query")
    import spark.implicits._
    val buckets = terms.toDF("term")
      .select(pmod(hash(col("term")), lit(nBuckets)).as("b"))
      .as[Int].collect().distinct.toSeq
    val stats = spark.read.parquet(path)
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
    scoreQuery(stats, idCol, k)
  }

  /** Incremental corpus diff between two snapshots keyed by `idCol`:
    * which documents were added, removed, or changed (by normalized-text
    * fingerprint) — the delta a recurring crawl ingests instead of
    * re-processing the whole corpus.
    *
    * 100 TB posture: each side reduces to (id, 16-byte fingerprint)
    * before the single full-outer shuffle join — text bytes never cross
    * the wire, and unchanged documents (the overwhelming majority of a
    * re-crawl) are filtered before the result materializes.
    */
  def corpusDiff(oldSnap: DataFrame, newSnap: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // presence is keyed on explicit marker columns, NOT fingerprint
    // nullness — a null-text document has a null fingerprint but still
    // EXISTS in its snapshot; `<=>` keeps null-vs-text transitions
    // classified as changed and null-vs-null as unchanged
    val o = oldSnap.select(col(idCol),
      Text.fingerprint(col(textCol)).as("__fp_old"), lit(true).as("__in_old"))
    val c = newSnap.select(col(idCol),
      Text.fingerprint(col(textCol)).as("__fp_new"), lit(true).as("__in_new"))
    o.join(c, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__in_old").isNull, "added")
          .when(col("__in_new").isNull, "removed")
          .when(!(col("__fp_old") <=> col("__fp_new")), "changed")
          .as("status"))
      .filter(col("status").isNotNull)
  }

  /** Per-document repetition signal (Gopher-style quality rule): the count
    * of the single most frequent token and its fraction of all tokens.
    * Highly repetitive machine-generated text scores high and gets
    * filtered before training.
    *
    * 100 TB posture: explode + two hash aggregates keyed by doc id — both
    * with map-side partials, linear in token count. The per-row
    * alternative (`transform` + `filter` over the token array) is
    * O(tokens²) per document and loses badly on long documents.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      Text.tokens(col(textCol)).as("__toks"))
    val counts = toks
      .select(col(idCol), size(col("__toks")).cast("long").as("n_tokens"),
        explode(col("__toks")).as("__tok"))
      .groupBy(col(idCol), col("n_tokens"), col("__tok"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol), col("n_tokens"))
      .agg(max(col("__c")).as("top_tok_n"))
    // explode drops empty documents; restore them with zero counts
    df.select(col(idCol)).join(counts, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("top_tok_n"), lit(0L)).as("top_tok_n"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0L, lit(0.0))
          .otherwise(round(col("top_tok_n").cast("double") / col("n_tokens"), 4))
          .as("top_frac"))
  }

  /** Gopher/MassiveText-style duplicate-n-gram quality signals
    * (Rae et al. 2021 §A.1.1): per document and per n-gram size, the
    * fraction of n-gram OCCURRENCES that belong to an n-gram appearing
    * more than once in that document, plus the occurrence count of the
    * single most frequent n-gram. Template-generated and looping text
    * scores high on these and is dropped before training; the unigram
    * special case is [[repetitionStats]].
    *
    * Output, long format (one row per document per n in `ns`):
    * `(<idCol>, n, n_tokens, n_grams, dup_occ, dup_frac, top_occ)` with
    * `n_grams = max(n_tokens − n + 1, 0)` occurrences,
    * `dup_occ = Σ count(g) over grams g with count(g) > 1`,
    * `dup_frac = dup_occ / n_grams` (0.0 for gram-less documents),
    * `top_occ = max count(g)`. Documents too short for an n keep a row of
    * zeros — a filter joining on these signals must see every document.
    *
    * 100 TB posture: the corpus is tokenized ONCE (persisted across the
    * per-n passes, released after the next action); each n is an explode
    * over the materialized token array (the two-projection shape — the
    * `InferFiltersFromGenerate` hazard in SCALE.md) feeding two hash
    * aggregates keyed on (doc, gram) then (doc) — map-side partials,
    * linear in token count, never an O(tokens²) per-row array scan. The
    * per-n frames are unioned (not joined): one output row per (doc, n),
    * shuffle keyed by doc id only in the final zero-restore join.
    */
  def duplicateNgramStats(df: DataFrame, idCol: String, textCol: String,
      ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"need n-gram sizes >= 1, got $ns")
    require(ns.distinct == ns, s"duplicate n-gram sizes in $ns")
    // DISK_ONLY per the SCALE.md r10 persist rule: corpus-sized token
    // arrays, live across every per-n double hash aggregate below.
    val toks = df.select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    def statsFor(n: Int): DataFrame =
      toks
        .select(col(idCol),
          explode(Text.ngramsOfTokens(col("__toks"), n)).as("__g"))
        .groupBy(col(idCol), col("__g"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col(idCol))
        .agg(sum(col("__c")).as("n_grams"),
          sum(when(col("__c") > 1, col("__c")).otherwise(0L)).as("dup_occ"),
          max(col("__c")).as("top_occ"))
        .withColumn("n", lit(n))
    val stats = ns.map(statsFor).reduce(_ unionByName _)
    graft.operators.Release.hold(toks)
    // explode drops documents with no n-gram of some size; restore zeros
    val spine = df.select(col(idCol), Text.nTokens(col(textCol)).as("n_tokens"),
      explode(array(ns.map(lit(_)): _*)).as("n"))
    spine.join(stats, Seq(idCol, "n"), "left")
      .select(col(idCol), col("n"), col("n_tokens"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dup_occ"), lit(0L)).as("dup_occ"),
        when(coalesce(col("n_grams"), lit(0L)) === 0L, lit(0.0))
          .otherwise(round(col("dup_occ").cast("double") / col("n_grams"), 4))
          .as("dup_frac"),
        coalesce(col("top_occ"), lit(0L)).as("top_occ"))
  }

  /** Pack a corpus into fixed-length training sequences — the standard
    * "concatenate and chunk" pretraining prep (GPT-2/3 style): documents
    * are laid end-to-end in `idCol` order (each followed by the `sep`
    * token when one is given, e.g. an EOS marker), and the resulting
    * global token stream is cut into consecutive sequences of `seqLen`
    * tokens; a document can span sequence boundaries, and a sequence can
    * contain many short documents. Unlike [[chunkDocs]] (per-document
    * windows, no cross-document packing) this wastes no token positions on
    * padding: every sequence except the global tail has exactly `seqLen`
    * tokens.
    *
    * Output: one row per sequence,
    * `(seq_idx, n_docs, n_tokens, seq_text)` where `n_docs` counts the
    * documents contributing at least one token and `n_tokens = seqLen`
    * except for the final remainder sequence.
    *
    * `idCol` values must be distinct (they define the canonical corpus
    * order, exactly as a deterministic shard layout would in production).
    *
    * 100 TB posture: the global token offset of each document is a
    * distributed weighted prefix sum — range-partition by id, per-
    * partition token totals folded on the driver (O(#partitions) scalars,
    * the ExPrefixSum pattern of [[graft.operators.Positional.prefixSumLong]])
    * — never a single-partition global window. Each document then explodes
    * into at most `n/seqLen + 1` per-sequence fragments of <= `seqLen`
    * tokens, and the only corpus-sized shuffles are the range partition
    * and the final fragment regroup keyed by `seq_idx` (fragment rows are
    * bounded by `seqLen`, so the regroup cannot create a hot key: a
    * sequence receives at most `seqLen` fragments).
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      seqLen: Int, sep: Option[String] = Some("<eos>")): DataFrame =
    packedFragments(df, idCol, textCol, seqLen, sep)
      .groupBy(col("seq_idx"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__fe") - col("__fs")).as("n_tokens"),
        // struct order (global fragment start first) restores stream order
        concat_ws(" ", flatten(transform(
          array_sort(collect_list(struct(col("__fs"), col("__frag")))),
          x => x.getField("__frag")))).as("seq_text"))

  /** Per-document fragment boundaries inside [[packSequences]]' packed
    * sequences — the metadata a trainer needs to reset attention across
    * document boundaries within a packed window (block-diagonal attention
    * masks / position-id resets). Output: one row per (sequence, document)
    * fragment, `(seq_idx, <idCol>, seq_pos, frag_len)` with `seq_pos` the
    * 0-based token position of the fragment inside its sequence; fragments
    * of a sequence tile `[0, n_tokens)` exactly. Same packing layout,
    * same scale posture, no regroup shuffle at all — this is the pack
    * frame BEFORE the seq_text reassembly.
    */
  def packFragments(df: DataFrame, idCol: String, textCol: String,
      seqLen: Int, sep: Option[String] = Some("<eos>")): DataFrame =
    packedFragments(df, idCol, textCol, seqLen, sep)
      .select(col("seq_idx"), col(idCol),
        (col("__fs") - col("seq_idx") * lit(seqLen.toLong)).as("seq_pos"),
        (col("__fe") - col("__fs")).as("frag_len"))

  /** Shared pack layout: one row per (sequence, document) fragment with
    * global fragment bounds `[__fs, __fe)` and the token slice `__frag`.
    *
    * The global offsets come from a prefix sum over the SCALAR (id, count)
    * frame — the codegen'd [[Text.nTokens]], 16-byte rows through the
    * two-pass RDD fold — and join back to the tokenized corpus on id. The
    * first cut ran [[graft.operators.Positional.prefixSumLong]] over the
    * frame CARRYING the token arrays: every row paid the Tungsten→
    * GenericRow→Tungsten round trip for its array, 4.4× slower than even
    * a single-partition window cumsum at sf1 (SCALE.md, "Training-data
    * ops", sequence packing). Keeping
    * the RDD leg scalar keeps the distributed-offset property AND the
    * columnar fast path.
    */
  private def packedFragments(df: DataFrame, idCol: String, textCol: String,
      seqLen: Int, sep: Option[String]): DataFrame = {
    require(seqLen >= 1, s"sequence length must be >= 1, got $seqLen")
    // null text reads as the empty document (a null count would reach the
    // prefix-sum pass and kill the job)
    val text = coalesce(col(textCol), lit(""))
    val baseToks = Text.tokens(text)
    val (toksCol, nCol) = sep match {
      case Some(s) =>
        (concat(baseToks, array(lit(s))), Text.nTokens(text) + lit(1L))
      case None => (baseToks, Text.nTokens(text))
    }
    val cnt = df
      .select(col(idCol), nCol.as("__n"))
      .repartitionByRange(col(idCol))
      .sortWithinPartitions(col(idCol))
    val withEnd = graft.operators.Positional.prefixSumLong(cnt, "__n", "__end")
    val offs = withEnd
      .select(col(idCol), col("__n"), (col("__end") - col("__n")).as("__off"))
      .filter(col("__n") > 0)
    val L = lit(seqLen.toLong)
    df.select(col(idCol), toksCol.as("__toks"))
      .join(offs, Seq(idCol))
      // sequences this document overlaps: floor(off/L) .. floor((off+n-1)/L)
      .withColumn("seq_idx", explode(sequence(
        expr(s"__off div ${seqLen}L"),
        expr(s"(__off + __n - 1) div ${seqLen}L"))))
      .withColumn("__fs", greatest(col("seq_idx") * L, col("__off")))
      .withColumn("__fe", least((col("seq_idx") + 1) * L, col("__off") + col("__n")))
      .withColumn("__frag", slice(col("__toks"),
        (col("__fs") - col("__off") + 1).cast("int"),
        (col("__fe") - col("__fs")).cast("int")))
  }

  /** Temperature-flattened domain mixture sampling — the multi-source
    * data-mixing step of multilingual/multi-domain training (XLM-R-style
    * `p_d ∝ n_d^α`, α < 1 upsamples small domains relative to their raw
    * share): draw exactly `totalK` documents, allocated across domains
    * proportional to an integer temperature weight, then selected
    * per-domain by the reproducible md5 order of [[stratifiedSample]].
    *
    * The allocation is INTEGER-EXACT and engine-reproducible (the q_bm25
    * integer-surrogate trick): weight `w_d = floor(n_d^α)` (for α = 0.5
    * this is floor∘sqrt, IEEE-correctly-rounded in every engine), base
    * share `totalK·w_d div W`, and the `totalK − Σbase` remainder seats go
    * to the largest `totalK·w_d mod W` (domain-name tie-break) — no
    * cross-engine FP comparison anywhere. A domain smaller than its
    * allocation keeps all its rows (`k_d = min(k_d, n_d)`; the total then
    * falls short rather than silently re-weighting — callers re-run with a
    * larger α or smaller totalK).
    *
    * Output: the input rows of the sample plus their within-domain `rn`.
    *
    * 100 TB posture: the driver sees only the per-domain count vector
    * (O(#domains) rows — domains are sources/languages, not documents);
    * the allocation joins back as a broadcast; selection is the
    * [[stratifiedSample]] bounded-heap shape (round 9) sized at the
    * LARGEST domain allocation and trimmed per-domain by the allocation
    * join — the corpus text never shuffles, and parallelism never
    * collapses to #domains tasks the way the per-domain window sort did.
    */
  def mixtureSample(df: DataFrame, idCol: String, domainCol: String,
      totalK: Int, alpha: Double, orderCol: String): DataFrame = {
    require(totalK >= 0, s"totalK must be >= 0, got $totalK")
    require(alpha > 0 && alpha <= 1, s"need 0 < alpha <= 1, got $alpha")
    val spark = df.sparkSession
    val rawCounts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("__n"))
      .collect()
    // Fail fast on a null domain (free: the per-domain counts are already
    // on the driver). Downstream it would NPE in the allocation sort and
    // silently vanish at the === join-back — a data bug deserves a clear
    // error, not a missing domain.
    require(rawCounts.forall(_.get(0) != null),
      s"mixtureSample: null $domainCol domain — coalesce or filter it upstream")
    val counts = rawCounts
      .map(r => (r.get(0).toString, r.getLong(1)))
      .sortBy(_._1)
    val kd = mixtureAllocation(counts.toSeq, totalK, alpha)
    import spark.implicits._
    val kdDf = broadcast(kd.toSeq.toDF("__dom", "__kd"))
    // heap size = max per-domain seats (>=1 keeps the aggregator legal
    // when every allocation is zero; the <= __kd filter then empties it)
    // per-domain seats are bounded by totalK (an Int), so toInt is safe
    val kmax = math.max(1L, if (kd.isEmpty) 0L else kd.values.max).toInt
    val keyed = df.select(col(domainCol),
      md5(coalesce(col(orderCol), lit(""))).as("__ord"),
      col(idCol).cast("long").as("__sid"))
    val winners = graft.operators.TopK
      .bottomKPerKey(keyed, Seq(domainCol), "__ord", "__sid", kmax)
      .select(col(domainCol).as("__dom"), col("rank").as("rn"), col("__sid"))
      .join(kdDf, "__dom")
      .filter(col("rn") <= col("__kd"))
      .select(col("__dom"), col("rn"), col("__sid"))
    df.join(broadcast(winners),
        df(idCol).cast("long") === winners("__sid") &&
          df(domainCol) === winners("__dom"))
      .drop("__dom", "__sid")
  }

  /** Deterministic hash split of a corpus into named partitions (the
    * train/validation/test split every training pipeline pins before any
    * other processing). The split of a document is a pure function of
    * `(salt, id)` — stable across runs, cluster sizes, and row order, and
    * changing the salt re-draws the whole assignment (the standard trick
    * for ablation re-splits without touching data).
    *
    * Mechanics: `bucket = first 4 hex chars of md5(salt ":" id)` — a
    * uniform draw on a 65,536-cell grid — compared against the cumulative
    * fraction thresholds quantized to that grid (so a 0.8/0.1/0.1 split is
    * exact to 1/65536 ≈ 0.0015%). The comparison stays in STRING space
    * (hex is order-isomorphic to the integer it encodes when fixed-width
    * and lowercase), so any engine with md5 reproduces the assignment
    * verbatim — no hex→int conversion that not every SQL dialect has.
    *
    * `fractions` are `(label, fraction)` in split order; they must sum to
    * 1 (±1e-9). Returns the input plus a `split` label column.
    *
    * 100 TB posture: a pure per-row map — no shuffle, no state, trivially
    * parallel; the split can be recomputed anywhere (e.g. at read time in
    * a training job) without storing an assignment table.
    */
  def splitByHash(df: DataFrame, idCol: String, salt: String,
      fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.nonEmpty, "splitByHash needs at least one fraction")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${fractions.map(_._2).sum}")
    val cum = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
    // every non-final cumulative must stay < 1: a trailing zero-fraction
    // class would push a bound to floor(1.0·65536) = 65536, whose 5-char
    // hex breaks the fixed-width lexicographic compare below
    require(cum.init.forall(_ < 1.0 - 1e-12),
      "non-final cumulative fraction reaches 1.0 — zero-fraction classes " +
        "must not be last (reorder fractions so the final class has mass)")
    // upper-exclusive hex bounds on the 16^4 grid; last bound is past
    // "ffff". The min-clamp guards the FP edge where f·65536 rounds up to
    // exactly 65536 for f just below 1 — bounds must stay 4 hex chars.
    val bounds = cum.init.map(f =>
      f"${math.min(65535L, math.floor(f * 65536).toLong)}%04x")
    val bucket = substring(
      md5(concat_ws(":", lit(salt), col(idCol).cast("string"))), 1, 4)
    val labeled = fractions.map(_._1).zip(bounds :+ "zzzz")
    val split = labeled.init.foldRight(
        lit(labeled.last._1): Column) { case ((label, hi), rest) =>
      when(bucket < lit(hi), lit(label)).otherwise(rest)
    }
    df.withColumn("split", split)
  }

  /** Deterministic epoch shuffle: a reproducible global permutation of the
    * corpus keyed by `md5(seed ":" id)` — how a training pipeline lays out
    * each epoch's visit order without a stateful RNG (vary the seed per
    * epoch; same seed ⇒ bit-identical order on any cluster). Returns
    * `(pos, <idCol>)` with `pos` the dense 0-based position.
    *
    * 100 TB posture: the permutation is a range-partitioned sort on the
    * hash key (Spark samples split points, so output partitions are
    * balanced regardless of corpus skew) followed by the two-pass
    * zipWithIndex of [[graft.operators.Positional]] — per-partition counts
    * fold on the driver as O(#partitions) scalars; rows never leave the
    * executors. Only (key, id) scalar rows move through the sort: the
    * caller joins `pos` back to the full corpus on `id` when materializing
    * shards, keeping document bodies out of the permutation shuffle.
    */
  def epochShuffle(df: DataFrame, idCol: String, seed: String): DataFrame = {
    val key = md5(concat_ws(":", lit(seed), col(idCol).cast("string")))
    val ordered = df.select(col(idCol), key.as("__shufkey"))
      .orderBy(col("__shufkey"), col(idCol))
    graft.operators.Positional.zipWithIndex(ordered, "pos")
      .select(col("pos"), col(idCol))
  }

  /** Quality-first token-budget selection: walk the corpus in descending
    * `scoreCol` order and keep documents while the running token total
    * stays within `budget` — the "fill a 1B-token training budget with the
    * best documents" step that follows quality scoring in a data pipeline.
    * Inclusive semantics: a document is kept iff the budget still covers
    * it entirely (cumulative sum INCLUDING the document ≤ budget).
    *
    * `scoreCol` should be integer-valued for cross-engine reproducibility
    * (ties broken by `idCol`); `weightCol` is the per-document token count
    * (any non-negative Long column). Returns
    * `(<idCol>, score_u, n_tok, cum_tokens)` for the selected documents.
    *
    * 100 TB posture: the selection frame carries only (id, score, weight)
    * scalars — ~24-byte rows — through a range-partitioned sort on
    * (score desc, id) and the two-pass distributed prefix sum of
    * [[graft.operators.Positional.prefixSumLong]] (per-partition totals
    * folded on the driver, O(#partitions) scalars). Never a
    * single-partition global window; document bodies join back on id
    * afterwards if needed.
    */
  def tokenBudgetSelect(df: DataFrame, idCol: String, scoreCol: Column,
      weightCol: Column, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val slim = df.select(col(idCol), scoreCol.cast("long").as("score_u"),
        weightCol.cast("long").as("n_tok"))
      .repartitionByRange(col("score_u").desc, col(idCol))
      .sortWithinPartitions(col("score_u").desc, col(idCol))
    graft.operators.Positional.prefixSumLong(slim, "n_tok", "cum_tokens")
      .filter(col("cum_tokens") <= budget)
  }

  /** Content-defined chunking (CDC) at token granularity: place a chunk
    * boundary after token `i` whenever the hash of the `w`-token window
    * ending at `i` lands in the boundary set (first md5 hex char `'0'` —
    * p = 1/16, so E[chunk] ≈ 16 + w tokens). Because boundaries depend
    * only on LOCAL content, an insertion near the front of a document
    * shifts chunk CONTENTS only until the next surviving boundary — the
    * property that makes CDC the standard chunk-dedup primitive in
    * storage systems (Muthitacharoen et al. SOSP'01 LBFS) and the
    * robust alternative to [[chunkDocs]]' fixed windows for long-doc
    * near-dup detection: duplicated passages yield identical chunk
    * hashes wherever they sit. md5-on-window is used instead of a
    * byte-rolling Rabin hash so any md5-bearing engine reproduces the
    * boundaries bit-exactly (the codegen'd `rolling_hash` expression is
    * the faster non-oracle sibling).
    *
    * Output: one row per chunk — `(<idCol>, chunk_idx, tok_start,
    * tok_end, n_tok, chunk_md5)`, `tok_start`/`tok_end` 1-based
    * inclusive; chunks tile `[1, n]` exactly; documents shorter than `w`
    * (but non-empty) emit one whole-doc chunk; empty documents emit
    * nothing.
    *
    * 100 TB posture: boundaries and chunks are computed entirely inside
    * codegen'd higher-order functions over the materialized token array
    * (the two-projection shape — the token array is NEVER re-evaluated
    * per element) — a pure 1→N flatMap, zero shuffle; the downstream
    * dedup on chunk_md5 is then an ordinary hash aggregate.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      w: Int = 4): DataFrame = {
    require(w >= 1, s"window must be >= 1, got $w")
    val withToks = df
      .select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
    val n = size(col("__toks"))
    // candidate boundary positions: i in [w, n] with the window-hash hit;
    // guard sequence() against n < w (it would count DOWNWARD)
    val bounds = when(n < w, array().cast("array<int>")).otherwise(
      filter(sequence(lit(w), n), i =>
        substring(md5(concat_ws(" ",
          slice(col("__toks"), i - w + 1, lit(w)))), 1, 1) === "0"))
    // chunk ends = boundaries plus the final token (once)
    val ends = when(array_contains(bounds, n), bounds)
      .otherwise(concat(bounds, array(n)))
    val chunked = withToks
      .withColumn("__ends", ends)
      .withColumn("__starts", concat(array(lit(1)),
        transform(slice(col("__ends"), lit(1), size(col("__ends")) - 1),
          _ + 1)))
      .select(col(idCol), col("__toks"),
        posexplode(arrays_zip(col("__starts"), col("__ends"))))
    chunked.select(
      col(idCol),
      col("pos").as("chunk_idx"),
      col("col.__starts").as("tok_start"),
      col("col.__ends").as("tok_end"),
      (col("col.__ends") - col("col.__starts") + 1).cast("long").as("n_tok"),
      md5(concat_ws(" ", slice(col("__toks"), col("col.__starts"),
        col("col.__ends") - col("col.__starts") + 1))).as("chunk_md5"))
  }

  /** Byte-level CDC chunks over a BINARY column via the codegen'd gear
    * rolling hash ([[GearBoundariesExpr]]) — the binary sibling of
    * [[cdcChunks]], applicable to multimodal blobs and UTF-8 text alike.
    * Output: `(<idCol>, chunk_idx, byte_start, byte_end, n_bytes,
    * chunk_md5)` — offsets 1-based inclusive, chunks tile `[1, n]`;
    * empty/null payloads emit nothing.
    *
    * 100 TB posture: boundaries are ONE O(bytes) codegen'd expression
    * call per row; the chunk explode is a pure 1→N flatMap, zero shuffle;
    * the downstream chunk-hash dedup is an ordinary hash aggregate.
    */
  def gearChunkBytes(df: DataFrame, idCol: String, bytesCol: Column,
      maskBits: Int = 6, minSize: Int = 16): DataFrame = {
    val withEnds = df
      .select(col(idCol), bytesCol.as("__bytes"))
      .filter(col("__bytes").isNotNull && length(col("__bytes")) > 0)
      .withColumn("__ends",
        GearBoundariesExpr.gear_boundaries(col("__bytes"), maskBits, minSize))
    withEnds
      .withColumn("__starts", concat(array(lit(1L)),
        transform(slice(col("__ends"), lit(1), size(col("__ends")) - 1),
          _ + 1)))
      .select(col(idCol), col("__bytes"),
        posexplode(arrays_zip(col("__starts"), col("__ends"))))
      .select(
        col(idCol),
        col("pos").as("chunk_idx"),
        col("col.__starts").as("byte_start"),
        col("col.__ends").as("byte_end"),
        (col("col.__ends") - col("col.__starts") + 1).as("n_bytes"),
        md5(expr("substring(__bytes, col.__starts, col.__ends - col.__starts + 1)"))
          .as("chunk_md5"))
  }

  /** C4/Gopher-style quality-filter funnel: evaluate named drop rules in
    * order and label every document with the FIRST rule it trips, or
    * `"kept"` — the rule-attribution census a cleaning pipeline publishes
    * so each rule's marginal cost is visible (a rule that silently drops
    * 40% of a crawl is a bug report, not a filter). `rules` are
    * `(name, dropCondition)` pairs; conditions are arbitrary Column
    * predicates over the input row (null condition results count as
    * not-tripped, mirroring SQL CASE).
    *
    * Returns the input plus a `verdict` column.
    *
    * 100 TB posture: the funnel compiles to ONE codegen'd CASE chain —
    * a pure per-row map, zero shuffle; attrition counts are a tiny
    * follow-up aggregate on the label.
    */
  def qualityFunnel(df: DataFrame,
      rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "qualityFunnel needs at least one rule")
    require(rules.map(_._1).distinct.size == rules.size,
      s"rule names must be distinct: ${rules.map(_._1).mkString(",")}")
    require(!rules.exists(_._1 == "kept"), "\"kept\" is the pass label")
    val verdict = rules.foldRight(lit("kept"): Column) {
      case ((name, cond), rest) => when(cond, lit(name)).otherwise(rest)
    }
    df.withColumn("verdict", verdict)
  }

  /** Shard manifest for a deterministic epoch layout: permute the corpus
    * with the [[epochShuffle]] order (md5(seed ":" id) key), cut the
    * permutation into fixed-size shards of `shardSize` documents, and
    * emit one manifest row per shard — `(shard_idx, n_docs, n_tokens,
    * min_pos, max_pos)` — the sizing/balance table a training job reads
    * before assigning shards to data-loader workers. Every shard holds
    * exactly `shardSize` docs except the last; token mass per shard shows
    * the balance the doc-count cut achieves.
    *
    * 100 TB posture: only `(id, weight, key)` scalar rows enter the
    * range-partitioned sort and two-pass zipWithIndex (O(#partitions)
    * driver scalars — weights ride along, so no join back); the manifest
    * aggregate outputs #shards rows. Writing the shard FILES is then
    * `repartitionByRange(pos)`-style on the same key — embarrassingly
    * parallel.
    */
  def shardManifest(df: DataFrame, idCol: String, seed: String,
      shardSize: Int, weightCol: Column): DataFrame = {
    require(shardSize >= 1, s"shardSize must be >= 1, got $shardSize")
    val key = md5(concat_ws(":", lit(seed), col(idCol).cast("string")))
    val ordered = df
      .select(col(idCol), weightCol.cast("long").as("__w"), key.as("__k"))
      .orderBy(col("__k"), col(idCol))
    graft.operators.Positional.zipWithIndex(ordered, "__pos")
      .groupBy(expr(s"__pos div ${shardSize}L").as("shard_idx"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__w")).as("n_tokens"),
        min(col("__pos")).as("min_pos"), max(col("__pos")).as("max_pos"))
  }

  /** Cross-document duplicated n-grams: the `n`-word shingles that appear
    * in at least `minDocs` DISTINCT documents, ranked by document
    * frequency — the corpus-level repeated-phrase census behind
    * exact-substring dedup decisions and boilerplate discovery (within-doc
    * repetition is [[duplicateNgramStats]]; benchmark overlap is
    * [[contaminatedDocs]]). Returns top-`k` rows
    * `(gram, n_docs)`, ties broken by gram text.
    *
    * 100 TB posture: per-document DISTINCT shingling happens map-side
    * (`shinglesOfTokens` emits a de-duplicated array per row), the
    * document-frequency aggregate gets map-side partial aggregation on the
    * gram key, and the `orderBy().limit(k)` tail plans as Catalyst's
    * TakeOrderedAndProject — a per-partition k-heap + driver merge of
    * O(k·#partitions), never a global sort of the vocabulary. If the
    * vocabulary itself cannot be shuffled, the bounded-memory sibling is
    * [[graft.operators.FrequentItems.topKSketch]] (q_freq_ngrams).
    */
  def crossDocNgrams(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int, k: Int): DataFrame = {
    require(n >= 1 && minDocs >= 1 && k >= 1,
      s"need n, minDocs, k >= 1; got n=$n minDocs=$minDocs k=$k")
    val grams = df
      .select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(Text.shinglesOfTokens(col("__toks"), n))
        .as("gram"))
    grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("gram").asc)
      .limit(k)
  }

  /** Ceiling on the INPUT's plan-statistics bytes up to which
    * [[maskDuplicateSpans]]' auto mode broadcasts the duplicated-gram
    * set: the ≥ minDocs gram-hash set is bounded by one 8-byte hash per
    * input token (~1.3× the input's text bytes in the degenerate
    * all-duplicated case), so a 1 GiB input bounds the broadcast at
    * ~1.3 GiB worst-case and typically far less.
    */
  val BroadcastDupsMaxInputBytes: Long = 1L << 30 // 1 GiB

  /** ExactSubstr-style cross-document duplicate-SPAN removal (Lee et al.
    * 2021, arXiv:2107.06499, public — "Deduplicating Training Data Makes
    * Language Models Better"): drop every token lying inside an `n`-gram
    * that occurs in ≥ `minDocs` DISTINCT documents. Where document-level
    * dedup keeps or drops whole documents, this removes the duplicated
    * SPANS (quotes, licenses, templated passages) and keeps the unique
    * remainder — token-granular, the paper's substring-dedup semantics
    * with fixed n-gram probes instead of a suffix automaton (EXACT for
    * spans of length ≥ n — coverage proof on
    * [[duplicateSpanIntervals]], which also emits the maximal
    * variable-length spans as intervals). `countOccurrences = true`
    * switches the census from distinct-document counting to the paper's
    * total-occurrence counting (within-document repeats count toward
    * `minDocs`).
    *
    * Returns one row per input document:
    * `(<idCol>, n_tokens, n_masked, clean_text)` — clean_text is the
    * surviving tokens in original order, space-joined; a fully-duplicated
    * document survives as an empty string.
    *
    * 100 TB posture: tokenization is persisted across the census and
    * rebuild passes (released after the consuming action); the duplicated
    * -gram census is a per-doc-distinct + hash aggregate on the gram key
    * (the [[crossDocNgrams]] shuffle shape — (id, gram) scalars, never
    * documents); the ≥ minDocs tail is broadcast or shuffled so
    * occurrence marking is map-side; covered positions aggregate per doc
    * id, bounded by document length; the rebuild is `array_except`
    * (hash-based, O(len + masked)) + one ordered projection per row. No
    * step is quadratic in anything but a single document's length.
    *
    * `broadcastDups = None` (default) AUTO-SELECTS the marking join from
    * the INPUT's plan-statistics bytes: at or below
    * [[BroadcastDupsMaxInputBytes]] the ≥ minDocs gram-hash set is
    * broadcast (it is bounded by ~1.3× the input's token bytes, so a
    * small input cannot produce an OOM-sized set); above it — a
    * boilerplate-heavy web corpus can push the set to billions of 8-byte
    * hashes — the semi-join hash-shuffles on the gram key instead.
    * `Some(true)`/`Some(false)` overrides (stats-less inputs report the
    * defaultSizeInBytes sentinel and auto-select broadcast — pass
    * `Some(false)` for a genuinely huge stats-less frame). Mirrors the
    * `ivfAssign` sizing-scan guard: the footgun is auto-detected, not
    * caller-remembered.
    */
  def maskDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Long,
      broadcastDups: Option[Boolean] = None,
      countOccurrences: Boolean = false): DataFrame = {
    val (toks, maskedPos) = maskedSpanPositions(df, idCol, textCol, n,
      minDocs, countOccurrences, broadcastDups)
    val out = rebuildCleanText(toks.join(maskedPos, Seq(idCol), "left"), idCol)
    graft.operators.Release.hold(toks)
    out
  }

  /** Shared rebuild of [[maskDuplicateSpans]]' output shape from a frame
    * with `(<idCol>, __toks, __mask)` (null/absent mask = nothing masked):
    * `(<idCol>, n_tokens, n_masked, clean_text)`. Also the query-side
    * emitter of [[SpanIndex.maskFromSpanIndex]].
    */
  private[graft] def rebuildCleanText(joined: DataFrame,
      idCol: String): DataFrame = rebuildCleanText(joined, Seq(idCol))

  /** Multi-key variant for the batched sweeps: leading `idCols` carry
    * through (e.g. `(min_len, <idCol>)` in
    * [[SpanIndex.maskSweepFromSpanIndex]]).
    */
  private[graft] def rebuildCleanText(joined: DataFrame,
      idCols: Seq[String]): DataFrame = {
    val empty = array().cast("array<int>")
    joined
      .withColumn("__mask", coalesce(col("__mask"), empty))
      .select(idCols.map(col) ++ Seq(
        size(col("__toks")).cast("long").as("n_tokens"),
        size(col("__mask")).cast("long").as("n_masked"),
        concat_ws(" ", transform(
          array_sort(array_except(
            when(size(col("__toks")) === 0, empty)
              .otherwise(sequence(lit(1), size(col("__toks")))),
            col("__mask"))),
          p => element_at(col("__toks"), p))).as("clean_text")): _*)
  }

  /** Shared census + marking core of [[maskDuplicateSpans]] /
    * [[duplicateSpanIntervals]]: returns `(toks, maskedPos)` — the
    * persisted `(<idCol>, __toks)` tokenization (caller must arrange its
    * release after the consuming action) and the per-doc
    * `(<idCol>, __mask)` covered-position sets.
    */
  private def maskedSpanPositions(df: DataFrame, idCol: String,
      textCol: String, n: Int, minCount: Long, countOccurrences: Boolean,
      broadcastDups: Option[Boolean]): (DataFrame, DataFrame) = {
    require(n >= 1 && minCount >= 1,
      s"need n, minCount >= 1; got n=$n minCount=$minCount")
    // DISK_ONLY per the SCALE.md r10 persist rule: corpus-sized token
    // arrays, live across the census aggregate and the mask collect.
    val toks = df.select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // positional occurrences keyed on xxhash64(gram), NOT the gram text:
    // the census shuffles (id, hash) scalars — ~8 bytes instead of an
    // n-token string, a ~6× shuffle-byte cut at n = 8 — and the marking
    // join carries the same 8-byte key. Collision risk of the 64-bit key
    // is birthday-bounded at ~G²/2⁶⁵ for G distinct grams (≈ 5e-6 even at
    // ten billion grams), and a collision can only OVER-mask a span —
    // acceptable for a dedup scrubber, and the oracle comparison would
    // catch one at gate scale.
    val occ = toks.select(col(idCol),
        posexplode(Text.ngramsOfTokens(col("__toks"), n))
          .as(Seq("__p", "gram")))
      .select(col(idCol), (col("__p") + 1).as("start"),
        xxhash64(col("gram")).as("__g"))
    // census: distinct-DOC counting (boilerplate semantics) or total
    // positional occurrences (Lee et al. ExactSubstr semantics — a span
    // repeated within ONE document also counts, so self-repeats dedup)
    val dup = (if (countOccurrences) occ
               else occ.select(col(idCol), col("__g")).distinct())
      .groupBy(col("__g")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minCount)
      .select(col("__g"))
    val doBroadcast = broadcastDups.getOrElse {
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val unknown =
        bytes == df.sparkSession.sessionState.conf.defaultSizeInBytes
      unknown || bytes <= BroadcastDupsMaxInputBytes
    }
    // the shuffled path is hinted: the dup aggregate sits above a
    // file-stats-under-estimated explode, the exact shape the static
    // planner eagerly broadcast-builds (SCALE.md round-8 lesson) — which
    // is precisely what auto-select just decided against
    val dupSide = if (doBroadcast) broadcast(dup) else dup.hint("shuffle_hash")
    val maskedPos = occ.join(dupSide, Seq("__g"), "left_semi")
      .select(col(idCol),
        explode(sequence(col("start"), col("start") + (n - 1))).as("pos"))
      .distinct()
      .groupBy(col(idCol))
      .agg(collect_set(col("pos")).as("__mask"))
    (toks, maskedPos)
  }

  /** VARIABLE-LENGTH duplicate spans as explicit intervals — the full
    * ExactSubstr output shape of Lee et al. 2021 (arXiv:2107.06499): one
    * row per MAXIMAL duplicated span,
    * `(<idCol>, span_start, span_end, span_len, span_text)` (1-based
    * inclusive token positions). Spans of ANY length ≥ `minLen` emerge at
    * their true extent: a 50-token shared license block is one 50-token
    * row, not a set of fixed-n fragments.
    *
    * WHY a fixed-`minLen` n-gram census suffices (no suffix
    * automaton/array needed for this semantics): a token lies inside some
    * duplicated substring of length ≥ minLen **iff** it lies inside some
    * duplicated minLen-gram. (⇐: a minLen-gram is such a substring. ⇒:
    * every occurrence of the longer substring induces an occurrence of
    * each of its minLen-windows, so each window meets the count
    * threshold; and any token of a length-L ≥ minLen span is contained in
    * at least one of its L−minLen+1 windows.) Masked positions are
    * therefore EXACTLY the tokens of duplicated-span coverage, and the
    * maximal contiguous masked runs are the maximal duplicated spans —
    * computed here with per-row array ops (no window function, no sort
    * beyond each doc's own positions). The suffix-array construction
    * (algorithmic kin of [[graft.examples.Examples.suffixArray]]) buys
    * nothing for fixed minLen; it is only needed when minLen must vary
    * per query over one precomputed index.
    *
    * `countOccurrences = true` (default) is the paper's counting: ≥
    * `minCount` occurrences ANYWHERE, including repeats inside one
    * document; `false` counts distinct documents (boilerplate
    * convention). Census/marking/broadcast posture identical to
    * [[maskDuplicateSpans]]; the islands pass adds one per-row array
    * traversal, nothing cross-row.
    */
  def duplicateSpanIntervals(df: DataFrame, idCol: String, textCol: String,
      minLen: Int, minCount: Long, countOccurrences: Boolean = true,
      broadcastDups: Option[Boolean] = None): DataFrame = {
    val (toks, maskedPos) = maskedSpanPositions(df, idCol, textCol, minLen,
      minCount, countOccurrences, broadcastDups)
    val out = islandSpans(
      toks.join(maskedPos, Seq(idCol))
        .withColumn("__ps", array_sort(col("__mask"))),
      idCol)
    graft.operators.Release.hold(toks)
    out
  }

  /** Gaps-and-islands bound extraction shared by [[islandSpans]] and
    * [[SpanIndex.spanIntervalsSweep]]: appends `__starts` / `__ends`
    * arrays to any frame carrying `__ps` — the SORTED 1-based masked
    * token positions. A run start has no predecessor position, a run end
    * no successor (1-based element_at; the filter index is 0-based, so
    * element_at(ps, i) is the PREVIOUS element and element_at(ps, i + 2)
    * the NEXT).
    */
  private[graft] def islandBounds(withPs: DataFrame): DataFrame =
    withPs
      .withColumn("__starts", filter(col("__ps"),
        (p, i) => (i === 0) || (element_at(col("__ps"), i) =!= p - 1)))
      .withColumn("__ends", filter(col("__ps"),
        (p, i) => (i === size(col("__ps")) - 1) ||
          (element_at(col("__ps"), i + 2) =!= p + 1)))

  /** Shared gaps-and-islands run extraction over a frame with
    * `(<idCol>, __toks, __ps)` ([[islandBounds]] for the bound arrays).
    * Emits [[duplicateSpanIntervals]]' output rows; also the
    * query-side emitter of [[SpanIndex.spanIntervalsFromIndex]].
    */
  private[graft] def islandSpans(withMask: DataFrame,
      idCol: String): DataFrame =
    islandBounds(withMask)
      .select(col(idCol), col("__toks"),
        explode(arrays_zip(col("__starts"), col("__ends"))).as("__r"))
      .select(col(idCol),
        col("__r.__starts").as("span_start"),
        col("__r.__ends").as("span_end"),
        (col("__r.__ends") - col("__r.__starts") + 1).as("span_len"),
        concat_ws(" ", slice(col("__toks"), col("__r.__starts"),
          col("__r.__ends") - col("__r.__starts") + 1)).as("span_text"))

  /** Largest-remainder allocation of `totalK` over `(domain, n)` counts
    * with integer temperature weights `floor(n^alpha)`; public for spec
    * visibility — [[mixtureSample]] is the distributed consumer.
    */
  def mixtureAllocation(counts: Seq[(String, Long)], totalK: Int,
      alpha: Double): Map[String, Long] = {
    if (counts.isEmpty) return Map.empty
    val w: Long => Long = n =>
      if (alpha == 0.5) math.sqrt(n.toDouble).toLong
      else math.floor(math.pow(n.toDouble, alpha)).toLong
    val ws = counts.map { case (d, n) => (d, n, math.max(w(n), 1L)) }
    val totW = ws.map(_._3).sum
    val base = ws.map { case (d, n, wd) =>
      (d, n, totalK * wd / totW, totalK * wd % totW) }
    val spare = totalK - base.map(_._3).sum
    val bump = base.sortBy { case (d, _, _, rem) => (-rem, d) }
      .take(spare.toInt).map(_._1).toSet
    base.map { case (d, n, b, _) =>
      d -> math.min(b + (if (bump(d)) 1L else 0L), n) }.toMap
  }
}
