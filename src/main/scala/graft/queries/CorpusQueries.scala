package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Corpus, SpanIndex, Text}

/** Corpus-level training-pipeline gates (graft.functions.Corpus):
  * benchmark decontamination, heavy hitters, PII scrubbing, exact
  * stratified sampling, repetition quality signals. Every query's semantics
  * are fully re-expressed in the DuckDB oracle — no rows-only checks.
  */
object CorpusQueries {

  /** Newline-bearing fixture derived IN-QUERY from the documents table
    * (the driver corpus has no newlines — re-verified every round): a
    * planted nav header on even doc_ids, the document text split into two
    * body lines at its midpoint, a planted footer on doc_id % 3 == 0.
    * Pure string surgery both engines reproduce verbatim, so the line
    * gates keep a DuckDB oracle over the same parquet.
    */
  private def newlineFixture(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select($"doc_id", concat(
      when($"doc_id" % 2 === 0, lit("nav home about contact\n"))
        .otherwise(lit("")),
      expr("substring(text, 1, length(text) div 2)"),
      lit("\n"),
      expr("substring(text, length(text) div 2 + 1)"),
      when($"doc_id" % 3 === 0, lit("\ncopyright footer all rights reserved"))
        .otherwise(lit(""))).as("text"))
  }

  /** Duplicate-SPAN fixture: spans of three different lengths planted on
    * the documents table — a ~21-token license block (docs % 7 == 0), an
    * exactly-8-token quote (% 5 == 0), and a WITHIN-DOC repeat of a
    * doc-unique 8-token phrase (% 11 == 0, two adjacent copies merging
    * into one 16-token maximal run, visible only to occurrence counting).
    * Shared by the census gate (q_span_intervals) and the index gates
    * (q_span_index_multi).
    */
  private def spanFixture(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select($"doc_id", concat(
      when($"doc_id" % 7 === 0,
        lit("license block alpha beta gamma delta epsilon zeta eta " +
          "theta iota kappa lambda mu nu xi omicron rho sigma tau upsilon "))
        .otherwise(lit("")),
      $"text",
      when($"doc_id" % 5 === 0, lit(" quote aa bb cc dd ee ff gg"))
        .otherwise(lit("")),
      when($"doc_id" % 11 === 0, concat(
        lit(" rep"), $"doc_id".cast("string"),
        lit(" s1 s2 s3 s4 s5 s6 s7 rep"), $"doc_id".cast("string"),
        lit(" s1 s2 s3 s4 s5 s6 s7"))).otherwise(lit(""))
    ).as("text"))
  }

  /** r16 serve shape shared by the two-threshold index gates: both
    * thresholds from ONE tokenize + ONE join via [[SpanIndex
    * .spanIntervalsSweep]] instead of a tokenize+join per threshold
    * (guide §2.4 — the second full-fixture pass was duplicated work; the
    * baseline A/B is committed: the 3-threshold sweep gate outran the
    * 2-threshold two-pass gate on the same build). The trailing select
    * restores the declared column order (min_len LAST, as the historical
    * per-threshold union emitted), so the gate output is bit-identical.
    * The repartition feeds the sweep's index-side mask work the
    * distributed layout the sweep gate already prescribes (an
    * AQE-coalesced toy-scale index cache otherwise serializes it).
    */
  private def serveIntervals2(s: SparkSession, idx: DataFrame,
      fx: DataFrame): DataFrame = {
    import s.implicits._
    SpanIndex.spanIntervalsSweep(
        idx.repartition(s.sparkContext.defaultParallelism, $"doc_id"),
        fx, "doc_id", "text", Seq(8, 16))
      .select($"doc_id", $"span_start", $"span_end", $"span_len",
        $"span_text", $"min_len")
      .orderBy($"min_len", $"doc_id", $"span_start")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // LINE-convention boilerplate discovery (RefinedWeb/CCNet rule on
    // real line structure): every verbatim line in >= 10 distinct docs of
    // the newline fixture — catches the planted header (250 docs) and
    // footer (~167 docs) plus any >= 10-copy duplicate body halves.
    "q_boilerplate_lines" -> ((s, d) => {
      import s.implicits._
      Corpus.boilerplateLines(newlineFixture(s, d), "doc_id", "text",
          minDocs = 10)
        .orderBy($"n_docs".desc, $"segment")
    }),

    // LINE-convention scrub: drop the >= 10-doc lines from every fixture
    // document, reassemble survivors \n-joined in original order. The
    // oracle rebuilds clean_text line-for-line.
    "q_boilerplate_scrub_lines" -> ((s, d) => {
      import s.implicits._
      Corpus.scrubBoilerplateLines(newlineFixture(s, d), "doc_id", "text",
          minDocs = 10)
        .orderBy($"doc_id")
    }),

    // Web-dedup lifecycle composite — the URL-to-token dedup funnel a
    // crawl pipeline runs, in one query: canonical-URL dedup (variants
    // of the same page collapse, min doc_id survives) -> exact content
    // dedup among survivors (md5(text) groups, min id) -> cross-doc
    // duplicate-SPAN masking of what remains. Every stage's semantics is
    // re-derived in one SQL chain; output is the span-masked survivor
    // corpus.
    "q_web_dedup_pipeline" -> ((s, d) => {
      import s.implicits._
      val k = ($"doc_id" % 50).cast("string")
      val m = ($"doc_id" % 100).cast("string")
      val url = when($"doc_id" % 4 === 0,
          concat(lit("HTTPS://WWW.Site"), k, lit(".Example.COM/p/"), m,
            lit("/?b=2&a=1#frag")))
        .when($"doc_id" % 4 === 1,
          concat(lit("https://site"), k, lit(".example.com/p/"), m,
            lit("?a=1&b=2&utm_source=x")))
        .when($"doc_id" % 4 === 2,
          concat(lit("https://Site"), k, lit(".example.com/p/"), m,
            lit("/?utm_campaign=z&b=2&a=1")))
        .otherwise(
          concat(lit("https://www.site"), k, lit(".example.com/p/"), m,
            lit("?gclid=abc&b=2&a=1")))
      val docs = Tables.documents(s, d)
        .select($"doc_id", $"text", Text.canonicalUrl(url).as("canon_url"))
      val urlKept = docs.join(
        docs.groupBy($"canon_url").agg(min($"doc_id").as("doc_id"))
          .select($"doc_id"),
        Seq("doc_id"), "left_semi")
      val contentKept = graft.functions.Dedup.exactDedupCorpus(
        urlKept, "doc_id", Seq(md5($"text").as("h")))
      Corpus.maskDuplicateSpans(contentKept, "doc_id", "text",
          n = 8, minDocs = 2)
        .orderBy($"doc_id")
    }),

    // VARIABLE-LENGTH duplicate spans as maximal intervals (the full
    // ExactSubstr output shape, occurrence-counted census): planted
    // spans of three different lengths — a ~21-token license block
    // (docs % 7 == 0), an exactly-minLen 8-token quote (% 5 == 0), and a
    // WITHIN-DOC repeat of a doc-unique 8-token phrase (% 11 == 0, two
    // adjacent copies merging into one 16-token maximal run, visible
    // only to occurrence counting) — each emerges at its true extent.
    // The oracle re-derives the fixture, the occurrence census, the
    // covered-position union, and the gaps-and-islands run extraction.
    "q_span_intervals" -> ((s, d) => {
      import s.implicits._
      Corpus.duplicateSpanIntervals(spanFixture(s, d), "doc_id", "text",
          minLen = 8, minCount = 2)
        .orderBy($"doc_id", $"span_start")
    }),

    // MULTI-threshold span index (SpanIndex): ONE capped-suffix-sort build
    // over the span fixture answers minLen 8 AND 16 — the 21-token license
    // block survives both, the exactly-8-token quote and the within-doc
    // 16-token merged repeat exist only at 8 (a 16-gram over the merged
    // run occurs once per doc). cap=24 > the license block, floor=8, so
    // the 8-row must match q_span_intervals' census output EXACTLY; the
    // oracle re-derives BOTH thresholds with independent censuses.
    "q_span_index_multi" -> ((s, d) => {
      import s.implicits._
      val fx = spanFixture(s, d)
      val idx = SpanIndex.buildDuplicateSpanIndex(fx, "doc_id", "text",
        floor = 8, cap = 24)
      // MEMORY_AND_DISK fine for these index persists (SCALE.md r10
      // persist rule audit): the index is dup-minority-sized (one int
      // pair per candidate position), not corpus-sized.
      idx.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = serveIntervals2(s, idx, fx)
      graft.operators.Release.hold(idx)
      out
    }),

    // BATCHED threshold sweep from one index: THREE minLen values served
    // by ONE tokenize + ONE equi-join (spanIntervalsSweep) instead of a
    // join per threshold — the index's interactive multi-threshold
    // regime at its natural cost. The oracle re-derives all three
    // thresholds with independent censuses.
    "q_span_index_sweep" -> ((s, d) => {
      import s.implicits._
      val fx = spanFixture(s, d)
      // hash-distribute the index before persisting — the sweep's
      // per-threshold mask work runs on the INDEX side (pre-join), so it
      // inherits the index's layout; an AQE-coalesced toy-scale cache
      // (1-2 partitions) serializes it (the SCALE.md r10 stored-index
      // layout lesson, in-memory edition — measured +4 s at sf1)
      val idx = SpanIndex.buildDuplicateSpanIndex(fx, "doc_id", "text",
          floor = 8, cap = 24)
        .repartition(s.sparkContext.defaultParallelism, $"doc_id")
      idx.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = SpanIndex.spanIntervalsSweep(idx, fx, "doc_id", "text",
          Seq(8, 12, 16))
        .orderBy($"min_len", $"doc_id", $"span_start")
      graft.operators.Release.hold(idx)
      out
    }),

    // INCREMENTAL append: the index is built over 90% of the fixture
    // (doc_id % 10 != 0), then the remaining 10% is appended —
    // suffix-sorting only the delta neighborhood — and the result must
    // serve the FULL corpus exactly like a from-scratch build: the
    // oracle is the same two-threshold full-fixture census re-derivation
    // as q_span_index_multi.
    "q_span_index_append" -> ((s, d) => {
      import s.implicits._
      val fx = spanFixture(s, d)
      val old = fx.filter($"doc_id" % 10 =!= 0)
      val nw = fx.filter($"doc_id" % 10 === 0)
      val idx0 = SpanIndex.buildDuplicateSpanIndex(old, "doc_id", "text",
        floor = 8, cap = 24)
      idx0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val idx = SpanIndex.appendToSpanIndex(idx0, old, nw, "doc_id",
        "text", floor = 8, cap = 24, rebuildFraction = 1.0)
      idx.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = serveIntervals2(s, idx, fx)
      graft.operators.Release.hold(idx, idx0)
      out
    }),

    // CENSUS-SIDECAR append (round 14): the same append semantics as
    // q_span_index_append, but the old corpus' floor-gram census rides a
    // stored sidecar (written + re-read, the offline regime), so the
    // append never tokenizes the old text — the 100 TB append posture
    // (the legacy append's one full-corpus census pass was its measured
    // ~20 s floor at sf10p). Same oracle: the sidecar changes where the
    // counts come from, not what they are.
    "q_span_index_append_census" -> ((s, d) => {
      import s.implicits._
      val fx = spanFixture(s, d)
      val old = fx.filter($"doc_id" % 10 =!= 0)
      val nw = fx.filter($"doc_id" % 10 === 0)
      val base = java.nio.file.Files.createTempDirectory("graft_spcen_")
      val (idx0, cen0) = SpanIndex.buildDuplicateSpanIndexWithCensus(old,
        "doc_id", "text", floor = 8, cap = 24)
      idx0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // materialize the index BEFORE the census write (r16): the build's
      // snapshots are held for the whole gate (its Release scope), so the
      // suffix sort runs once, here, and the census write reads the
      // build's cached token snapshot (the WithCensus ordering contract).
      idx0.count()
      SpanIndex.writeSpanCensus(cen0, base.resolve("cen").toString)
      val cen = SpanIndex.readSpanCensus(s, base.resolve("cen").toString)
      val (idx, _) = SpanIndex.appendToSpanIndexWithCensus(idx0, cen, old,
        nw, "doc_id", "text", floor = 8, cap = 24, rebuildFraction = 1.0)
      idx.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = FacadeQueries.collectEager(serveIntervals2(s, idx, fx))
      graft.operators.Release.hold(idx, idx0)
      FacadeQueries.deleteRecursively(base)
      out
    }),

    // BUCKETED census store + STORE-CHAINED appends (round 15): the
    // census sidecar's 100 TB posture end-to-end — the store writes
    // grams PARTITIONED by gram-hash bucket with a stored counts frame
    // and a mergeable corpus bloom; batch 1 appends against the STORED
    // sidecar (bloom prefilter -> adaptive bucket-pruned probe, stored
    // counts — no members re-aggregation), then appendSpanCensusStore
    // lands batch 1's census delta IN the store (new files in touched
    // buckets only), and batch 2 appends against the UPDATED STORE —
    // the delta-proportional chain with flat lineage. Same oracle as
    // q_span_index_append: the store changes where the probe reads,
    // never what it finds.
    "q_span_index_append_bucketed" -> ((s, d) => {
      import s.implicits._
      val fx = spanFixture(s, d)
      val old = fx.filter($"doc_id" % 10 >= 2)
      val b1 = fx.filter($"doc_id" % 10 === 0)
      val b2 = fx.filter($"doc_id" % 10 === 1)
      val base = java.nio.file.Files.createTempDirectory("graft_spbkt_")
      val cenPath = base.resolve("cen").toString
      val (idx0, cen0) = SpanIndex.buildDuplicateSpanIndexWithCensus(old,
        "doc_id", "text", floor = 8, cap = 24)
      idx0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // same materialize-before-store-write ordering as the census gate
      idx0.count()
      SpanIndex.writeSpanCensus(cen0, cenPath, buckets = 16)
      val cen = SpanIndex.readSpanCensus(s, cenPath)
      require(cen.counts.nonEmpty && cen.gramsByBucket.nonEmpty &&
        cen.bloom.nonEmpty, "bucketed store must carry its accelerators")
      val (idx1, _) = SpanIndex.appendToSpanIndexWithCensus(idx0, cen,
        old, b1, "doc_id", "text", floor = 8, cap = 24,
        rebuildFraction = 10.0)
      idx1.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // materialize batch 1's index before the store append writes
      idx1.count()
      val cen1 = SpanIndex.appendSpanCensusStore(s, cenPath, b1,
        "doc_id", "text", floor = 8)
      val (idx, _) = SpanIndex.appendToSpanIndexWithCensus(idx1, cen1,
        old.unionByName(b1), b2, "doc_id", "text", floor = 8, cap = 24,
        rebuildFraction = 10.0)
      idx.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = FacadeQueries.collectEager(serveIntervals2(s, idx, fx))
      graft.operators.Release.hold(idx, idx1, idx0)
      FacadeQueries.deleteRecursively(base)
      out
    }),

    // BATCHED mask sweep from one index: THREE minLen values of the
    // maskDuplicateSpans output served by ONE tokenize + ONE id-join
    // (maskSweepFromSpanIndex) — the symmetric partner of the intervals
    // sweep for the deduplication regime, which queries masks, not
    // intervals. expectCrossDoc pins the occurrence semantics against
    // the index's recorded mode. The oracle re-derives all three
    // thresholds with independent occurrence censuses and verbatim
    // clean-text rebuilds.
    "q_span_index_mask_sweep" -> ((s, d) => {
      import s.implicits._
      val fx = spanFixture(s, d)
      // same stored-index layout rationale as q_span_index_sweep: the
      // per-threshold mask work runs on the index side pre-join
      val idx = SpanIndex.buildDuplicateSpanIndex(fx, "doc_id", "text",
          floor = 8, cap = 24)
        .repartition(s.sparkContext.defaultParallelism, $"doc_id")
      idx.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = SpanIndex.maskSweepFromSpanIndex(idx, fx, "doc_id", "text",
          Seq(8, 12, 16), expectCrossDoc = Some(false))
        .orderBy($"min_len", $"doc_id")
      graft.operators.Release.hold(idx)
      out
    }),

    // STORED-index interval serving (the q_ann_ivf_disk pattern for the
    // span family): the index is built ONCE, written to parquet
    // hash-distributed on doc_id (the layout the serve join consumes —
    // without it an AQE-coalesced toy-scale write serializes the
    // serve-side mask work), re-read, and the three-threshold intervals
    // sweep is served FROM THE STORE — the offline-build / interactive-
    // query regime. Same oracle as q_span_index_sweep: a stored round
    // trip must change nothing.
    "q_span_index_disk" -> ((s, d) => {
      import s.implicits._
      val fx = spanFixture(s, d)
      val base = java.nio.file.Files.createTempDirectory("graft_spidx_")
      val path = base.resolve("idx").toString
      SpanIndex.buildDuplicateSpanIndex(fx, "doc_id", "text",
          floor = 8, cap = 24)
        .repartition(s.sparkContext.defaultParallelism, $"doc_id")
        .write.mode("overwrite").parquet(path)
      val idx = s.read.parquet(path)
      val out = FacadeQueries.collectEager(
        SpanIndex.spanIntervalsSweep(idx, fx, "doc_id", "text",
            Seq(8, 12, 16))
          .orderBy($"min_len", $"doc_id", $"span_start"))
      FacadeQueries.deleteRecursively(base)
      out
    }),

    // STORED-index mask serving — the dedup-regime twin of
    // q_span_index_disk: same write → re-read round trip, three-threshold
    // MASK sweep served from the store, expectCrossDoc pinning the
    // recorded mode across the round trip. Same oracle as
    // q_span_index_mask_sweep.
    "q_span_index_disk_mask" -> ((s, d) => {
      import s.implicits._
      val fx = spanFixture(s, d)
      val base = java.nio.file.Files.createTempDirectory("graft_spidxm_")
      val path = base.resolve("idx").toString
      SpanIndex.buildDuplicateSpanIndex(fx, "doc_id", "text",
          floor = 8, cap = 24)
        .repartition(s.sparkContext.defaultParallelism, $"doc_id")
        .write.mode("overwrite").parquet(path)
      val idx = s.read.parquet(path)
      val out = FacadeQueries.collectEager(
        SpanIndex.maskSweepFromSpanIndex(idx, fx, "doc_id", "text",
            Seq(8, 12, 16), expectCrossDoc = Some(false))
          .orderBy($"min_len", $"doc_id"))
      FacadeQueries.deleteRecursively(base)
      out
    }),

    // CROSS-DOCUMENT (distinct-doc >= 2) span index: same one-build
    // multi-threshold shape as q_span_index_multi, but counting distinct
    // documents — the fixture's within-doc repeat (% 11, its rep-token
    // phrase is doc-unique) is occurrence-visible yet lives in ONE
    // document, so it must VANISH here while the cross-doc license block
    // and quote survive. The oracle re-derives both thresholds with
    // independent count(DISTINCT doc_id) censuses.
    "q_span_index_cross" -> ((s, d) => {
      import s.implicits._
      val fx = spanFixture(s, d)
      val idx = SpanIndex.buildDuplicateSpanIndex(fx, "doc_id", "text",
        floor = 8, cap = 24, crossDoc = true)
      idx.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = serveIntervals2(s, idx, fx)
      graft.operators.Release.hold(idx)
      out
    }),

    // d >= 3 DISTINCT-document threshold served from one index build —
    // the banded L-block census scan (round 13; retires the last
    // COVERAGE known-limit row): content shared by exactly TWO documents
    // must vanish while the fixture's license block / quote (planted in
    // every %7 / %5 doc) and any >= 3-doc natural duplication survive.
    // Two thresholds from one build; the oracle re-derives both with
    // independent count(DISTINCT doc_id) >= 3 censuses.
    "q_span_index_d3" -> ((s, d) => {
      import s.implicits._
      val fx = spanFixture(s, d)
      val idx = SpanIndex.buildDuplicateSpanIndex(fx, "doc_id", "text",
        floor = 8, cap = 24, crossDoc = true, minDocs = 3)
      idx.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = serveIntervals2(s, idx, fx)
      graft.operators.Release.hold(idx)
      out
    }),

    // Stored-index twin of q_span_index_d3 (the q_span_index_disk
    // pattern for the d >= 3 mode): the minDocs = 3 index is written to
    // parquet hash-distributed on doc_id, re-read, and both thresholds
    // served FROM THE STORE — a round 13 mode must survive the
    // offline-build / interactive-serve regime like every other. Same
    // oracle as q_span_index_d3.
    "q_span_index_d3_disk" -> ((s, d) => {
      import s.implicits._
      val fx = spanFixture(s, d)
      val base = java.nio.file.Files.createTempDirectory("graft_spidx3_")
      val path = base.resolve("idx").toString
      SpanIndex.buildDuplicateSpanIndex(fx, "doc_id", "text",
          floor = 8, cap = 24, crossDoc = true, minDocs = 3)
        .repartition(s.sparkContext.defaultParallelism, $"doc_id")
        .write.mode("overwrite").parquet(path)
      val idx = s.read.parquet(path)
      // already hash-distributed on disk — serve the sweep straight off
      // the store, same declared column order as the historical union
      val out = FacadeQueries.collectEager(
        SpanIndex.spanIntervalsSweep(idx, fx, "doc_id", "text", Seq(8, 16))
          .select($"doc_id", $"span_start", $"span_end", $"span_len",
            $"span_text", $"min_len")
          .orderBy($"min_len", $"doc_id", $"span_start"))
      FacadeQueries.deleteRecursively(base)
      out
    }),

    // Cross-doc index-served mask over the RAW documents table: must
    // equal the census path's boilerplate-convention output
    // (maskDuplicateSpans with countOccurrences = false) — i.e. the
    // q_dedup_spans semantics served from a prebuilt index; the oracle
    // is the same full distinct-doc re-derivation.
    "q_span_index_cross_mask" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val idx = SpanIndex.buildDuplicateSpanIndex(docs, "doc_id", "text",
        floor = 8, cap = 16, crossDoc = true)
      SpanIndex.maskFromSpanIndex(idx, docs, "doc_id", "text", 8)
        .orderBy($"doc_id")
    }),

    // Index-served mask rebuild over the RAW documents table with the
    // ExactSubstr occurrence census (within-doc 8-gram repeats count):
    // must equal the census-path maskDuplicateSpans output; the oracle
    // re-derives positions, the total-occurrence census, and every
    // cleaned text verbatim.
    "q_span_index_mask" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val idx = SpanIndex.buildDuplicateSpanIndex(docs, "doc_id", "text",
        floor = 8, cap = 16)
      SpanIndex.maskFromSpanIndex(idx, docs, "doc_id", "text", 8)
        .orderBy($"doc_id")
    }),

    // ExactSubstr-style duplicate-SPAN removal (Lee et al. 2021): every
    // token inside an 8-gram occurring in >= 2 distinct documents is
    // dropped, unique remainders kept in order — token-granular dedup,
    // strictly finer than the document-level keep/drop gates. The oracle
    // re-derives positions, the cross-doc census, the covered-position
    // union, and every cleaned text verbatim.
    "q_dedup_spans" -> ((s, d) => {
      import s.implicits._
      Corpus.maskDuplicateSpans(Tables.documents(s, d), "doc_id", "text",
          n = 8, minDocs = 2)
        .orderBy($"doc_id")
    }),

    // SENTENCE-convention boilerplate discovery: split on [.!?]+\s+
    // (RE2-safe, both engines verbatim) over a period-separated fixture —
    // planted intro (even ids) and rights footer (ids % 3 == 0) plus the
    // doc text split into two sentences at its midpoint.
    "q_boilerplate_sentences" -> ((s, d) => {
      import s.implicits._
      val fx = Tables.documents(s, d).select($"doc_id", concat(
        when($"doc_id" % 2 === 0, lit("Shared intro sentence. "))
          .otherwise(lit("")),
        expr("substring(text, 1, length(text) div 2)"),
        lit(". "),
        expr("substring(text, length(text) div 2 + 1)"),
        when($"doc_id" % 3 === 0, lit(". All rights reserved"))
          .otherwise(lit(""))).as("text"))
      Corpus.boilerplateSentences(fx, "doc_id", "text", minDocs = 10)
        .orderBy($"n_docs".desc, $"segment")
    }),

    // NORMALIZED line scrub: drop decisions key on lower+digit-scrubbed
    // lines while output keeps the original text — the planted footer
    // carries a PER-DOC page number ("page <id> rendered"), so verbatim
    // matching sees 500 singletons and drops nothing, normalized
    // matching collapses them all to "page 0 rendered" and drops every
    // one. The oracle re-derives the normalize in SQL (regexp_replace
    // with the 'g' flag — DuckDB defaults to first-match-only).
    "q_boilerplate_scrub_norm" -> ((s, d) => {
      import s.implicits._
      val fx = Tables.documents(s, d).select($"doc_id", concat(
        when($"doc_id" % 2 === 0, lit("NAV Home About\n")).otherwise(lit("")),
        expr("substring(text, 1, length(text) div 2)"),
        lit("\n"),
        expr("substring(text, length(text) div 2 + 1)"),
        concat(lit("\npage "), $"doc_id".cast("string"), lit(" rendered")))
        .as("text"))
      Corpus.scrubBoilerplateLinesNormalized(fx, "doc_id", "text",
          minDocs = 10,
          normalize = c => regexp_replace(lower(c), "[0-9]+", "0"))
        .orderBy($"doc_id")
    }),

    // Benchmark decontamination: docs (doc_id % 10 != 0) sharing any
    // distinct 8-gram with the "benchmark" subset (doc_id % 10 == 0).
    // With an 8-word window over this vocabulary, random collisions are
    // ~nil — the hits are exactly the planted duplicate/near-duplicate
    // documents, which is what a decontamination pass exists to catch.
    "q_contamination" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val bench = docs.filter($"doc_id" % 10 === 0)
      val train = docs.filter($"doc_id" % 10 =!= 0)
      Corpus.contaminatedDocs(train, "doc_id", "text", bench, "text", n = 8)
        .orderBy($"doc_id")
    }),

    // Bloom-prefiltered decontamination — the too-big-to-broadcast bench
    // shape. Same exact result (and ORACLE SQL) as q_contamination: the
    // bloom pass only shrinks the verify join's input, never the answer.
    "q_contamination_bloom" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val bench = docs.filter($"doc_id" % 10 === 0)
      val train = docs.filter($"doc_id" % 10 =!= 0)
      Corpus.contaminatedDocsBloom(train, "doc_id", "text", bench, "text",
          n = 8, fpp = 0.01)
        .orderBy($"doc_id")
    }),

    // Weighted k-sample (Efraimidis-Spirakis A-Res): 50 of 500 docs with
    // inclusion odds ~ n_chars+1; seeded integer-hash randomness, so the
    // oracle re-derives the SAME selection (scores well-separated at this
    // k — a boundary pair within one double ulp is the only hazard, and
    // score is rounded to 6 before compare).
    "q_weighted_sample" -> ((s, d) => {
      import s.implicits._
      Corpus.weightedSample(Tables.documents(s, d), "doc_id",
          $"n_chars" + lit(1L), k = 50, seed = 17L)
        .select($"doc_id", $"n_chars", round($"es_score", 6).as("score"))
        .orderBy($"doc_id")
    }),

    // Corpus vocabulary heavy hitters: top-20 tokens by frequency,
    // deterministic tie-break on the token text.
    "q_heavy_hitters" -> ((s, d) =>
      Corpus.heavyHitters(Tables.documents(s, d), "text", 20)),

    // PII scrub over a deterministically "dirtied" corpus (the synthetic
    // documents contain no PII, so the gate plants emails / URLs / IPs /
    // account numbers by doc_id arithmetic reproduced in the oracle).
    // Counts are taken per stage on that stage's input, matching the
    // sequential scrub order (URL → email → IP → long digit run).
    "q_pii_scrub" -> ((s, d) => {
      import s.implicits._
      val noisy = Tables.documents(s, d).select($"doc_id", concat(
        $"text",
        when($"doc_id" % 3 === 0,
          concat(lit(" mail user"), $"doc_id".cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when($"doc_id" % 5 === 0,
          concat(lit(" link https://data.example.org/p/"),
            $"doc_id".cast("string"), lit("?q=1"))).otherwise(lit("")),
        when($"doc_id" % 7 === 0,
          concat(lit(" host 10.0."), ($"doc_id" % 200).cast("string"),
            lit(".255 acct 12345678901"))).otherwise(lit(""))).as("t"))
      noisy
        .withColumn("n_url", Corpus.countRe($"t", Corpus.urlRe))
        .withColumn("t1", Corpus.scrubUrls($"t"))
        .withColumn("n_email", Corpus.countRe($"t1", Corpus.emailRe))
        .withColumn("t2", Corpus.scrubEmails($"t1"))
        .withColumn("n_ip", Corpus.countRe($"t2", Corpus.ipRe))
        .withColumn("t3", Corpus.scrubIps($"t2"))
        .withColumn("n_num", Corpus.countRe($"t3", Corpus.longNumRe))
        .withColumn("scrubbed", Corpus.scrubLongNums($"t3"))
        .select($"doc_id", $"n_url", $"n_email", $"n_ip", $"n_num",
          md5($"scrubbed").as("scrub_md5"))
        .orderBy($"doc_id")
    }),

    // Exact stratified sample: 3 docs per source, ranked by md5(text)
    // (reproducible pseudo-random) with doc_id tie-break.
    "q_stratified_sample" -> ((s, d) => {
      import s.implicits._
      Corpus.stratifiedSample(Tables.documents(s, d), "source", k = 3,
          orderCol = "text", idCol = "doc_id")
        .select($"source", $"doc_id", $"rn")
        .orderBy($"source", $"rn")
    }),

    // Bounded-memory frequent n-grams (Misra-Gries sketch aggregator):
    // top-15 trigrams by DOCUMENT frequency (shinglesOfTokens is per-doc
    // distinct) in ONE pass with O(capacity) memory — the scale path when
    // the n-gram vocabulary itself can't be shuffled (q_heavy_hitters is
    // the exact-vocabulary sibling). capacity=65536 exceeds the distinct
    // trigram count at every test SF (~27k, vocabulary-bound), so no
    // decrement ever fires and the sketch is provably exact = the DuckDB
    // group-by oracle; the approximate regime's error bounds are
    // property-tested in FrequentItemsSpec.
    "q_freq_ngrams" -> ((s, d) => {
      import s.implicits._
      val grams = Tables.documents(s, d)
        .select(Text.tokens($"text").as("__toks"))
        .select(explode(Text.shinglesOfTokens($"__toks", 3)).as("gram"))
      graft.operators.FrequentItems.topKSketch(grams, $"gram",
        capacity = 65536, k = 15)
    }),

    // TF-IDF keyword extraction: top-3 characteristic terms per document
    // (docs 0-49) from Corpus.termStats. Ranking uses the integer-rational
    // rarity score floor(tf·10⁶·(N+1)/(df+1)) — rank-monotone in tf and
    // 1/df like tf-idf, but exact integer arithmetic in both engines
    // (ln() is not IEEE-exact across engines; the double tfidf column is
    // spec-tested instead).
    "q_tfidf" -> ((s, d) => {
      import s.implicits._
      val stats = Corpus.termStats(Tables.documents(s, d), "doc_id", "text")
        .filter($"doc_id" < 50)
      val scored = stats.withColumn("score_u",
        floor($"tf" * lit(1000000L) * ($"n_docs" + 1) / ($"doc_freq" + 1))
          .cast("long"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"score_u".desc, $"term")
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"doc_id", $"rank", $"term", $"tf", $"doc_freq", $"score_u")
        .orderBy($"doc_id", $"rank")
    }),

    // BM25 keyword ranking: top-3 terms per document (docs 0-29) from
    // Corpus.bm25Stats. The rank score is the BM25 tf-saturation term with
    // k1=1.2, b=0.75 and the (N+1)/(df+1) rarity surrogate, cleared of
    // fractions: 22000·tf·Σdl·(N+1) div ((df+1)·(10·tf·Σdl + 3·Σdl +
    // 9·dl·N)) — pure BIGINT arithmetic, identical in both engines (the
    // true-ln bm25 double is spec-tested instead; long overflow bound is
    // ~sf100, far beyond any oracle SF).
    "q_bm25" -> ((s, d) => {
      import s.implicits._
      val stats = Corpus.bm25Stats(Tables.documents(s, d), "doc_id", "text")
        .filter($"doc_id" < 30)
      val scored = stats
        .withColumn("__num", lit(22000L) * $"tf" * $"sum_dl" * ($"n_docs" + 1))
        .withColumn("__den", ($"doc_freq" + 1) *
          (lit(10L) * $"tf" * $"sum_dl" + lit(3L) * $"sum_dl" +
            lit(9L) * $"dl" * $"n_docs"))
        .withColumn("score_u", expr("__num div __den"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"score_u".desc, $"term")
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"doc_id", $"rank", $"term", $"tf", $"dl", $"doc_freq", $"score_u")
        .orderBy($"doc_id", $"rank")
    }),

    // Context-window chunking: 32-token windows advancing by 24 (8-token
    // overlap), trailing remainder kept — the chunk-count and slice
    // arithmetic is reproduced exactly in the oracle.
    "q_chunk" -> ((s, d) => {
      import s.implicits._
      Corpus.chunkDocs(Tables.documents(s, d), "doc_id", "text",
          window = 32, stride = 24)
        .orderBy($"doc_id", $"chunk_idx")
    }),

    // Incremental corpus diff: two snapshots derived deterministically
    // from the documents table (old drops doc_id % 11 == 3 → those ids
    // are "added"; new drops doc_id % 13 == 5 → "removed"; new rewrites
    // text when doc_id % 9 == 0 → "changed"); the same construction is
    // reproduced in the oracle.
    "q_corpus_diff" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val oldSnap = docs.filter($"doc_id" % 11 =!= 3)
      val newSnap = docs.filter($"doc_id" % 13 =!= 5)
        .select($"doc_id",
          when($"doc_id" % 9 === 0, concat($"text", lit(" updated rev2")))
            .otherwise($"text").as("text"))
      Corpus.corpusDiff(oldSnap, newSnap, "doc_id", "text")
        .orderBy($"doc_id")
    }),

    // Per-document repetition signal: most-frequent-token count + fraction.
    "q_repetition" -> ((s, d) => {
      import s.implicits._
      Corpus.repetitionStats(Tables.documents(s, d), "doc_id", "text")
        .orderBy($"doc_id")
    }),

    // Boilerplate detection (RefinedWeb-style segment dedup): 8-token
    // non-overlapping segments appearing in >= 2 distinct documents —
    // on this corpus these are exactly the shared runs of the planted
    // duplicate/near-duplicate documents.
    "q_boilerplate_segments" -> ((s, d) => {
      import s.implicits._
      Corpus.boilerplateSegments(Tables.documents(s, d), "doc_id", "text",
          segLen = 8, minDocs = 2)
        .orderBy($"n_docs".desc, $"segment")
    }),

    // Bigram-LM fluency scoring: model trained on the doc_id % 10 != 0
    // split, ALL docs scored (so the unseen-bigram path is exercised by
    // the held-out tenth). Gated columns are the fixed-point integer
    // score (exact in both engines); the true-ln logprob is spec-tested.
    "q_ngram_lm" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val model = Corpus.bigramLm(docs.filter($"doc_id" % 10 =!= 0), "text")
      Corpus.bigramLmScore(docs, "doc_id", "text", model)
        .select($"doc_id", $"n_bigrams", $"n_unseen", $"score_u", $"avg_u")
        .orderBy($"doc_id")
    }),

    // BM25 full-text search: top-10 docs for a 3-term bag-of-words query,
    // ranked by the summed integer-rational BM25 surrogate (exact in both
    // engines; the true-ln double column is spec-tested, not gated).
    "q_search_topk" -> ((s, d) => {
      import s.implicits._
      Corpus.searchTopK(Tables.documents(s, d), "doc_id", "text",
          Seq("hash", "stream", "window"), k = 10)
        .select($"doc_id", $"n_hit_terms", $"score_u")
        .orderBy($"score_u".desc, $"doc_id")
    }),

    // Same query through the PERSISTED inverted index (searchIndexWrite →
    // searchIndex): hash-of-term bucket layout, static partition pruning
    // on the query's buckets (plan-asserted in CorpusSpec). Identical
    // answer — and identical oracle — to q_search_topk.
    "q_search_disk" -> ((s, d) => {
      import s.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft_sidx_")
      val path = base.resolve("idx").toString
      Corpus.searchIndexWrite(Tables.documents(s, d), "doc_id", "text",
        path, nBuckets = 16)
      val out = FacadeQueries.collectEager(
        Corpus.searchIndex(s, path, "doc_id",
            Seq("hash", "stream", "window"), nBuckets = 16, k = 10)
          .select($"doc_id", $"n_hit_terms", $"score_u")
          .orderBy($"score_u".desc, $"doc_id"))
      FacadeQueries.deleteRecursively(base)
      out
    }),

    // Boilerplate scrub: same segment rule, segments dropped from every
    // document and the survivors reassembled in order; per-doc counts +
    // the cleaned text are all checked against the oracle.
    "q_boilerplate_scrub" -> ((s, d) => {
      import s.implicits._
      Corpus.scrubBoilerplate(Tables.documents(s, d), "doc_id", "text",
          segLen = 8, minDocs = 2)
        .orderBy($"doc_id")
    }),

    // Gopher-style duplicate-n-gram quality signals for n = 2, 3: the
    // fraction of n-gram occurrences belonging to a within-document
    // duplicate, plus the top n-gram's occurrence count — the repeated-
    // phrase analog of q_repetition's top-token rule. Long format, one
    // row per (doc, n), zero rows kept for gram-less documents.
    "q_dup_ngrams" -> ((s, d) => {
      import s.implicits._
      Corpus.duplicateNgramStats(Tables.documents(s, d), "doc_id", "text",
          ns = Seq(2, 3))
        .orderBy($"doc_id", $"n")
    }),

    // Sequence packing (concat-and-chunk pretraining prep): documents in
    // doc_id order, each closed by an <eos> token, packed into 64-token
    // training sequences; documents span boundaries, sequences span
    // documents. The oracle rebuilds the identical global token stream
    // with a window cumsum and compares every sequence verbatim.
    "q_pack_sequences" -> ((s, d) => {
      import s.implicits._
      Corpus.packSequences(Tables.documents(s, d), "doc_id", "text",
          seqLen = 64)
        .orderBy($"seq_idx")
    }),

    // The same pack layout as per-fragment boundary metadata (seq_idx,
    // doc_id, position inside the sequence, fragment length) — what a
    // trainer consumes to reset attention across packed document
    // boundaries. No regroup: this is the pack frame before reassembly.
    "q_pack_boundaries" -> ((s, d) => {
      import s.implicits._
      Corpus.packFragments(Tables.documents(s, d), "doc_id", "text",
          seqLen = 64)
        .orderBy($"seq_idx", $"seq_pos")
    }),

    // Temperature-flattened mixture sample: 500 docs over the source
    // domains at alpha = 0.5 (floor-sqrt integer weights, largest-
    // remainder seats, md5-ordered within-domain selection) — every step
    // integer-exact and re-derived verbatim in the oracle.
    "q_mixture_sample" -> ((s, d) => {
      import s.implicits._
      Corpus.mixtureSample(Tables.documents(s, d), "doc_id", "source",
          totalK = 500, alpha = 0.5, orderCol = "text")
        .select($"source", $"doc_id", $"rn")
        .orderBy($"source", $"rn")
    }),

    // Deterministic 80/10/10 train/val/test hash split: assignment is a
    // pure function of (salt, doc_id) via md5 on a 16^4 grid, summarized
    // per (split, source) with char mass so any misassignment shifts a
    // checked aggregate.
    "q_corpus_split" -> ((s, d) => {
      import s.implicits._
      Corpus.splitByHash(Tables.documents(s, d), "doc_id", salt = "s1",
          fractions = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy($"split", $"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
        .orderBy($"split", $"source")
    }),

    // Reproducible epoch shuffle: the md5("e0:" || doc_id)-keyed global
    // permutation, checked verbatim — every (pos, doc_id) row.
    "q_epoch_shuffle" -> ((s, d) =>
      Corpus.epochShuffle(Tables.documents(s, d), "doc_id", seed = "e0")
        .orderBy(col("pos"))),

    // Quality-first token-budget selection: integer rarity-free quality
    // surrogate floor(n_chars·10⁶/(n_tokens+1)) (≈ mean word length —
    // integer-exact in both engines), fill a 10k-token budget best-first;
    // a doc is kept iff it fits entirely.
    "q_token_budget" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .withColumn("__nt", graft.functions.Text.nTokens($"text"))
      Corpus.tokenBudgetSelect(docs, "doc_id",
          scoreCol = expr("n_chars * 1000000L div (__nt + 1L)"),
          weightCol = $"__nt",
          budget = 10000L)
        .orderBy($"doc_id")
    }),

    // Cross-document duplicated 8-grams: the repeated-phrase census over
    // the whole corpus (the signal behind exact-substring dedup) — top-20
    // shared shingles by distinct-document frequency.
    "q_crossdoc_ngrams" -> ((s, d) =>
      Corpus.crossDocNgrams(Tables.documents(s, d), "doc_id", "text",
        n = 8, minDocs = 2, k = 20)),

    // C4-style quality funnel: ordered drop rules (too short, must
    // contain a stopword, overlong mean word length, stopword-heavy),
    // every doc attributed to its FIRST tripped rule; per-verdict doc
    // count and token mass — the attrition report of a cleaning pass.
    // All rule arithmetic integer (counts and cross-multiplied ratios).
    "q_quality_funnel" -> ((s, d) => {
      import s.implicits._
      val base = Tables.documents(s, d)
        .withColumn("__nt", graft.functions.Text.nTokens($"text"))
        .withColumn("__nstop", size(filter(
          graft.functions.Text.tokens($"text"),
          t => t.isin("a", "the"))).cast("long"))
      Corpus.qualityFunnel(base, Seq(
          "too_short"      -> ($"__nt" < 20),
          "no_stopword"    -> ($"__nstop" === 0),
          "long_words"     -> ($"n_chars" * 10 > $"__nt" * 62),
          "stopword_heavy" -> ($"__nstop" * 3 >= $"__nt")))
        .groupBy($"verdict")
        .agg(count(lit(1)).as("n_docs"), sum($"__nt").as("n_tokens"))
        .orderBy($"verdict")
    }),

    // Content-defined chunking: token-level CDC boundaries where the
    // 4-token window's md5 starts with '0' (p=1/16) — insertion-robust
    // chunking for chunk-hash dedup; every chunk's bounds and md5
    // checked verbatim.
    "q_cdc_chunks" -> ((s, d) => {
      import s.implicits._
      Corpus.cdcChunks(Tables.documents(s, d), "doc_id", "text", w = 4)
        .orderBy($"doc_id", $"chunk_idx")
    }),

    // Byte-level gear CDC over the UTF-8 bytes of the corpus (ASCII by
    // construction, so DuckDB's char ops see the same byte stream): the
    // codegen'd rolling-hash boundaries, every chunk's offsets + md5
    // re-derived by a recursive CTE walking the identical 32-bit gear
    // recurrence byte by byte.
    "q_gear_chunks" -> ((s, d) => {
      import s.implicits._
      Corpus.gearChunkBytes(Tables.documents(s, d), "doc_id",
          encode($"text", "UTF-8"), maskBits = 6, minSize = 16)
        .orderBy($"doc_id", $"chunk_idx")
    }),

    // Epoch shard manifest: the md5("e0")-shuffled corpus cut into
    // 100-doc shards; per-shard doc count, token mass, position range —
    // checked verbatim against the window re-derivation.
    "q_shard_manifest" -> ((s, d) => {
      import s.implicits._
      Corpus.shardManifest(Tables.documents(s, d), "doc_id", seed = "e0",
          shardSize = 100,
          weightCol = graft.functions.Text.nTokens($"text"))
        .orderBy($"shard_idx")
    }),

    // The full training-run prep lifecycle in ONE query: quality funnel
    // (keep only 'kept') → exact dedup (min-id per content hash) →
    // 80/10/10 hash split → per-split epoch shuffle cut into 50-doc
    // shards — the data card a run starts from, every step's exact
    // semantics re-derived in the oracle. Stage order is the 100 TB
    // order: the zero-shuffle funnel shrinks the corpus before the dedup
    // shuffle, and only (id, weight, split) scalars enter the per-split
    // permutation sorts.
    "q_prep_pipeline" -> ((s, d) => {
      import s.implicits._
      val base = Tables.documents(s, d)
        .withColumn("__nt", graft.functions.Text.nTokens($"text"))
        .withColumn("__nstop", size(filter(
          graft.functions.Text.tokens($"text"),
          t => t.isin("a", "the"))).cast("long"))
      val kept = Corpus.qualityFunnel(base, Seq(
          "too_short"      -> ($"__nt" < 20),
          "no_stopword"    -> ($"__nstop" === 0),
          "long_words"     -> ($"n_chars" * 10 > $"__nt" * 62),
          "stopword_heavy" -> ($"__nstop" * 3 >= $"__nt")))
        .filter($"verdict" === "kept")
      val deduped = graft.functions.Dedup.exactDedupCorpus(kept, "doc_id",
        Seq(md5($"text").as("h")))
      val slim = Corpus.splitByHash(deduped, "doc_id", salt = "s1",
          fractions = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select($"doc_id", $"__nt", $"split")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.operators.Release.hold(slim)
      Seq("test", "train", "val").map { sp =>
        Corpus.shardManifest(slim.filter($"split" === sp), "doc_id",
            seed = "e0", shardSize = 50, weightCol = $"__nt")
          .withColumn("split", lit(sp))
      }.reduce(_ unionByName _)
        .select($"split", $"shard_idx", $"n_docs", $"n_tokens")
        .orderBy($"split", $"shard_idx")
    })
  )

  private val searchOracle =
    """WITH t AS (SELECT doc_id,
      |  list_filter(string_split(text,' '), x -> x <> '') toks FROM documents),
      |tf AS (SELECT doc_id, dl, tok AS term, count(*) AS tf FROM (
      |   SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) tok
      |   FROM t) GROUP BY 1, 2, 3),
      |dfr AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1),
      |g AS (SELECT count(*) AS n_docs,
      |   CAST(sum(len(toks)) AS BIGINT) AS sum_dl FROM t),
      |s AS (SELECT tf.doc_id,
      |   (22000 * tf.tf * g.sum_dl * (g.n_docs + 1)) //
      |   ((dfr.doc_freq + 1) * (10 * tf.tf * g.sum_dl + 3 * g.sum_dl
      |     + 9 * tf.dl * g.n_docs)) AS score_u
      | FROM tf JOIN dfr USING (term) CROSS JOIN g
      | WHERE tf.term IN ('hash', 'stream', 'window')),
      |a AS (SELECT doc_id, count(*) AS n_hit_terms,
      |   CAST(sum(score_u) AS BIGINT) AS score_u FROM s GROUP BY 1)
      |SELECT doc_id, n_hit_terms, score_u FROM a
      |ORDER BY score_u DESC, doc_id LIMIT 10""".stripMargin

  /** Per-threshold census re-derivation of the span-interval output over
    * the span fixture (the q_span_intervals chain parameterized by
    * minLen): fixture, occurrence census, covered-position union,
    * gaps-and-islands runs, span text. No outer ORDER BY — callers
    * compose (q_span_index_multi unions two thresholds).
    */
  /** The [[spanFixture]] in DuckDB form — shared by every fixture-based
    * span-index oracle so the two texts cannot drift.
    */
  private val spanFixtureSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 7 = 0 THEN 'license block alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron rho sigma tau upsilon ' ELSE '' END ||
      |  text ||
      |  CASE WHEN doc_id % 5 = 0 THEN ' quote aa bb cc dd ee ff gg' ELSE '' END ||
      |  CASE WHEN doc_id % 11 = 0 THEN ' rep' || doc_id || ' s1 s2 s3 s4 s5 s6 s7 rep' || doc_id || ' s1 s2 s3 s4 s5 s6 s7' ELSE '' END
      |   AS text FROM documents""".stripMargin

  private def spanIntervalsOracle(l: Int, minLenCol: Boolean,
      distinctDocs: Boolean = false, minCount: Int = 2): String = {
    val extra = if (minLenCol) s" $l AS min_len," else ""
    val census = if (distinctDocs) "count(DISTINCT doc_id)" else "count(*)"
    s"""WITH fx AS ($spanFixtureSql),
       |t AS (SELECT doc_id,
       |  list_filter(string_split(text,' '), x -> x <> '') toks FROM fx),
       |o AS (SELECT doc_id, CAST(i AS INTEGER) AS start,
       |  list_aggregate(toks[i : i + ${l - 1}], 'string_agg', ' ') AS gram
       | FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - $l + 2)) AS i
       |   FROM t WHERE len(toks) >= $l)),
       |d AS (SELECT gram FROM (
       |   SELECT gram, $census AS nc FROM o GROUP BY 1)
       | WHERE nc >= $minCount),
       |hit AS (SELECT o.doc_id, o.start FROM o JOIN d USING (gram)),
       |mask AS (SELECT DISTINCT doc_id, start + CAST(r.range AS INTEGER) AS p
       | FROM hit, range(0, $l) r),
       |isl AS (SELECT doc_id, p,
       |  p - CAST(row_number() OVER (PARTITION BY doc_id ORDER BY p) AS INTEGER) AS grp
       | FROM mask),
       |runs AS (SELECT doc_id, min(p) AS span_start, max(p) AS span_end
       | FROM isl GROUP BY doc_id, grp)
       |SELECT$extra r.doc_id, r.span_start, r.span_end,
       | r.span_end - r.span_start + 1 AS span_len,
       | list_aggregate(t.toks[r.span_start : r.span_end], 'string_agg', ' ') AS span_text
       |FROM runs r JOIN t USING (doc_id)""".stripMargin
  }

  /** Per-threshold census re-derivation of the MASK output over the span
    * fixture (maskDuplicateSpans' occurrence semantics parameterized by
    * minLen, with a leading min_len column): fixture, occurrence census,
    * covered-position union, verbatim clean-text rebuild. No outer ORDER
    * BY — q_span_index_mask_sweep unions the thresholds.
    */
  private def spanMaskOracle(l: Int): String =
    s"""WITH fx AS ($spanFixtureSql),
       |t AS (SELECT doc_id,
       |  list_filter(string_split(text,' '), x -> x <> '') toks FROM fx),
       |o AS (SELECT doc_id, CAST(i AS INTEGER) AS start,
       |  list_aggregate(toks[i : i + ${l - 1}], 'string_agg', ' ') AS gram
       | FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - $l + 2)) AS i
       |   FROM t WHERE len(toks) >= $l)),
       |d AS (SELECT gram FROM (
       |   SELECT gram, count(*) AS nc FROM o GROUP BY 1)
       | WHERE nc >= 2),
       |hit AS (SELECT o.doc_id, o.start FROM o JOIN d USING (gram)),
       |mask AS (SELECT DISTINCT doc_id, start + CAST(r.range AS INTEGER) AS p
       | FROM hit, range(0, $l) r),
       |mk AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_masked,
       |  list(p) AS ps FROM mask GROUP BY 1)
       |SELECT $l AS min_len, t.doc_id,
       | CAST(len(t.toks) AS BIGINT) AS n_tokens,
       | coalesce(mk.n_masked, 0) AS n_masked,
       | coalesce(list_aggregate(
       |   [t.toks[CAST(i AS INTEGER)] FOR i IN range(1, len(t.toks) + 1)
       |     IF NOT coalesce(list_contains(mk.ps, CAST(i AS INTEGER)), false)],
       |   'string_agg', ' '), '') AS clean_text
       |FROM t LEFT JOIN mk USING (doc_id)""".stripMargin

  /** Shared by q_dedup_spans (census path) and q_span_index_cross_mask
    * (index-served) — both are the distinct-doc >= 2 mask over the raw
    * documents table, so one re-derivation checks both.
    */
  private val dedupSpansOracle: String =
    """WITH t AS (SELECT doc_id,
      |  list_filter(string_split(text,' '), x -> x <> '') toks FROM documents),
      |o AS (SELECT doc_id, CAST(i AS INTEGER) AS start,
      |  list_aggregate(toks[i : i + 7], 'string_agg', ' ') AS gram
      | FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 8 + 2)) AS i
      |   FROM t WHERE len(toks) >= 8)),
      |d AS (SELECT gram FROM (
      |   SELECT gram, count(DISTINCT doc_id) AS nd FROM o GROUP BY 1)
      | WHERE nd >= 2),
      |hit AS (SELECT o.doc_id, o.start FROM o JOIN d USING (gram)),
      |mask AS (SELECT DISTINCT doc_id, start + CAST(r.range AS INTEGER) AS p
      | FROM hit, range(0, 8) r),
      |mk AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_masked,
      |  list(p) AS ps FROM mask GROUP BY 1)
      |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
      | coalesce(mk.n_masked, 0) AS n_masked,
      | coalesce(list_aggregate(
      |   [t.toks[CAST(i AS INTEGER)] FOR i IN range(1, len(t.toks) + 1)
      |     IF NOT coalesce(list_contains(mk.ps, CAST(i AS INTEGER)), false)],
      |   'string_agg', ' '), '') AS clean_text
      |FROM t LEFT JOIN mk USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_span_index_multi" ->
      s"""SELECT * FROM (${spanIntervalsOracle(8, minLenCol = true)})
         |UNION ALL
         |SELECT * FROM (${spanIntervalsOracle(16, minLenCol = true)})
         |ORDER BY min_len, doc_id, span_start""".stripMargin,
    "q_span_index_sweep" ->
      s"""SELECT * FROM (${spanIntervalsOracle(8, minLenCol = true)})
         |UNION ALL
         |SELECT * FROM (${spanIntervalsOracle(12, minLenCol = true)})
         |UNION ALL
         |SELECT * FROM (${spanIntervalsOracle(16, minLenCol = true)})
         |ORDER BY min_len, doc_id, span_start""".stripMargin,
    // the appended index serves the union corpus exactly like a full
    // build, so the oracle is the same full-fixture re-derivation
    "q_span_index_append" ->
      s"""SELECT * FROM (${spanIntervalsOracle(8, minLenCol = true)})
         |UNION ALL
         |SELECT * FROM (${spanIntervalsOracle(16, minLenCol = true)})
         |ORDER BY min_len, doc_id, span_start""".stripMargin,
    "q_span_index_append_census" ->
      s"""SELECT * FROM (${spanIntervalsOracle(8, minLenCol = true)})
         |UNION ALL
         |SELECT * FROM (${spanIntervalsOracle(16, minLenCol = true)})
         |ORDER BY min_len, doc_id, span_start""".stripMargin,
    "q_span_index_append_bucketed" ->
      s"""SELECT * FROM (${spanIntervalsOracle(8, minLenCol = true)})
         |UNION ALL
         |SELECT * FROM (${spanIntervalsOracle(16, minLenCol = true)})
         |ORDER BY min_len, doc_id, span_start""".stripMargin,
    "q_span_index_mask_sweep" ->
      s"""SELECT * FROM (${spanMaskOracle(8)})
         |UNION ALL
         |SELECT * FROM (${spanMaskOracle(12)})
         |UNION ALL
         |SELECT * FROM (${spanMaskOracle(16)})
         |ORDER BY min_len, doc_id""".stripMargin,
    // the stored round trip serves the same sweeps, so the oracles are
    // the in-session sweep re-derivations verbatim
    "q_span_index_disk" ->
      s"""SELECT * FROM (${spanIntervalsOracle(8, minLenCol = true)})
         |UNION ALL
         |SELECT * FROM (${spanIntervalsOracle(12, minLenCol = true)})
         |UNION ALL
         |SELECT * FROM (${spanIntervalsOracle(16, minLenCol = true)})
         |ORDER BY min_len, doc_id, span_start""".stripMargin,
    "q_span_index_disk_mask" ->
      s"""SELECT * FROM (${spanMaskOracle(8)})
         |UNION ALL
         |SELECT * FROM (${spanMaskOracle(12)})
         |UNION ALL
         |SELECT * FROM (${spanMaskOracle(16)})
         |ORDER BY min_len, doc_id""".stripMargin,
    "q_span_index_cross" ->
      s"""SELECT * FROM (${spanIntervalsOracle(8, minLenCol = true,
              distinctDocs = true)})
         |UNION ALL
         |SELECT * FROM (${spanIntervalsOracle(16, minLenCol = true,
              distinctDocs = true)})
         |ORDER BY min_len, doc_id, span_start""".stripMargin,
    "q_span_index_d3" ->
      s"""SELECT * FROM (${spanIntervalsOracle(8, minLenCol = true,
              distinctDocs = true, minCount = 3)})
         |UNION ALL
         |SELECT * FROM (${spanIntervalsOracle(16, minLenCol = true,
              distinctDocs = true, minCount = 3)})
         |ORDER BY min_len, doc_id, span_start""".stripMargin,
    // the stored round trip serves the same thresholds — same oracle
    "q_span_index_d3_disk" ->
      s"""SELECT * FROM (${spanIntervalsOracle(8, minLenCol = true,
              distinctDocs = true, minCount = 3)})
         |UNION ALL
         |SELECT * FROM (${spanIntervalsOracle(16, minLenCol = true,
              distinctDocs = true, minCount = 3)})
         |ORDER BY min_len, doc_id, span_start""".stripMargin,
    "q_span_index_cross_mask" -> dedupSpansOracle,
    // index-served mask over RAW documents, total-OCCURRENCE census
    // (count(*), not count(DISTINCT doc_id) — within-doc repeats count)
    "q_span_index_mask" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text,' '), x -> x <> '') toks FROM documents),
        |o AS (SELECT doc_id, CAST(i AS INTEGER) AS start,
        |  list_aggregate(toks[i : i + 7], 'string_agg', ' ') AS gram
        | FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 8 + 2)) AS i
        |   FROM t WHERE len(toks) >= 8)),
        |d AS (SELECT gram FROM (
        |   SELECT gram, count(*) AS nc FROM o GROUP BY 1)
        | WHERE nc >= 2),
        |hit AS (SELECT o.doc_id, o.start FROM o JOIN d USING (gram)),
        |mask AS (SELECT DISTINCT doc_id, start + CAST(r.range AS INTEGER) AS p
        | FROM hit, range(0, 8) r),
        |mk AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_masked,
        |  list(p) AS ps FROM mask GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        | coalesce(mk.n_masked, 0) AS n_masked,
        | coalesce(list_aggregate(
        |   [t.toks[CAST(i AS INTEGER)] FOR i IN range(1, len(t.toks) + 1)
        |     IF NOT coalesce(list_contains(mk.ps, CAST(i AS INTEGER)), false)],
        |   'string_agg', ' '), '') AS clean_text
        |FROM t LEFT JOIN mk USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    "q_contamination" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text,' '), x -> x <> '') toks
        | FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  range(1, len(toks) - 6),
        |  i -> list_aggregate(toks[i:i+7], 'string_agg', ' ')))) gram
        | FROM t),
        |bench AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 10 = 0)
        |SELECT s.doc_id, count(DISTINCT s.gram) AS n_contaminated
        |FROM sh s JOIN bench USING (gram)
        |WHERE s.doc_id % 10 <> 0
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // identical semantics to q_contamination (bloom is a lossless prefilter)
    "q_contamination_bloom" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text,' '), x -> x <> '') toks
        | FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  range(1, len(toks) - 6),
        |  i -> list_aggregate(toks[i:i+7], 'string_agg', ' ')))) gram
        | FROM t),
        |bench AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 10 = 0)
        |SELECT s.doc_id, count(DISTINCT s.gram) AS n_contaminated
        |FROM sh s JOIN bench USING (gram)
        |WHERE s.doc_id % 10 <> 0
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q_weighted_sample" ->
      """WITH h1 AS (SELECT doc_id, n_chars,
        |  (((doc_id + 17) % 1000000007) * 2654435761) % 1000000007 AS h1
        | FROM documents),
        |s AS (SELECT doc_id, n_chars,
        |  pow(CAST((h1 * h1) % 1000000007 + 1 AS DOUBLE) / 1000000008.0,
        |      1.0 / CAST(n_chars + 1 AS DOUBLE)) AS score
        | FROM h1),
        |k AS (SELECT * FROM s ORDER BY score DESC, doc_id LIMIT 50)
        |SELECT doc_id, n_chars, round(score, 6) AS score
        |FROM k ORDER BY doc_id""".stripMargin,
    "q_heavy_hitters" ->
      """WITH e AS (SELECT unnest(list_filter(string_split(text,' '),
        |  x -> x <> '')) tok FROM documents)
        |SELECT tok AS token, count(*) AS n FROM e
        |GROUP BY 1 ORDER BY n DESC, token LIMIT 20""".stripMargin,
    "q_pii_scrub" ->
      """WITH noisy AS (SELECT doc_id, text
        |  || CASE WHEN doc_id % 3 = 0
        |     THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |     ELSE '' END
        |  || CASE WHEN doc_id % 5 = 0
        |     THEN ' link https://data.example.org/p/' || CAST(doc_id AS VARCHAR) || '?q=1'
        |     ELSE '' END
        |  || CASE WHEN doc_id % 7 = 0
        |     THEN ' host 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.255 acct 12345678901'
        |     ELSE '' END AS t
        | FROM documents),
        |s1 AS (SELECT doc_id, t,
        |  CAST(len(regexp_extract_all(t, 'https?://[^ ]+', 0)) AS BIGINT) AS n_url,
        |  regexp_replace(t, 'https?://[^ ]+', '<URL>', 'g') AS t1 FROM noisy),
        |s2 AS (SELECT *,
        |  CAST(len(regexp_extract_all(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0)) AS BIGINT) AS n_email,
        |  regexp_replace(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t2 FROM s1),
        |s3 AS (SELECT *,
        |  CAST(len(regexp_extract_all(t2, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', 0)) AS BIGINT) AS n_ip,
        |  regexp_replace(t2, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS t3 FROM s2),
        |s4 AS (SELECT *,
        |  CAST(len(regexp_extract_all(t3, '\b[0-9]{7,}\b', 0)) AS BIGINT) AS n_num,
        |  regexp_replace(t3, '\b[0-9]{7,}\b', '<NUM>', 'g') AS scrubbed FROM s3)
        |SELECT doc_id, n_url, n_email, n_ip, n_num, md5(scrubbed) AS scrub_md5
        |FROM s4 ORDER BY doc_id""".stripMargin,
    "q_stratified_sample" ->
      """SELECT source, doc_id, CAST(rn AS INTEGER) AS rn FROM (
        | SELECT source, doc_id, row_number() OVER (
        |   PARTITION BY source ORDER BY md5(coalesce(text,'')), doc_id) AS rn
        | FROM documents) WHERE rn <= 3
        |ORDER BY source, rn""".stripMargin,
    "q_freq_ngrams" ->
      """WITH t AS (SELECT list_filter(string_split(text,' '), x -> x <> '') toks
        | FROM documents),
        |sh AS (SELECT unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) gram FROM t)
        |SELECT gram AS item, count(*) AS approx_n,
        | CAST((SELECT count(*) FROM sh) // 65536 AS BIGINT) AS err_floor
        |FROM sh GROUP BY 1 ORDER BY approx_n DESC, item LIMIT 15""".stripMargin,
    "q_tfidf" ->
      """WITH tf AS (
        | SELECT doc_id, tok AS term, count(*) AS tf FROM (
        |   SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) tok
        |   FROM documents) GROUP BY 1, 2),
        |dfr AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf, dfr.doc_freq,
        |   CAST(floor(CAST(tf.tf * 1000000 * (n.n_docs + 1) AS DOUBLE)
        |     / (dfr.doc_freq + 1)) AS BIGINT) AS score_u
        | FROM tf JOIN dfr USING (term) CROSS JOIN n
        | WHERE tf.doc_id < 50),
        |r AS (SELECT *, row_number() OVER (
        |   PARTITION BY doc_id ORDER BY score_u DESC, term) AS rank FROM s)
        |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf, doc_freq, score_u
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q_bm25" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text,' '), x -> x <> '') toks FROM documents),
        |tf AS (SELECT doc_id, dl, tok AS term, count(*) AS tf FROM (
        |   SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) tok
        |   FROM t) GROUP BY 1, 2, 3),
        |dfr AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1),
        |g AS (SELECT count(*) AS n_docs,
        |   CAST(sum(len(toks)) AS BIGINT) AS sum_dl FROM t),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf, tf.dl, dfr.doc_freq,
        |   (22000 * tf.tf * g.sum_dl * (g.n_docs + 1)) //
        |   ((dfr.doc_freq + 1) * (10 * tf.tf * g.sum_dl + 3 * g.sum_dl
        |     + 9 * tf.dl * g.n_docs)) AS score_u
        | FROM tf JOIN dfr USING (term) CROSS JOIN g
        | WHERE tf.doc_id < 30),
        |r AS (SELECT *, row_number() OVER (
        |   PARTITION BY doc_id ORDER BY score_u DESC, term) AS rank FROM s)
        |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf, dl, doc_freq,
        | CAST(score_u AS BIGINT) AS score_u
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // chunk i covers tokens [i·24+1, i·24+32] (1-based inclusive slice);
    // nChunks = 0 / 1 / (n-32+23)//24 + 1 — same integer form as Spark
    "q_chunk" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text,' '), x -> x <> '') toks FROM documents),
        |c AS (SELECT doc_id, toks,
        |  CASE WHEN len(toks) = 0 THEN 0
        |       WHEN len(toks) <= 32 THEN 1
        |       ELSE (len(toks) - 32 + 23) // 24 + 1 END AS n_chunks
        | FROM t),
        |e AS (SELECT doc_id, toks,
        |  CAST(unnest(range(0, n_chunks)) AS INTEGER) AS chunk_idx
        | FROM c),
        |s AS (SELECT doc_id, chunk_idx,
        |  toks[chunk_idx*24 + 1 : chunk_idx*24 + 32] AS chunk
        | FROM e)
        |SELECT doc_id, chunk_idx,
        | coalesce(list_aggregate(chunk, 'string_agg', ' '), '') AS chunk_text,
        | CAST(len(chunk) AS BIGINT) AS n_chunk_tokens
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_corpus_diff" ->
      """WITH o AS (SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
        |   lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
        | FROM documents WHERE doc_id % 11 <> 3),
        |n AS (SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
        |   lower(CASE WHEN doc_id % 9 = 0 THEN text || ' updated rev2'
        |         ELSE text END), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
        | FROM documents WHERE doc_id % 13 <> 5),
        |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.fp IS DISTINCT FROM n.fp THEN 'changed' END AS status
        | FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT doc_id, status FROM j WHERE status IS NOT NULL
        |ORDER BY doc_id""".stripMargin,
    "q_repetition" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text,' '), x -> x <> '') toks
        | FROM documents),
        |e AS (SELECT doc_id, CAST(len(toks) AS BIGINT) nt, unnest(toks) tok FROM t),
        |c AS (SELECT doc_id, nt, tok, count(*) c FROM e GROUP BY 1, 2, 3),
        |m AS (SELECT doc_id, nt, max(c) tt FROM c GROUP BY 1, 2)
        |SELECT d.doc_id,
        | coalesce(m.nt, 0) AS n_tokens,
        | coalesce(m.tt, 0) AS top_tok_n,
        | CASE WHEN coalesce(m.nt, 0) = 0 THEN 0.0
        |      ELSE round(CAST(m.tt AS DOUBLE) / m.nt, 4) END AS top_frac
        |FROM documents d LEFT JOIN m USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // add-one bigram LM re-trained in SQL on the same split; the
    // per-occurrence fixed-point term floor(1e6·(c2+1)/(c1+V)) makes every
    // sum exact integer arithmetic in both engines
    "q_ngram_lm" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text,' '), x -> x <> '') toks FROM documents),
        |occ AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |   i -> toks[i] || ' ' || toks[i+1])) AS g FROM t),
        |trn AS (SELECT g FROM occ WHERE doc_id % 10 <> 0),
        |c2t AS (SELECT g, count(*) AS c2 FROM trn GROUP BY 1),
        |c1t AS (SELECT string_split(g, ' ')[1] AS w1, count(*) AS c1
        |  FROM trn GROUP BY 1),
        |vt AS (SELECT count(DISTINCT tok) AS v FROM (
        |   SELECT unnest(toks) AS tok FROM t WHERE doc_id % 10 <> 0)),
        |db AS (SELECT doc_id, g, count(*) AS k FROM occ GROUP BY 1, 2),
        |sc AS (SELECT db.doc_id, db.k, c2t.c2,
        |    (1000000 * (coalesce(c2t.c2, 0) + 1)) //
        |      (coalesce(c1t.c1, 0) + vt.v) AS term_u
        |  FROM db LEFT JOIN c2t USING (g)
        |  LEFT JOIN c1t ON c1t.w1 = string_split(db.g, ' ')[1]
        |  CROSS JOIN vt),
        |a AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
        |    CAST(sum(CASE WHEN c2 IS NULL THEN k ELSE 0 END) AS BIGINT)
        |      AS n_unseen,
        |    CAST(sum(k * term_u) AS BIGINT) AS score_u
        |  FROM sc GROUP BY 1)
        |SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
        | coalesce(a.n_unseen, 0) AS n_unseen,
        | coalesce(a.score_u, 0) AS score_u,
        | CASE WHEN coalesce(a.n_bigrams, 0) = 0 THEN 0
        |      ELSE a.score_u // a.n_bigrams END AS avg_u
        |FROM documents d LEFT JOIN a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // q_bm25's integer-rational surrogate, filtered to the query terms and
    // summed per doc — integer addition is order-free, so the rank is
    // exact in both engines. q_search_disk shares this oracle verbatim
    // (the index is a lossless re-layout of the same stats).
    "q_search_topk" -> searchOracle,
    "q_search_disk" -> searchOracle,
    // segment i covers tokens [i·8+1, i·8+8] (1-based inclusive slice);
    // nSegs = 0 / 1 / (n-8+7)//8 + 1 — chunkDocs' integer form with
    // window = stride = 8, i.e. ceil(n/8) non-overlapping windows
    "q_boilerplate_segments" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text,' '), x -> x <> '') toks FROM documents),
        |c AS (SELECT doc_id, toks,
        |  CASE WHEN len(toks) = 0 THEN 0
        |       WHEN len(toks) <= 8 THEN 1
        |       ELSE (len(toks) - 8 + 7) // 8 + 1 END AS n_segs FROM t),
        |e AS (SELECT doc_id, toks,
        |  CAST(unnest(range(0, n_segs)) AS INTEGER) AS i FROM c),
        |s AS (SELECT doc_id,
        |  list_aggregate(toks[i*8 + 1 : i*8 + 8], 'string_agg', ' ') AS seg
        | FROM e),
        |d AS (SELECT seg, count(DISTINCT doc_id) AS n_docs FROM s GROUP BY 1)
        |SELECT seg AS segment, CAST(n_docs AS BIGINT) AS n_docs
        |FROM d WHERE n_docs >= 2
        |ORDER BY n_docs DESC, segment""".stripMargin,
    "q_boilerplate_scrub" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text,' '), x -> x <> '') toks FROM documents),
        |c AS (SELECT doc_id, toks,
        |  CASE WHEN len(toks) = 0 THEN 0
        |       WHEN len(toks) <= 8 THEN 1
        |       ELSE (len(toks) - 8 + 7) // 8 + 1 END AS n_segs FROM t),
        |e AS (SELECT doc_id, toks,
        |  CAST(unnest(range(0, n_segs)) AS INTEGER) AS i FROM c),
        |s AS (SELECT doc_id, i,
        |  list_aggregate(toks[i*8 + 1 : i*8 + 8], 'string_agg', ' ') AS seg
        | FROM e),
        |b AS (SELECT seg FROM (
        |   SELECT seg, count(DISTINCT doc_id) AS nd FROM s GROUP BY 1)
        | WHERE nd >= 2),
        |m AS (SELECT s.doc_id, s.i, s.seg, b.seg IS NOT NULL AS is_b
        | FROM s LEFT JOIN b ON s.seg = b.seg),
        |r AS (SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_segments,
        |  CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  coalesce(string_agg(CASE WHEN NOT is_b THEN seg END, ' ' ORDER BY i),
        |    '') AS clean_text
        | FROM m GROUP BY 1)
        |SELECT d.doc_id, coalesce(r.n_segments, 0) AS n_segments,
        | coalesce(r.n_dropped, 0) AS n_dropped,
        | coalesce(r.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // line-convention twins over the in-query newline fixture (shared
    // `nl`/`l` CTEs: fixture surgery, 0-based line index, blank lines out)
    "q_boilerplate_lines" ->
      """WITH nl AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'nav home about contact' || chr(10) ELSE '' END ||
        |  substr(text, 1, length(text) // 2) || chr(10) ||
        |  substr(text, length(text) // 2 + 1) ||
        |  CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'copyright footer all rights reserved' ELSE '' END
        |   AS text FROM documents),
        |s AS (SELECT doc_id, lns, CAST(unnest(range(0, len(lns))) AS INTEGER) AS i
        | FROM (SELECT doc_id, string_split(text, chr(10)) AS lns FROM nl)),
        |l AS (SELECT doc_id, i AS idx, lns[i+1] AS ln FROM s
        | WHERE trim(lns[i+1]) <> '')
        |SELECT ln AS segment, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM l GROUP BY 1 HAVING count(DISTINCT doc_id) >= 10
        |ORDER BY n_docs DESC, segment""".stripMargin,
    "q_boilerplate_scrub_lines" ->
      """WITH nl AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'nav home about contact' || chr(10) ELSE '' END ||
        |  substr(text, 1, length(text) // 2) || chr(10) ||
        |  substr(text, length(text) // 2 + 1) ||
        |  CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'copyright footer all rights reserved' ELSE '' END
        |   AS text FROM documents),
        |s AS (SELECT doc_id, lns, CAST(unnest(range(0, len(lns))) AS INTEGER) AS i
        | FROM (SELECT doc_id, string_split(text, chr(10)) AS lns FROM nl)),
        |l AS (SELECT doc_id, i AS idx, lns[i+1] AS ln FROM s
        | WHERE trim(lns[i+1]) <> ''),
        |b AS (SELECT ln FROM (
        |   SELECT ln, count(DISTINCT doc_id) AS nd FROM l GROUP BY 1)
        | WHERE nd >= 10),
        |m AS (SELECT l.doc_id, l.idx, l.ln, b.ln IS NOT NULL AS is_b
        | FROM l LEFT JOIN b ON l.ln = b.ln),
        |r AS (SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_segments,
        |  CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  coalesce(string_agg(CASE WHEN NOT is_b THEN ln END, chr(10) ORDER BY idx),
        |    '') AS clean_text
        | FROM m GROUP BY 1)
        |SELECT d.doc_id, coalesce(r.n_segments, 0) AS n_segments,
        | coalesce(r.n_dropped, 0) AS n_dropped,
        | coalesce(r.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // the three dedup stages chained in one SQL pipeline: canonical-URL
    // keep (min id per canon key), exact-content keep (min id per
    // md5(text)), then the span-mask chain over the survivor set
    "q_web_dedup_pipeline" ->
      """WITH u AS (SELECT doc_id, text,
        | CASE CAST(doc_id % 4 AS INTEGER)
        |  WHEN 0 THEN 'HTTPS://WWW.Site' || CAST(doc_id % 50 AS VARCHAR)
        |   || '.Example.COM/p/' || CAST(doc_id % 100 AS VARCHAR) || '/?b=2&a=1#frag'
        |  WHEN 1 THEN 'https://site' || CAST(doc_id % 50 AS VARCHAR)
        |   || '.example.com/p/' || CAST(doc_id % 100 AS VARCHAR) || '?a=1&b=2&utm_source=x'
        |  WHEN 2 THEN 'https://Site' || CAST(doc_id % 50 AS VARCHAR)
        |   || '.example.com/p/' || CAST(doc_id % 100 AS VARCHAR) || '/?utm_campaign=z&b=2&a=1'
        |  ELSE 'https://www.site' || CAST(doc_id % 50 AS VARCHAR)
        |   || '.example.com/p/' || CAST(doc_id % 100 AS VARCHAR) || '?gclid=abc&b=2&a=1'
        | END AS url FROM documents),
        |nf AS (SELECT doc_id, text, regexp_replace(url, '#.*$', '') AS cu FROM u),
        |c AS (SELECT doc_id, text,
        |  lower(regexp_extract(cu, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || '://' ||
        |  regexp_replace(lower(regexp_extract(cu, '://([^/?#]+)', 1)), '^www\.', '') ||
        |  regexp_replace(regexp_extract(cu, '://[^/?#]+(/[^?#]*)', 1), '/+$', '') ||
        |  CASE WHEN qs2 = '' THEN '' ELSE '?' || qs2 END AS canon_url
        | FROM (SELECT doc_id, text, cu,
        |   coalesce(list_aggregate(list_sort(list_filter(
        |     string_split(regexp_extract(cu, '\?([^#]*)', 1), '&'),
        |     p -> p <> '' AND NOT regexp_matches(p,
        |       '^(utm_[A-Za-z0-9_]*|gclid|fbclid|ref)='))),
        |     'string_agg', '&'), '') AS qs2
        |  FROM nf)),
        |k1 AS (SELECT doc_id, text FROM c
        | WHERE doc_id IN (SELECT min(doc_id) FROM c GROUP BY canon_url)),
        |k2 AS (SELECT doc_id, text FROM k1
        | WHERE doc_id IN (SELECT min(doc_id) FROM k1 GROUP BY md5(text))),
        |t AS (SELECT doc_id,
        |  list_filter(string_split(text,' '), x -> x <> '') toks FROM k2),
        |o AS (SELECT doc_id, CAST(i AS INTEGER) AS start,
        |  list_aggregate(toks[i : i + 7], 'string_agg', ' ') AS gram
        | FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 8 + 2)) AS i
        |   FROM t WHERE len(toks) >= 8)),
        |dg AS (SELECT gram FROM (
        |   SELECT gram, count(DISTINCT doc_id) AS nd FROM o GROUP BY 1)
        | WHERE nd >= 2),
        |hit AS (SELECT o.doc_id, o.start FROM o JOIN dg USING (gram)),
        |mask AS (SELECT DISTINCT doc_id, start + CAST(r.range AS INTEGER) AS p
        | FROM hit, range(0, 8) r),
        |mk AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_masked,
        |  list(p) AS ps FROM mask GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        | coalesce(mk.n_masked, 0) AS n_masked,
        | coalesce(list_aggregate(
        |   [t.toks[CAST(i AS INTEGER)] FOR i IN range(1, len(t.toks) + 1)
        |     IF NOT coalesce(list_contains(mk.ps, CAST(i AS INTEGER)), false)],
        |   'string_agg', ' '), '') AS clean_text
        |FROM t LEFT JOIN mk USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    "q_span_intervals" ->
      (spanIntervalsOracle(8, minLenCol = false) +
        "\nORDER BY r.doc_id, r.span_start"),
    "q_dedup_spans" -> dedupSpansOracle,
    "q_boilerplate_sentences" ->
      """WITH sf AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'Shared intro sentence. ' ELSE '' END ||
        |  substr(text, 1, length(text) // 2) || '. ' ||
        |  substr(text, length(text) // 2 + 1) ||
        |  CASE WHEN doc_id % 3 = 0 THEN '. All rights reserved' ELSE '' END
        |   AS text FROM documents),
        |s AS (SELECT doc_id, sents, CAST(unnest(range(0, len(sents))) AS INTEGER) AS i
        | FROM (SELECT doc_id, regexp_split_to_array(text, '[.!?]+\s+') AS sents FROM sf)),
        |x AS (SELECT doc_id, i AS idx, sents[i+1] AS sn FROM s
        | WHERE trim(sents[i+1]) <> '')
        |SELECT sn AS segment, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM x GROUP BY 1 HAVING count(DISTINCT doc_id) >= 10
        |ORDER BY n_docs DESC, segment""".stripMargin,
    "q_boilerplate_scrub_norm" ->
      """WITH nf AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'NAV Home About' || chr(10) ELSE '' END ||
        |  substr(text, 1, length(text) // 2) || chr(10) ||
        |  substr(text, length(text) // 2 + 1) ||
        |  chr(10) || 'page ' || doc_id || ' rendered' AS text FROM documents),
        |s AS (SELECT doc_id, lns, CAST(unnest(range(0, len(lns))) AS INTEGER) AS i
        | FROM (SELECT doc_id, string_split(text, chr(10)) AS lns FROM nf)),
        |l AS (SELECT doc_id, i AS idx, lns[i+1] AS ln,
        |  regexp_replace(lower(lns[i+1]), '[0-9]+', '0', 'g') AS k FROM s
        | WHERE trim(lns[i+1]) <> ''),
        |b AS (SELECT k FROM (
        |   SELECT k, count(DISTINCT doc_id) AS nd FROM l GROUP BY 1)
        | WHERE nd >= 10),
        |m AS (SELECT l.doc_id, l.idx, l.ln, b.k IS NOT NULL AS is_b
        | FROM l LEFT JOIN b ON l.k = b.k),
        |r AS (SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_segments,
        |  CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  coalesce(string_agg(CASE WHEN NOT is_b THEN ln END, chr(10) ORDER BY idx),
        |    '') AS clean_text
        | FROM m GROUP BY 1)
        |SELECT d.doc_id, coalesce(r.n_segments, 0) AS n_segments,
        | coalesce(r.n_dropped, 0) AS n_dropped,
        | coalesce(r.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // duplicate-n-gram fractions re-derived from the same occurrence
    // streams (bigrams: i in 1..len-1, trigrams: i in 1..len-2); the
    // (doc, n) spine restores zero rows for gram-less documents
    "q_dup_ngrams" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text,' '), x -> x <> '') toks FROM documents),
        |occ AS (
        | SELECT doc_id, 2 AS n, unnest(list_transform(range(1, len(toks)),
        |   i -> toks[i] || ' ' || toks[i+1])) AS g FROM t
        | UNION ALL
        | SELECT doc_id, 3 AS n, unnest(list_transform(range(1, len(toks) - 1),
        |   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g FROM t),
        |c AS (SELECT doc_id, n, g, count(*) AS c FROM occ GROUP BY 1, 2, 3),
        |a AS (SELECT doc_id, n, CAST(sum(c) AS BIGINT) AS n_grams,
        |   CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_occ,
        |   CAST(max(c) AS BIGINT) AS top_occ
        | FROM c GROUP BY 1, 2),
        |spine AS (SELECT t.doc_id, nn.n,
        |   CAST(len(t.toks) AS BIGINT) AS n_tokens
        | FROM t CROSS JOIN (SELECT unnest([2, 3]) AS n) nn)
        |SELECT s.doc_id, CAST(s.n AS INTEGER) AS n, s.n_tokens,
        | coalesce(a.n_grams, 0) AS n_grams,
        | coalesce(a.dup_occ, 0) AS dup_occ,
        | CASE WHEN coalesce(a.n_grams, 0) = 0 THEN 0.0
        |      ELSE round(CAST(a.dup_occ AS DOUBLE) / a.n_grams, 4)
        | END AS dup_frac,
        | coalesce(a.top_occ, 0) AS top_occ
        |FROM spine s LEFT JOIN a USING (doc_id, n)
        |ORDER BY s.doc_id, s.n""".stripMargin,
    // the same concat-and-chunk packing: global offsets via window cumsum
    // (fine in an oracle; the engine uses a distributed two-pass prefix
    // sum), fragments rebuilt with the identical slice arithmetic and
    // every 64-token sequence compared verbatim
    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id, list_concat(
        |   list_filter(string_split(text,' '), x -> x <> ''),
        |   ['<eos>']) AS toks FROM documents),
        |c AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
        |   CAST(coalesce(sum(len(toks)) OVER (ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |     AS off
        | FROM t),
        |f AS (SELECT doc_id, toks, n, off,
        |   CAST(unnest(range(off // 64, (off + n - 1) // 64 + 1)) AS BIGINT)
        |     AS seq_idx
        | FROM c WHERE n > 0),
        |s AS (SELECT seq_idx,
        |   greatest(seq_idx * 64, off) AS fs,
        |   least((seq_idx + 1) * 64, off + n) AS fe,
        |   toks[greatest(seq_idx * 64, off) - off + 1 :
        |        least((seq_idx + 1) * 64, off + n) - off] AS frag
        | FROM f)
        |SELECT seq_idx, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(fe - fs) AS BIGINT) AS n_tokens,
        | string_agg(list_aggregate(frag, 'string_agg', ' '), ' '
        |   ORDER BY fs) AS seq_text
        |FROM s GROUP BY 1 ORDER BY seq_idx""".stripMargin,
    // identical pack layout, reported as per-fragment boundary rows
    "q_pack_boundaries" ->
      """WITH t AS (SELECT doc_id, list_concat(
        |   list_filter(string_split(text,' '), x -> x <> ''),
        |   ['<eos>']) AS toks FROM documents),
        |c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n,
        |   CAST(coalesce(sum(len(toks)) OVER (ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |     AS off
        | FROM t),
        |f AS (SELECT doc_id, n, off,
        |   CAST(unnest(range(off // 64, (off + n - 1) // 64 + 1)) AS BIGINT)
        |     AS seq_idx
        | FROM c WHERE n > 0)
        |SELECT seq_idx, doc_id,
        | greatest(seq_idx * 64, off) - seq_idx * 64 AS seq_pos,
        | least((seq_idx + 1) * 64, off + n) - greatest(seq_idx * 64, off)
        |   AS frag_len
        |FROM f ORDER BY seq_idx, seq_pos""".stripMargin,
    // floor-sqrt integer temperature weights, largest-remainder seats
    // (rem desc, domain asc), exhaustion cap, md5-ordered selection —
    // every comparison integer or bitwise-identical, as in the engine
    "q_mixture_sample" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |w AS (SELECT source, n,
        |   greatest(CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT), 1) AS w
        | FROM c),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w),
        |a AS (SELECT source, n, (500 * w) // tw AS base, (500 * w) % tw AS rem
        | FROM w CROSS JOIN tot),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk
        | FROM a),
        |sp AS (SELECT 500 - CAST(sum(base) AS BIGINT) AS spare FROM a),
        |k AS (SELECT source,
        |   least(base + CASE WHEN rk <= spare THEN 1 ELSE 0 END, n) AS kd
        | FROM r CROSS JOIN sp),
        |s AS (SELECT source, doc_id, row_number() OVER (
        |   PARTITION BY source ORDER BY md5(coalesce(text,'')), doc_id) AS rn
        | FROM documents)
        |SELECT s.source, s.doc_id, CAST(s.rn AS INTEGER) AS rn
        |FROM s JOIN k USING (source) WHERE s.rn <= k.kd
        |ORDER BY s.source, s.rn""".stripMargin,
    // hex-string threshold compare on the first 4 md5 chars — cccc =
    // floor(0.8·65536), e666 = floor(0.9·65536), same grid as the engine
    "q_corpus_split" ->
      """WITH s AS (SELECT source, n_chars,
        |  CASE WHEN substr(md5('s1:' || CAST(doc_id AS VARCHAR)), 1, 4)
        |         < 'cccc' THEN 'train'
        |       WHEN substr(md5('s1:' || CAST(doc_id AS VARCHAR)), 1, 4)
        |         < 'e666' THEN 'val'
        |       ELSE 'test' END AS split
        | FROM documents)
        |SELECT split, source, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM s GROUP BY 1, 2 ORDER BY split, source""".stripMargin,
    "q_epoch_shuffle" ->
      """SELECT CAST(row_number() OVER (
        |  ORDER BY md5('e0:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
        |  AS BIGINT) AS pos, doc_id
        |FROM documents ORDER BY pos""".stripMargin,
    "q_token_budget" ->
      """WITH s AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
        |    AS BIGINT) AS n_tok, n_chars FROM documents),
        |c AS (SELECT doc_id,
        |  (n_chars * 1000000) // (n_tok + 1) AS score_u, n_tok,
        |  CAST(sum(n_tok) OVER (
        |    ORDER BY (n_chars * 1000000) // (n_tok + 1) DESC, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        | FROM s)
        |SELECT doc_id, score_u, n_tok, cum_tokens FROM c
        |WHERE cum_tokens <= 10000 ORDER BY doc_id""".stripMargin,
    "q_crossdoc_ngrams" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text,' '), x -> x <> '') toks
        | FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  range(1, len(toks) - 6),
        |  i -> list_aggregate(toks[i:i+7], 'string_agg', ' ')))) gram
        | FROM t)
        |SELECT gram, count(*) AS n_docs FROM sh
        |GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY n_docs DESC, gram LIMIT 20""".stripMargin,
    "q_quality_funnel" ->
      """WITH t AS (SELECT doc_id, n_chars,
        |  list_filter(string_split(text,' '), x -> x <> '') toks
        | FROM documents),
        |s AS (SELECT doc_id, n_chars,
        |  CAST(len(toks) AS BIGINT) AS nt,
        |  CAST(len(list_filter(toks, x -> x IN ('a','the'))) AS BIGINT)
        |    AS nstop
        | FROM t),
        |v AS (SELECT doc_id, nt,
        |  CASE WHEN nt < 20 THEN 'too_short'
        |       WHEN nstop = 0 THEN 'no_stopword'
        |       WHEN n_chars * 10 > nt * 62 THEN 'long_words'
        |       WHEN nstop * 3 >= nt THEN 'stopword_heavy'
        |       ELSE 'kept' END AS verdict
        | FROM s)
        |SELECT verdict, count(*) AS n_docs,
        | CAST(sum(nt) AS BIGINT) AS n_tokens
        |FROM v GROUP BY 1 ORDER BY verdict""".stripMargin,
    // the gear table inlined as VALUES from GearCdc.table (code and
    // oracle cannot drift); h' = (2h + G[byte]) mod 2^32 walked by a
    // recursive CTE, boundary iff dist >= 16 and h' mod 64 = 0
    "q_gear_chunks" -> {
      val gearValues = graft.functions.GearCdc.table.zipWithIndex
        .map { case (v, i) => s"($i,$v)" }.mkString(",")
      s"""WITH RECURSIVE gt(i, v) AS (SELECT * FROM (VALUES $gearValues) t(i, v)),
         |d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
         |  FROM documents WHERE length(text) > 0),
         |walk(doc_id, pos, h, dist, ends) AS (
         |  SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |    CAST(0 AS BIGINT), CAST([] AS BIGINT[]) FROM d
         |  UNION ALL
         |  SELECT w.doc_id, w.pos + 1,
         |    (w.h * 2 + gt.v) % 4294967296,
         |    CASE WHEN w.dist + 1 >= 16
         |           AND (w.h * 2 + gt.v) % 4294967296 % 64 = 0
         |      THEN 0 ELSE w.dist + 1 END,
         |    CASE WHEN w.dist + 1 >= 16
         |           AND (w.h * 2 + gt.v) % 4294967296 % 64 = 0
         |      THEN list_append(w.ends, w.pos + 1) ELSE w.ends END
         |  FROM walk w
         |  JOIN d ON d.doc_id = w.doc_id AND w.pos < d.n
         |  JOIN gt ON gt.i = ascii(substr(d.text, CAST(w.pos + 1 AS INTEGER), 1))
         |),
         |fin AS (SELECT w.doc_id, w.ends, d.n FROM walk w
         |  JOIN d USING (doc_id) WHERE w.pos = d.n),
         |fe AS (SELECT doc_id,
         |  CASE WHEN len(ends) = 0 THEN [n]
         |       WHEN ends[len(ends)] <> n THEN list_append(ends, n)
         |       ELSE ends END AS ends
         | FROM fin),
         |c AS (SELECT doc_id, ends, unnest(range(1, len(ends) + 1)) AS k
         | FROM fe),
         |r AS (SELECT doc_id, k - 1 AS chunk_idx,
         |   CASE WHEN k = 1 THEN CAST(1 AS BIGINT) ELSE ends[k-1] + 1 END
         |     AS byte_start,
         |   ends[k] AS byte_end
         | FROM c)
         |SELECT r.doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
         | byte_start, byte_end, byte_end - byte_start + 1 AS n_bytes,
         | md5(substr(d2.text, CAST(byte_start AS INTEGER),
         |   CAST(byte_end - byte_start + 1 AS INTEGER))) AS chunk_md5
         |FROM r JOIN documents d2 ON d2.doc_id = r.doc_id
         |ORDER BY r.doc_id, chunk_idx""".stripMargin
    },
    // funnel NOT(any rule) ≡ verdict='kept'; dedup = min id per md5(text)
    // (row_number rn=1); split thresholds as q_corpus_split; per-split
    // epoch-shuffle positions as q_shard_manifest, PARTITIONed by split
    "q_prep_pipeline" ->
      """WITH t AS (SELECT doc_id, n_chars, text,
        |  list_filter(string_split(text,' '), x -> x <> '') toks
        | FROM documents),
        |s AS (SELECT doc_id, text, n_chars,
        |  CAST(len(toks) AS BIGINT) AS nt,
        |  CAST(len(list_filter(toks, x -> x IN ('a','the'))) AS BIGINT)
        |    AS nstop
        | FROM t),
        |k AS (SELECT doc_id, text, nt FROM s
        | WHERE NOT (nt < 20) AND NOT (nstop = 0)
        |   AND NOT (n_chars * 10 > nt * 62) AND NOT (nstop * 3 >= nt)),
        |dd AS (SELECT doc_id, nt FROM (
        |   SELECT doc_id, nt, row_number() OVER (
        |     PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM k)
        | WHERE rn = 1),
        |sp AS (SELECT doc_id, nt,
        |  CASE WHEN substr(md5('s1:' || CAST(doc_id AS VARCHAR)), 1, 4)
        |         < 'cccc' THEN 'train'
        |       WHEN substr(md5('s1:' || CAST(doc_id AS VARCHAR)), 1, 4)
        |         < 'e666' THEN 'val'
        |       ELSE 'test' END AS split
        | FROM dd),
        |p AS (SELECT split, nt, CAST(row_number() OVER (
        |   PARTITION BY split
        |   ORDER BY md5('e0:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
        |   AS BIGINT) AS pos
        | FROM sp)
        |SELECT split, pos // 50 AS shard_idx, count(*) AS n_docs,
        | CAST(sum(nt) AS BIGINT) AS n_tokens
        |FROM p GROUP BY 1, 2 ORDER BY split, shard_idx""".stripMargin,
    "q_cdc_chunks" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text,' '), x -> x <> '') toks
        | FROM documents),
        |nz AS (SELECT doc_id, toks, len(toks) n FROM t WHERE len(toks) > 0),
        |b AS (SELECT doc_id, toks, n,
        |  CASE WHEN n < 4 THEN [] ELSE list_filter(range(4, n + 1), i ->
        |    substr(md5(list_aggregate(toks[i-3:i], 'string_agg', ' ')),
        |      1, 1) = '0') END AS bounds
        | FROM nz),
        |e AS (SELECT doc_id, toks, n,
        |  CASE WHEN list_contains(bounds, n) THEN bounds
        |       ELSE list_append(bounds, n) END AS ends
        | FROM b),
        |c AS (SELECT doc_id, toks, ends,
        |  unnest(range(1, len(ends) + 1)) AS k FROM e),
        |r AS (SELECT doc_id, k - 1 AS chunk_idx,
        |   CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END AS tok_start,
        |   ends[k] AS tok_end, toks
        | FROM c)
        |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
        | CAST(tok_start AS INTEGER) AS tok_start,
        | CAST(tok_end AS INTEGER) AS tok_end,
        | CAST(tok_end - tok_start + 1 AS BIGINT) AS n_tok,
        | md5(list_aggregate(toks[tok_start:tok_end], 'string_agg', ' '))
        |   AS chunk_md5
        |FROM r ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_shard_manifest" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split(text,' '), x -> x <> ''))
        |    AS BIGINT) AS nt
        | FROM documents),
        |p AS (SELECT doc_id, nt, CAST(row_number() OVER (
        |   ORDER BY md5('e0:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
        |   AS BIGINT) AS pos
        | FROM t)
        |SELECT pos // 100 AS shard_idx, count(*) AS n_docs,
        | CAST(sum(nt) AS BIGINT) AS n_tokens,
        | min(pos) AS min_pos, max(pos) AS max_pos
        |FROM p GROUP BY 1 ORDER BY shard_idx""".stripMargin
  )
}
