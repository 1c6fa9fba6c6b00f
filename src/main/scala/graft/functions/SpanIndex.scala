package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.operators.{BoundaryExchange, Release}

/** MULTI-threshold duplicate-span INDEX: one corpus pass that afterwards
  * answers [[Corpus.duplicateSpanIntervals]] / [[Corpus.maskDuplicateSpans]]
  * for EVERY `minLen` in a configured `[floor, cap]` band without touching
  * the census again — the interactive-threshold regime the per-minLen
  * census (one full pass per threshold) cannot serve.
  *
  * Algorithmic kin of the reference's suffix sorting
  * (/root/reference/examples/suffix_sorting/prefix_doubling.hpp — what a
  * suffix ORDER is for) and of Lee et al. 2021 (arXiv:2107.06499), whose
  * ExactSubstr tool builds one suffix array and serves any length
  * threshold from it. The Spark realization sidesteps a distributed
  * suffix-array construction entirely:
  *
  *   For token position p, let R(p) = the longest prefix of the suffix
  *   starting at p that occurs at >= minCount corpus positions counting
  *   p itself (within-document repeats count — ExactSubstr's occurrence
  *   semantics). A position q is inside a duplicated span
  *   of length >= L  iff  exists p <= q with R(p) >= max(L, q - p + 1),
  *   so the masked-position set at threshold L is exactly
  *   UNION of [p, p + R(p)) over p with R(p) >= L — the index is just
  *   the per-position R values.
  *
  * R is computed from a SINGLE global sort: in lexicographic suffix
  * order (over any injective alphabet relabeling — per-token xxhash64
  * here), all suffixes sharing a prefix are contiguous, so
  * R(p) = max(LCP with sorted predecessor, LCP with sorted successor).
  * No prefix-doubling rounds: suffix keys are CAPPED at `cap` tokens
  * (below), so a plain `repartitionByRange` + partition-local sort over
  * the capped keys is a correct suffix order for everything the index
  * can be asked.
  *
  * WHY the cap loses nothing for L <= cap (so intervals keep their TRUE
  * extent even when a span is longer than cap): with R~ = min(R, cap),
  * take q covered by [p, p + R(p)) with R(p) >= L. If q - p < cap then
  * R~(p) >= min(R(p), cap) >= min(max(L, q - p + 1), cap) suffices: both
  * L and q - p + 1 are <= cap, so the same p covers q under R~.
  * Otherwise let p' = q - cap + 1: a duplicated substring's suffixes are
  * duplicated too, so R decays by at most 1 per step (R(p+1) >= R(p)-1
  * within a document), giving R(p') >= R(p) - (p'-p) >= q - p' + 1 = cap,
  * hence R~(p') = cap >= L and [p', p' + cap) covers q. The capped union
  * therefore EQUALS the true union for every L in [floor, cap], and the
  * maximal islands — the interval outputs — are identical.
  *
  * The `floor` prunes the index: positions with R < floor (= their
  * floor-gram census count is 1) never enter the suffix sort, so on a
  * mostly-unique corpus the expensive step runs over the duplicated
  * minority only. Queries are valid for minLen in [floor, cap]
  * (enforced; the band is carried in the index schema).
  *
  * Index schema: `(<idCol>, positions array<int>, rlens array<int>,
  * __floor int, __cap int, __minc int, __cross boolean)` — one row per
  * document that has any position with R >= floor; `positions` ascending
  * 1-based token starts, `rlens(i)` = min(R, cap) at that start,
  * `__cross` the counting mode the index was built under.
  *
  * 100 TB posture, step by step: byte-identical documents COLLAPSE to
  * one representative before anything else (md5 group; census weighted
  * by group size, suffix rows duplicated min(m, minCount) times — the
  * proof of exactness is at the collapse site in
  * [[buildDuplicateSpanIndex]]; index rows re-expand to members at the
  * end), so an exact-dup-heavy crawl shrinks the whole build by the
  * duplication factor; tokenization is persisted once and
  * released after the consuming action; the floor census shuffles
  * (id, pos, hash64) scalars exactly like [[Corpus.maskDuplicateSpans]]
  * (8-byte keys, count >= minCount, auto-broadcast/shuffle per the same
  * plan-stats guard); candidate starts regroup per document so each
  * document's token-hash array travels ONCE into the slice step; the
  * suffix sort shuffles 8*cap bytes per CANDIDATE position (the one
  * deliberately heavy step — at cap=64 that is ~0.5 KiB per duplicated
  * token, and only duplicated tokens; an offline index build, amortized
  * over every threshold queried after); neighbor LCP is a partition-
  * local scan with a peer-to-peer one-row boundary exchange (the
  * net.Predecessor topology — the driver folds only per-partition
  * counts); the R aggregation shuffles (id, pos, lcp) scalars; the
  * per-document regroup is bounded by document length. QUERIES from the
  * index are one co-partitionable equi-join on the id plus per-row
  * array work — no census, no sort, no shuffle beyond the join. When
  * STORING the index, hash-distribute it on the id at a sane partition
  * count (`.repartition(n, col(id))`): the query's post-join per-row
  * work inherits the index scan's split count whenever the planner
  * broadcasts the documents side, so a single-file toy index serializes
  * it (measured 2x at sf1 — a toy-layout artifact; a corpus-scale index
  * has thousands of splits by itself).
  * Break-even vs the census: the build costs ~cap/3 censuses over the
  * duplicated fraction; three or more thresholds over a dup-minority
  * corpus and the index wins, one threshold and the census wins —
  * which is why both exist.
  *
  * COUNTING MODES. `crossDoc = false` (default) counts total
  * occurrences (any `minCount >= 2` via the c-window min emission on
  * [[buildDuplicateSpanIndex]] — ExactSubstr semantics, within-document
  * repeats count). `crossDoc = true` counts DISTINCT DOCUMENTS at
  * d = 2 (the boilerplate convention of [[Corpus.maskDuplicateSpans]]
  * `countOccurrences = false`): R(p) = the longest prefix of p's suffix
  * occurring in >= `minDocs` distinct documents, so a passage repeated
  * only WITHIN one document never indexes. The d = 2 scan is EXACT via
  * the nearest-different-document argument (proof on [[crossDocScan]]);
  * d >= 3 thresholds (round 13) take the banded L-BLOCK census scan —
  * exactness and the distribution argument on [[blockDocScan]], which
  * retires the known-limit this file used to carry (the
  * suffix-tree-docfreq machinery is only needed UNBANDED; within the
  * index's [floor, cap] band the block census distributes with
  * O(band)-scalar boundary state).
  */
object SpanIndex {

  /** Longest common prefix of two capped suffix keys. */
  private def lcp(a: Seq[Long], b: Seq[Long]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a(i) == b(i)) i += 1
    i
  }

  /** Regroup raw scan pairs `(id, __p, __r)` into one `(id, positions,
    * rlens)` row per id — per-position MAX, `__r >= floor` cut, arrays
    * sorted by position — in ONE exchange (r16, guide §2.4): the
    * historical `groupBy(id, p).max` → `filter` → `groupBy(id).collect`
    * chain paid two back-to-back shuffles of the same candidate-sized
    * rows (and at toy scale two AQE stage round-trips) for what one
    * `groupBy(id)` plus a per-row array pass computes exactly: sorted by
    * `(p, r)`, the LAST element of each p-run is that position's max.
    * The HOF lambdas reference only ATTRIBUTES (aggregate outputs), so
    * CollapseProject cannot inline the sort into a per-element
    * re-evaluation (the measured 50× hazard on the sweep path).
    * SpanIndexCensusSpec pins it against the two-exchange chain.
    */
  private[graft] def regroupPairs(pairs: DataFrame, idCol: String,
      floor: Int): DataFrame = pairs
    .groupBy(col(idCol))
    .agg(array_sort(collect_list(struct(col("__p"), col("__r"))))
      .as("__prs"))
    .select(col(idCol), filter(col("__prs"), (x, i) =>
        (i === size(col("__prs")) - 1) ||
          (element_at(col("__prs"), (i + lit(2)).cast("int"))("__p")
            =!= x("__p")))
      .as("__prm"))
    .select(col(idCol),
      filter(col("__prm"), x => x("__r") >= floor).as("__pr"))
    .filter(size(col("__pr")) > 0)
    .select(col(idCol),
      transform(col("__pr"), x => x("__p")).as("positions"),
      transform(col("__pr"), x => x("__r")).as("rlens"))

  /** The parameters an index is built under and records in its header
    * columns. Constructing one runs the band/mode validation that the
    * build and both appends share.
    */
  private final case class Band(floor: Int, cap: Int, minCount: Int,
      crossDoc: Boolean, minDocs: Int) {
    require(floor >= 1, s"floor must be >= 1, got $floor")
    require(cap >= floor, s"cap must be >= floor; got cap=$cap floor=$floor")
    require(minCount >= 2 && minCount <= 4096,
      s"minCount must be in [2, 4096], got $minCount")
    require(minDocs >= 2 && minDocs <= 4096,
      s"minDocs must be in [2, 4096], got $minDocs")
    require(!crossDoc || minCount == 2,
      "crossDoc counting is parameterized by minDocs; minCount applies " +
        "to occurrence mode only and must stay 2 under crossDoc")
    require(crossDoc || minDocs == 2,
      "minDocs > 2 is a distinct-document threshold — pass crossDoc = " +
        "true (occurrence thresholds are minCount)")

    /** The census prune threshold AND the recorded `__minc`: distinct-doc
      * counts under crossDoc, total occurrences otherwise.
      */
    val censusMin: Int = if (crossDoc) minDocs else minCount

    /** The header columns every index row carries. */
    def header: Seq[Column] = Seq(lit(floor).as("__floor"),
      lit(cap).as("__cap"), lit(censusMin).as("__minc"),
      lit(crossDoc).as("__cross"))
  }

  /** Per-token 64-bit relabeling: suffix comparison over hash sequences
    * equals comparison over token sequences (tokens are space-free, so
    * token-sequence equality == gram-string equality), modulo 64-bit
    * collisions — the same birthday-bounded acceptance as the census
    * key in maskDuplicateSpans, and a collision can only OVER-mask.
    */
  private def tokenHashes(tokens: Column): Column =
    transform(tokens, t => xxhash64(t)).as("__th")

  private def hashedDocs(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol), tokenHashes(Text.tokens(col(textCol))))

  /** Floor-gram occurrences: one row per 1-based start `__p` of a full
    * floor-gram in `th`'s `__th`, with `__fh` the gram's hash; every
    * other column of `th` passes through.
    */
  private def floorGrams(th: DataFrame, floor: Int): DataFrame = {
    val keep = th.columns.filter(_ != "__th").map(col).toSeq
    th.filter(size(col("__th")) >= floor)
      .select(keep :+ posexplode(
        transform(sequence(lit(1), size(col("__th")) - (floor - 1)),
          p => xxhash64(slice(col("__th"), p, lit(floor)))))
        .as(Seq("__i", "__fh")): _*)
      .select(keep ++ Seq((col("__i") + 1).as("__p"), col("__fh")): _*)
  }

  /** Per-gram count of floor-gram occurrences `occ` under `name`: total
    * positions, or distinct documents under crossDoc.
    */
  private def gramCounts(occ: DataFrame, idCol: String, crossDoc: Boolean,
      name: String): DataFrame =
    (if (crossDoc) occ.select(col("__fh"), col(idCol)).distinct() else occ)
      .groupBy(col("__fh")).agg(count(lit(1)).as(name))

  /** Candidate starts: the occurrences of a duplicated gram, one
    * `(id, __ps)` row per document.
    */
  private def candidateStarts(occ: DataFrame, dupSide: DataFrame,
      idCol: String): DataFrame =
    occ.join(dupSide, Seq("__fh"), "left_semi")
      .groupBy(col(idCol)).agg(collect_list(col("__p")).as("__ps"))

  /** The identical-text collapse key. */
  private def textKey(textCol: String): Column =
    md5(coalesce(col(textCol).cast("string"), lit(""))).as("__gk")

  /** Identical-text groups `(__gk, __rep, __m)` of `(id, __gk)` rows: the
    * minimum id represents the group, `__m` is its size.
    */
  private def textGroups(keyed: DataFrame, idCol: String): DataFrame =
    keyed.groupBy(col("__gk"))
      .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("__m"))

  private def unionDocs(oldDocs: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String): DataFrame =
    oldDocs.select(col(idCol), col(textCol))
      .unionByName(newDocs.select(col(idCol), col(textCol)))

  /** Broadcast `df`, or hint the shuffled hash join. The census
    * aggregates sit above a stats-under-estimated explode, so the
    * non-broadcast side is hinted instead of letting the static planner
    * eagerly broadcast it (the maskDuplicateSpans join posture).
    */
  private def joinSide(df: DataFrame, small: Boolean): DataFrame =
    if (small) broadcast(df) else df.hint("shuffle_hash")

  /** The suffix-sort step of the build and of the append merge. `docs`
    * holds one row per representative: its identical-text group size
    * `__m`, token hashes `__th` and candidate starts `__ps`. Builds the
    * capped suffix keys, range-sorts them, persists the sorted suffixes
    * DISK_ONLY and scans them with the counting mode's scan. Returns the
    * raw `(id, __p, __l)` pairs, whose per-position max is R; the sorted
    * snapshot is released after the next action.
    *
    * One doc-array shipment per representative, each suffix duplicated
    * min(m, minCount) times (copies sort adjacent and stand in for the
    * group's occurrences — see the collapse note in the build); the sort
    * is the heavy step (8*cap bytes per candidate) — see object doc.
    * The crossDoc scan keeps the copy ordinal: (id, copy) is the scan's
    * document LABEL, so the min(m, 2) copies of an identical-text group
    * stand for two distinct real documents (and a single-copy doc's
    * within-document repeats share one label — correctly NOT cross-doc).
    * __cp also totalizes the sort order, which the two scan passes of
    * crossDocScan need to observe identically; the occurrence path drops
    * it (its copies are indistinguishable, so tie order is immaterial)
    * and keeps its measured shuffle width. d >= 3 distinct-doc
    * thresholds — or d = 2 under `blockScanAtD2` — take the banded
    * L-BLOCK scan ([[blockDocScan]]): no copy explosion, each
    * representative suffix rides ONCE carrying its group size `__m`.
    */
  private def suffixPairs(docs: DataFrame, idCol: String, b: Band,
      blockScanAtD2: Boolean): DataFrame = {
    val keys = docs
      .select(col(idCol), col("__m"), explode(transform(col("__ps"),
        p => struct(p.as("p"), slice(col("__th"), p, lit(b.cap)).as("k"))))
        .as("__s"))
      .select(col(idCol), col("__m"), col("__s.p").as("__p"),
        col("__s.k").as("__key"))
    val blockPath = b.crossDoc && (b.minDocs > 2 || blockScanAtD2)
    val rows = if (blockPath)
        keys.select(col(idCol), col("__p"), col("__m"), col("__key"))
      else {
        val withCp = keys.select(col(idCol), col("__p"), col("__key"),
          explode(sequence(lit(1L),
            least(lit(b.minCount.toLong), col("__m")))).as("__cp"))
        if (b.crossDoc)
          withCp.select(col(idCol), col("__p"), col("__cp"), col("__key"))
        else withCp.select(col(idCol), col("__p"), col("__key"))
      }
    val order = Seq(col("__key"), col(idCol), col("__p"))
    val suffixes = rows.repartitionByRange(order: _*)
      .sortWithinPartitions(
        (if (b.crossDoc && !blockPath) order :+ col("__cp") else order): _*)
    // persisted as a SERIALIZED Dataset cache on DISK, not an RDD
    // .cache() of deserialized Row objects: the suffix frame is 8*cap
    // bytes per candidate BEFORE Java object overhead — corpus-scale,
    // like a shuffle spill, and read three times (counts, boundary
    // tails, window scan). The Row-object cache OOM'd an 8 GiB heap at
    // sf10 (27M candidates, cap 16), and even a MEMORY_AND_DISK cache
    // starved concurrent aggregations of unified memory through
    // storage-unroll competition (AGGREGATE_OUT_OF_MEMORY at cap 24) —
    // the full-board sf10 column caught both. DISK_ONLY keeps the whole
    // unified-memory budget with execution; the re-reads are sequential
    // local-disk streams, shuffle-file economics.
    suffixes.persist(StorageLevel.DISK_ONLY)
    val pairs = if (blockPath)
        blockDocScan(suffixes, idCol, b.floor, b.cap, b.minDocs)
      else {
        val rdd = suffixes.rdd
        val pairSchema = StructType(Seq(
          StructField(idCol, suffixes.schema(idCol).dataType),
          StructField("__p", IntegerType, nullable = false),
          StructField("__l", IntegerType, nullable = false)))
        suffixes.sparkSession.createDataFrame(if (b.crossDoc)
          crossDocScan(rdd) else occurrenceScan(rdd, b.minCount), pairSchema)
      }
    Release.hold(suffixes)
    pairs
  }

  /** Build the index. See object doc for schema, semantics, and the
    * exactness proof. `broadcastDups` as in [[Corpus.maskDuplicateSpans]]:
    * None auto-selects from plan statistics.
    *
    * In occurrence mode (`crossDoc = false`) the returned frame is LAZY;
    * the crossDoc modes run eager Spark jobs during the build call (the
    * d = 2 scan's boundary-tail collects and the d >= 3 block census
    * summaries materialize the suffix sort before returning). In every
    * mode the internal snapshots (tokenization, sorted suffixes) are
    * released by the first Dataset action after the build returns (or
    * after the enclosing `Release.scope` returns) — so before querying
    * MULTIPLE thresholds, persist the result or
    * write it out and read it back (as q_span_index_multi and the
    * spanindex bench do). Serving several minLen values straight off the
    * un-persisted return value re-runs the entire suffix-sort build once
    * per query, and any unrelated Dataset action between build and first
    * use can drop the snapshots early.
    *
    * `minCount` generalizes the occurrence threshold (>= minCount total
    * occurrences, ExactSubstr counting): R_c(p) = the longest L such that
    * p's L-gram occurs >= c times = the max over windows of c CONSECUTIVE
    * suffixes (in sorted order) containing p of the window's min adjacent
    * LCP — computed in the same single scan by emitting each full
    * window's min to all c member positions and max-aggregating per
    * position (c=2 degenerates to the adjacent-pair emission). Emission
    * volume is c rows of (id, pos, lcp) scalars per candidate, so keep
    * minCount small (it is a duplication threshold, not a percentile);
    * the boundary exchange ships c-1 predecessor rows per partition.
    *
    * `crossDoc = true` switches counting to >= `minDocs` DISTINCT
    * DOCUMENTS (see object doc; `minCount` stays 2 and is ignored in
    * this mode — `__minc` records `minDocs`). The build pipeline is
    * identical up to the suffix sort (the floor census aggregates
    * distinct documents per gram instead of total occurrences and prunes
    * at >= minDocs); the sorted scan is the nearest-different-document
    * pass of [[crossDocScan]] at d = 2, or the banded L-block census of
    * [[blockDocScan]] at d >= 3 (whose suffix rows ride once with their
    * group size instead of as labeled copies). Served queries are
    * identical — the index schema just records the mode in `__cross`.
    */
  def buildDuplicateSpanIndex(df: DataFrame, idCol: String, textCol: String,
      floor: Int = 8, cap: Int = 64, minCount: Int = 2,
      broadcastDups: Option[Boolean] = None,
      crossDoc: Boolean = false, minDocs: Int = 2): DataFrame =
    buildIndexInternal(df, idCol, textCol, floor, cap, minCount,
      broadcastDups, crossDoc, minDocs, blockScanAtD2 = false)

  /** [[buildDuplicateSpanIndex]] body. `blockScanAtD2` forces the banded
    * block scan ([[blockDocScan]]) at minDocs = 2 — normally served by
    * the cheaper nearest-different-document scan — so SpanIndexSpec can
    * pin the two algorithms EQUAL on the regime they share.
    */
  private[graft] def buildIndexInternal(df: DataFrame, idCol: String,
      textCol: String, floor: Int, cap: Int, minCount: Int,
      broadcastDups: Option[Boolean], crossDoc: Boolean, minDocs: Int,
      blockScanAtD2: Boolean): DataFrame =
    buildIndexAndCensusInternal(df, idCol, textCol, floor, cap, minCount,
      broadcastDups, crossDoc, minDocs, blockScanAtD2,
      withCensus = false)._1

  private def buildIndexAndCensusInternal(df: DataFrame, idCol: String,
      textCol: String, floor: Int, cap: Int, minCount: Int,
      broadcastDups: Option[Boolean], crossDoc: Boolean, minDocs: Int,
      blockScanAtD2: Boolean,
      // r16: derive the census sidecar from the SAME tokenized frame the
      // index build already snapshots (guide §1.2 — the independent
      // buildSpanCensus lineage re-tokenized the whole corpus a second
      // time). The census frames read the held `toks`, so a census write
      // reuses it when it runs inside the caller's Release scope.
      withCensus: Boolean): (DataFrame, Option[SpanCensus]) = {
    val b = Band(floor, cap, minCount, crossDoc, minDocs)
    // identical-text COLLAPSE (the round-9 Dedup lesson applied to the
    // suffix sort): identical documents have identical R arrays, and a
    // group of m byte-identical copies contributes occurrence COUNT, not
    // information. Group by md5(text), run everything over the group
    // REPRESENTATIVES with (a) the floor census weighted by m (total
    // occurrences of a gram = sum of m over rep hits) and (b) each rep
    // suffix row duplicated min(m, minCount) times in the sort, then
    // re-expand index rows to members. Exactness of the min(m, c) copy
    // truncation: a window of c consecutive virtual suffixes takes
    // k_i <= c copies of any one suffix, and interior suffixes of a
    // window contribute ALL their copies, so a window is realizable over
    // the truncated copies iff it is realizable virtually, with the same
    // min-LCP (copies sort adjacent; LCP between copies is the full
    // capped key, which never undercuts a cross-row LCP). On a 100-copy
    // exact-dup corpus this shrinks the sort input 100x; on a dup-free
    // corpus it costs one (id, md5) scalar aggregate and two joins.
    val keyed = df.select(col(idCol), textKey(textCol))
    val groups = textGroups(keyed, idCol)
    val members = keyed.join(groups, Seq("__gk"))
      .select(col("__rep"), col(idCol).as("__member"))
    val reps = df.join(
        groups.select(col("__rep"), col("__m")),
        df(idCol) === col("__rep"))
      .select(col(idCol), col(textCol), col("__m"))
    // DISK_ONLY, not MEMORY_AND_DISK: one row per representative doc
    // carrying the FULL token array — corpus-sized, and live across the
    // census AND the suffix-key build (two aggregation-heavy stages).
    // The SCALE.md r10 rule (proved on the suffix snapshot, full war
    // story at its persist site in [[suffixPairs]]): corpus-sized
    // array-carrying snapshots must not compete with aggregation memory
    // via storage-unroll, and DISK_ONLY measured faster at every scale.
    val toks = reps
      .select(col(idCol), col("__m"), Text.tokens(col(textCol)).as("__toks"))
      .persist(StorageLevel.DISK_ONLY)
    val th = toks.select(col(idCol), col("__m"), tokenHashes(col("__toks")))

    // floor census over candidate starts: (rep, pos, hash(floor-slice))
    // scalars weighted by group size; >= minCount total occurrences
    // anywhere (ExactSubstr counting)
    val occ = floorGrams(th, floor)
    // crossDoc: a gram's distinct-document count is the sum of m over the
    // DISTINCT representative groups containing it (each group stands for
    // m distinct real documents; repeats of the gram inside one group add
    // documents only once) — first collapse to one row per (gram, rep),
    // then sum the group sizes. Occurrence mode sums m over every hit.
    val dup = (if (crossDoc)
        occ.groupBy(col("__fh"), col(idCol)).agg(max(col("__m")).as("__m"))
      else occ)
      .groupBy(col("__fh")).agg(sum(col("__m")).as("__n"))
      .filter(col("__n") >= b.censusMin).select(col("__fh"))
    val cand = candidateStarts(occ,
      joinSide(dup, broadcastDups.getOrElse(smallOrUnknown(df))), idCol)
    val pairs = suffixPairs(th.join(cand, Seq(idCol)), idCol, b,
      blockScanAtD2)
    // per-position max + r >= floor cut (sub-floor rows exist only via a
    // census hash collision and would be dropped by every valid query's
    // r >= minLen filter anyway) + regroup, in ONE exchange
    val repIndex = regroupPairs(
        pairs.select(col(idCol), col("__p"), col("__l").as("__r")),
        idCol, floor)
      .withColumnRenamed(idCol, "__ridx")
    // re-expand representative rows to every group member (identical
    // text -> identical R array); (rep, member) scalar frame, never
    // text. A g-copy group fans g output rows out of one join key —
    // LINEAR in g (the index owes one row per member), the same
    // accepted single-key fan-out as the keep/cluster member joins in
    // Dedup; nothing here is quadratic in group size.
    val index = repIndex
      .join(members, repIndex("__ridx") === members("__rep"))
      .select(Seq(col("__member").as(idCol), col("positions"),
        col("rlens")) ++ b.header: _*)
    // one tokenize pass serves BOTH outputs: the census gram rows are the
    // build's own floor-occurrence frame re-aggregated per (group, gram),
    // and members come from the same md5 keying — no second corpus pass
    val censusOpt = if (!withCensus) None else Some(SpanCensus(
      censusGrams(occ, idCol, floor),
      keyed.join(groups, Seq("__gk"))
        .select(col("__gk"), col("__rep").as("__gid"),
          col(idCol).as("__member"))))
    Release.hold(toks)
    (index, censusOpt)
  }

  /** Plan-statistics size of `df` (file-size estimates — no Spark job);
    * None when the planner does not know it (the defaultSizeInBytes
    * sentinel: RDD-backed frames, some views).
    */
  private def planBytes(df: DataFrame): Option[BigInt] = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes == df.sparkSession.sessionState.conf.defaultSizeInBytes) None
    else Some(bytes)
  }

  /** Whether `df` is small — at most [[Corpus.BroadcastDupsMaxInputBytes]]
    * by plan statistics — or of unknown size: the broadcast choice for
    * the census joins, and the legacy append's disjoint-id check.
    */
  private def smallOrUnknown(df: DataFrame): Boolean =
    planBytes(df).forall(_ <= Corpus.BroadcastDupsMaxInputBytes)

  /** The append-vs-rebuild decision from PLAN STATISTICS only (file-size
    * estimates — building this predicate runs no Spark job): rebuild when
    * the delta's bytes exceed `rebuildFraction` × the old corpus'.
    * Unknown stats on either side choose the incremental path — the
    * function's purpose, and a pure cost trade since both branches are
    * exact. Spec-pinned (SpanIndexSpec) so a regression back to eager
    * corpus counts cannot land silently.
    */
  private[graft] def shouldRebuild(oldDocs: DataFrame, newDocs: DataFrame,
      rebuildFraction: Double): Boolean =
    (planBytes(oldDocs), planBytes(newDocs)) match {
      case (Some(ob), Some(nb)) =>
        BigDecimal(nb) > BigDecimal(ob) * rebuildFraction
      case _ => false
    }

  /** Pre-flight of both appends: `rebuildFraction` and the index header —
    * one row read from `index` must record the append's band and
    * counting mode. An EMPTY index (dup-free old corpus) carries no rows
    * to validate against; the explicit parameters are the contract there.
    */
  private def checkAppendTo(index: DataFrame, b: Band,
      rebuildFraction: Double): Unit = {
    require(rebuildFraction >= 0.0, "rebuildFraction must be >= 0")
    index.select(col("__floor"), col("__cap"), col("__minc"),
        col("__cross")).limit(1).collect().foreach { r =>
      require(r.getInt(0) == b.floor && r.getInt(1) == b.cap &&
          r.getInt(2) == b.censusMin && r.getBoolean(3) == b.crossDoc,
        s"index records (floor=${r.getInt(0)}, cap=${r.getInt(1)}, " +
          s"minCount/minDocs=${r.getInt(2)}, crossDoc=${r.getBoolean(3)}); " +
          s"append called with (floor=${b.floor}, cap=${b.cap}, " +
          s"minCount/minDocs=${b.censusMin}, crossDoc=${b.crossDoc})")
    }
  }

  /** The delta side of an append, the same whichever source supplies the
    * old corpus' counts: the new docs' token hashes (DISK_ONLY per the
    * SCALE.md r10 persist rule — delta-sized token arrays live across
    * the census and the suffix-key slice), their floor-gram occurrences
    * `occ`, the per-gram count they contribute (`__nn`: total positions,
    * or distinct documents under crossDoc), and that gram set as `keys`
    * and as a join side. The gram side is the DELTA's distinct grams
    * (small), broadcast unless the caller or the stats guard says
    * otherwise.
    */
  private final class Delta(newDocs: DataFrame, idCol: String,
      textCol: String, floor: Int, crossDoc: Boolean,
      broadcastDups: Option[Boolean]) {
    val th: DataFrame = hashedDocs(newDocs, idCol, textCol)
      .persist(StorageLevel.DISK_ONLY)
    val occ: DataFrame = floorGrams(th, floor)
    private val counts = gramCounts(occ, idCol, crossDoc, "__nn")
    val small: Boolean = broadcastDups.getOrElse(smallOrUnknown(newDocs))
    val keys: DataFrame = counts.select(col("__fh"))
    val gramSide: DataFrame = joinSide(keys, small)

    /** Union-count candidate grams — this delta's count plus the old
      * corpus' `__no` (absent: 0) reaches `censusMin` — as a join side.
      */
    def dupSide(oldCounts: DataFrame, censusMin: Int): DataFrame =
      joinSide(counts.join(oldCounts, Seq("__fh"), "left")
        .filter(col("__nn") + coalesce(col("__no"), lit(0L)) >= censusMin)
        .select(col("__fh")), small)
  }

  /** INCREMENTAL index maintenance: extend an index built over `oldDocs`
    * with `newDocs` (disjoint ids; `oldDocs` must be exactly the corpus
    * the index was built over, and `index` should be the persisted/stored
    * frame — this function reads one row from it to validate the recorded
    * band/mode against the parameters). Returns an index over the UNION
    * corpus that is EXACTLY equal to
    * `buildDuplicateSpanIndex(oldDocs ∪ newDocs, ...)` — R is a pure
    * function of the union corpus, so the rows match the full rebuild's.
    *
    * EXACTNESS of the delta restriction: for any position p,
    * R_union(p) = max(R_old(p), best LCP realized together with at least
    * one NEW-doc occurrence). Any suffix window/partner realizing a value
    * >= floor shares its floor-gram across all members, and a gram absent
    * from the new docs has unchanged counts — so the only positions whose
    * R can change, and the only partners that can change it, are those
    * whose floor-gram OCCURS IN THE NEW DOCS. The append therefore
    * censuses the new docs, semi-joins the old corpus' floor-gram
    * positions on the new-gram set, suffix-sorts ONLY that reduced
    * candidate set (new candidates + matched old positions — every
    * old position sharing a candidate gram is included, so scan
    * neighborhoods are complete), scans it with the same machinery as
    * the build ([[occurrenceScan]] / [[crossDocScan]]), and merges
    * per-position maxima with the stored index. Window completeness for
    * minCount = c: c union-consecutive suffixes with min-LCP >= floor all
    * share one floor-gram, so either all lie in the reduced set (gram in
    * new docs — and every between-row shares the gram too, preserving
    * consecutiveness) or none involve a new row (already counted in
    * R_old). Cross-doc d = 2 is the c = 2 case of the same argument with
    * labels — a new doc byte-identical to an old one lands in the same
    * collapse group, whose min(m, 2) labeled copies stand for its m
    * distinct real documents, exactly the build's convention.
    *
    * COST SHAPE vs a full rebuild: one floor-gram census pass over the
    * old corpus (scalars — unavoidable, the counts are corpus-global),
    * tokenization of only the MATCHED old docs, and the expensive step —
    * the 8·cap-bytes-per-position suffix sort — over the delta
    * neighborhood only, not the corpus, with the build's identical-text
    * collapse applied to the candidate docs (without it, the delta's
    * copy siblings on a replica-heavy corpus made the neighborhood as
    * large as the whole collapsed rebuild — measured 2× slower than the
    * rebuild at sf1; collapsed, the append beats the rebuild by the
    * neighborhood-to-corpus ratio). When the delta's PLAN-STATS bytes
    * exceed `rebuildFraction` × the old corpus' (file-size estimates —
    * no scan; round 13, replacing two eager full-corpus `count()`s that
    * at 100 TB scanned everything before any useful work) the function
    * falls back to the full rebuild over the union; UNKNOWN stats on
    * either side keep the incremental path (the fallback is a pure cost
    * trade — both branches are exact).
    *
    * `validateDisjointIds`: an id in BOTH corpora silently max-merges two
    * different documents' position arrays under one id — a corrupt index
    * with no error. `None` (auto) runs the one-scan semi-join check when
    * the old corpus' plan-stats are unknown or at most
    * [[Corpus.BroadcastDupsMaxInputBytes]], and SKIPS it on known-large
    * inputs (where the check would be the very full-corpus pass this
    * function exists to avoid — there the disjointness is the caller's
    * ingest contract); `Some(true)`/`Some(false)` force.
    *
    * RETURN-VALUE CONTRACT (ADVICE r16): when `index` arrives
    * UNPERSISTED, the merge persists its snapshot internally and
    * releases it after the caller's FIRST consuming action — run ONE
    * action on the returned frame (or persist it first); a second action
    * on the un-persisted return value re-runs the full index build.
    * Callers that pass a persisted `index` (every gate in this repo)
    * are unaffected.
    */
  def appendToSpanIndex(index: DataFrame, oldDocs: DataFrame,
      newDocs: DataFrame, idCol: String, textCol: String,
      floor: Int = 8, cap: Int = 64, minCount: Int = 2,
      crossDoc: Boolean = false, rebuildFraction: Double = 0.25,
      broadcastDups: Option[Boolean] = None,
      validateDisjointIds: Option[Boolean] = None,
      minDocs: Int = 2): DataFrame = {
    val b = Band(floor, cap, minCount, crossDoc, minDocs)
    checkAppendTo(index, b, rebuildFraction)
    val union = unionDocs(oldDocs, newDocs, idCol, textCol)
    if (validateDisjointIds.getOrElse(smallOrUnknown(oldDocs)))
      require(newDocs.select(col(idCol))
          .join(oldDocs.select(col(idCol)), Seq(idCol), "left_semi").isEmpty,
        "appendToSpanIndex: oldDocs and newDocs share document ids — " +
          "overlapping ids would max-merge two different documents' " +
          "position arrays into a corrupt index")
    if (shouldRebuild(oldDocs, newDocs, rebuildFraction))
      return buildDuplicateSpanIndex(union, idCol, textCol, floor, cap,
        minCount, broadcastDups, crossDoc, minDocs)

    val delta = new Delta(newDocs, idCol, textCol, floor, crossDoc,
      broadcastDups)
    // old positions matching a NEW gram — the only old positions whose R
    // can change. Persisted: fixed-width (id, p, fh) scalars, read by the
    // union-count aggregate AND the candidate union below — unpersisted,
    // each consumer re-tokenizes and re-explodes the whole old corpus
    val oldOccM = floorGrams(hashedDocs(oldDocs, idCol, textCol), floor)
      .join(delta.gramSide, Seq("__fh"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dupSide = delta.dupSide(
      gramCounts(oldOccM, idCol, crossDoc, "__no"), b.censusMin)
    // persisted DISK_ONLY (per-doc int arrays, the r10 rule): consumed
    // by the collapse keying and the suffix-key slice — each use would
    // otherwise re-run the whole census chain (measured 9 -> 23 s at
    // sf1 when the collapse landed unpersisted)
    val cand = candidateStarts(
        delta.occ.select(col(idCol), col("__p"), col("__fh"))
          .unionByName(oldOccM.select(col(idCol), col("__p"), col("__fh"))),
        dupSide, idCol)
      .persist(StorageLevel.DISK_ONLY)
    // identical-text COLLAPSE over the CANDIDATE docs (new ∪ matched
    // old), exactly the build's: identical docs are either all matched
    // or all unmatched (same grams), have identical candidate position
    // lists, and min(m, minCount) labeled copies of one representative
    // stand in for the group in the sort — the build's exactness proof
    // applies verbatim, since the scan input is just "docs with
    // candidate positions". Without this the delta's copy siblings made
    // the un-collapsed neighborhood as large as the whole collapsed
    // rebuild (measured 2× SLOWER than the rebuild at sf1 on the
    // replica corpus — SCALE.md, "Round-12: batched MASK sweep, and the
    // append's collapse lesson"); candidate
    // selection above already used exact per-position counts on real
    // ids, so the collapse here touches only the sort + scan.
    // (id, md5) scalars read by the group aggregate and the member join
    val candKeyed = union
      .join(cand.select(col(idCol)), Seq(idCol), "left_semi")
      .select(col(idCol), textKey(textCol))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // (gk, rep, m) scalars read by members, the rep-doc join, and the
    // slice's group-size join
    val candGroups = textGroups(candKeyed, idCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val candMembers = candKeyed.join(candGroups, Seq("__gk"))
      .select(col("__rep"), col(idCol).as("__member"))
    // token arrays travel once per REPRESENTATIVE into the slice; old
    // docs are re-tokenized only when matched (delta-neighborhood-sized)
    val repTh = hashedDocs(union.join(
        candGroups.select(col("__rep")), union(idCol) === col("__rep"))
      .select(col(idCol), col(textCol)), idCol, textCol)
    val out = appendScanMerge(index, repTh, cand,
      candGroups.select(col("__rep").as(idCol), col("__m")), candMembers,
      idCol, b, delta.small)
    Release.hold(delta.th, oldOccM, cand, candKeyed, candGroups)
    out
  }

  /** Shared tail of both append paths (legacy full-scan and census-
    * sidecar): the build's suffix-sort step ([[suffixPairs]]) over the
    * candidate REPRESENTATIVES, member re-expansion, and the
    * per-position max merge against the stored index. Inputs are the
    * delta-neighborhood frames the two paths compute differently:
    * `repTh` (rep id, token hashes), `cand` (rep id, candidate
    * positions), `candM` (rep id, UNION group size), `candMembers`
    * (`__rep`, `__member`) mapping each rep to every union member owed
    * an index row.
    */
  private def appendScanMerge(index: DataFrame, repTh: DataFrame,
      cand: DataFrame, candM: DataFrame, candMembers: DataFrame,
      idCol: String, b: Band, broadcastCands: Boolean): DataFrame = {
    // The pass-through split below references `index` TWICE (semi + anti).
    // Two references to an UNMATERIALIZED cached plan inside one action
    // race under AQE's concurrent query-stage scheduling — each branch
    // recomputes the full index build instead of reading the cache, a
    // duplicated corpus-scale pass at 100 TB. Materialize the snapshot
    // ONCE, sequenced, before the branching plan is acted on; if the
    // caller didn't persist the index, persist and hold it here.
    // The count runs even when the caller already materialized the cache
    // (ADVICE r16): a cached-scan count is index-merge-order, and Spark
    // exposes no public "all cached partitions loaded" probe to skip it
    // safely. Contract for API callers (also on appendToSpanIndex's
    // scaladoc): when the merge self-persists (unpersisted `index`
    // argument), the snapshot is released after the caller's FIRST
    // consuming action — persist the returned frame before running
    // multiple actions on it, or the second action rebuilds the index.
    val idxOwned = index.storageLevel == StorageLevel.NONE
    val idx = if (idxOwned) index.persist(StorageLevel.MEMORY_AND_DISK)
      else index
    idx.count()
    if (idxOwned) Release.hold(idx)
    // d >= 3 takes the block path here too (one row per rep suffix with
    // its union group size __m)
    val pairs = suffixPairs(
      repTh.join(cand, Seq(idCol)).join(candM, Seq(idCol)), idCol, b,
      blockScanAtD2 = false)
    // scan results are per REPRESENTATIVE — re-expand to every candidate
    // group member (identical text -> identical R), the build's linear
    // single-key fan-out
    val scanR = pairs
      .groupBy(col(idCol), col("__p")).agg(max(col("__l")).as("__r"))
      .withColumnRenamed(idCol, "__ridx")
      .join(candMembers, col("__ridx") === col("__rep"))
      .select(col("__member").as(idCol), col("__p"), col("__r"))
    // merge: per-position max of the scan against the stored index.
    // ONLY candidate members' stored rows can change — every scanR id is
    // a candMembers __member by construction — and stored rows are
    // already in final shape (r >= floor, positions array_sort'ed: both
    // the build and this merge emit exactly that), so non-candidate rows
    // PASS THROUGH untouched instead of paying the index-sized explode
    // plus two index-sized shuffles per append (guide §2.3/§2.4: shuffle
    // candidate-neighborhood bytes, not the whole index). The candidate
    // id set is delta-neighborhood-sized, so it rides the same
    // broadcast/shuffle decision as the other delta frames.
    val candSide = joinSide(
      candMembers.select(col("__member").as(idCol)).distinct(),
      broadcastCands)
    val untouched = idx.join(candSide, Seq(idCol), "left_anti")
      .select(col(idCol), col("positions"), col("rlens"),
        col("__floor"), col("__cap"), col("__minc"), col("__cross"))
    val oldPairs = idx.join(candSide, Seq(idCol), "left_semi")
      .select(col(idCol), explode(arrays_zip(col("positions"),
        col("rlens"))).as("__pr"))
      .select(col(idCol), col("__pr.positions").as("__p"),
        col("__pr.rlens").as("__r"))
    regroupPairs(scanR.unionByName(oldPairs), idCol, b.floor)
      .select(Seq(col(idCol), col("positions"), col("rlens")) ++
        b.header: _*)
      .unionByName(untouched)
  }

  /** Census SIDECAR (round 14 — keeps appends off the old TEXT): the
    * floor-gram census persisted WITH the index, so an append never has
    * to tokenize the old corpus to learn its gram counts or discover
    * which old documents a delta gram touches.
    *
    * Two frames, both scalar (no text):
    *  - `grams`: one row per (identical-text GROUP, floor-gram) —
    *    `__gid` (group id: the group's representative doc id at the
    *    group's creation, immutable thereafter), `__fh` (gram hash),
    *    `__pcnt` (positions of the gram in ONE copy of the group text),
    *    `__floor` (the band floor the grams were cut at — validated on
    *    append). Group-size-independent, so a group GROWING on append
    *    (a new doc byte-identical to an old one) changes no stored gram
    *    row — only `members` grows.
    *  - `members`: one row per real document — `__gk` (md5 text key,
    *    the merge key for identical-text appends), `__gid`, `__member`.
    *
    * Everything count-shaped is DERIVED, never stored: total
    * occurrences of a gram = Σ_gid __pcnt · m(gid), distinct documents
    * = Σ_gid m(gid), with m(gid) = the group's row count in `members`.
    * That is what makes the sidecar incrementally maintainable: counts
    * are additive in disjoint corpora, and a group's gram content never
    * changes (identical text), so an append touches only NEW groups'
    * gram rows and the delta's member rows.
    *
    * STORE acceleration (round 15 — makes the append's probe
    * delta-proportional instead of sidecar-scan-proportional; all three
    * are populated by [[writeSpanCensus]]/[[readSpanCensus]] and carried
    * through [[appendToSpanIndexWithCensus]] so chained batches keep
    * them; `None` everywhere is the plain in-memory regime and every
    * consumer falls back to it):
    *  - `counts`: stored per-group member counts `(__gid, __mo)` — the
    *    append reads them instead of re-aggregating the corpus-rows
    *    `members` frame on every batch.
    *  - `gramsByBucket`: the grams store WITH its `__fb =
    *    pmod(__fh, buckets)` partition column — a probe that knows which
    *    buckets its surviving grams live in partition-prunes the scan to
    *    those directories instead of reading the corpus-gram-sized
    *    sidecar.
    *  - `bloom`: one mergeable Bloom filter over every stored gram hash.
    *    No false negatives, so the exact probe semi-join downstream sees
    *    every real match; false positives only widen the bucket read.
    *    A NOVEL delta (zero gram overlap) dies here: no survivors, no
    *    buckets read — the probe cost becomes the delta-sized Bloom
    *    lookup itself. INVARIANT: a present bloom covers EVERY `__fh` in
    *    `grams` — maintained because blooms only enter via
    *    [[readSpanCensus]] (built over the full written store) and via
    *    the append's own delta merge; hand-assembling a census with a
    *    partial bloom would silently drop matches.
    */
  final case class SpanCensus(grams: DataFrame, members: DataFrame,
      counts: Option[DataFrame] = None,
      gramsByBucket: Option[DataFrame] = None,
      bloom: Option[GramBloom] = None)

  /** Serialized corpus-gram Bloom filter + the sizing it was created
    * with. `expectedItems`/`numBits` are pinned at store-write time and
    * reused for every delta bloom so [[appendToSpanIndexWithCensus]] can
    * merge them (Spark bloom merge requires identical sizing); at
    * extreme cardinality the false-positive rate rises and pruning
    * degrades gracefully toward the full sidecar scan — never toward a
    * wrong answer. `buckets` is the grams store's partition fan-out.
    *
    * `bytes` is LAZY: an append's updated census carries its merged
    * bloom as a thunk, because the two dominant consumers never force
    * it — [[writeSpanCensus]] rebuilds the bloom from the written store,
    * and a discarded census costs nothing — while a CHAINED append
    * forces it exactly when the next batch probes. Serializing a
    * hundreds-of-MB bloom per append would otherwise be a fixed bill
    * every small delta pays.
    */
  final class GramBloom(mk0: () => Array[Byte], val buckets: Int,
      val expectedItems: Long, val numBits: Long) {
    // the thunk is DROPPED after forcing: a chained append's thunk
    // captures its parent GramBloom, so keeping it would retain every
    // ancestor's forced bytes for the life of the chain (hundreds of MB
    // per link)
    private[this] var mk: () => Array[Byte] = mk0
    lazy val bytes: Array[Byte] = { val b = mk(); mk = null; b }
    def withBytes(newMk: () => Array[Byte]): GramBloom =
      new GramBloom(newMk, buckets, expectedItems, numBits)
  }

  object GramBloom {
    def apply(bytes: Array[Byte], buckets: Int, expectedItems: Long,
        numBits: Long): GramBloom =
      new GramBloom(() => bytes, buckets, expectedItems, numBits)
  }

  /** CAP of the auto-sized `__fb` partition fan-out for the stored
    * grams sidecar ([[AutoBucketGramRows]] below picks the actual
    * count). Pruning fires when the Bloom's false-positive SURVIVORS
    * hit fewer than `buckets` buckets, so the fan-out must exceed
    * fpRate x deltaGrams for the deltas that matter — 512 directories
    * with the 12-bits/item sizing below prunes a 10%-of-corpus novel
    * delta at sf10p to ~half the store and sub-percent deltas to a
    * handful of buckets. The fan-out is NOT free past that: an sf10p
    * A/B read a fixed ~+7 s per append at 1024 directories (listing +
    * footer overhead on every probe) against no measurable pruning
    * gain over 512, so 512 is the measured sweet spot at that store
    * size; a 100 TB store should raise it with corpus size (it is a
    * [[writeSpanCensus]] parameter, recorded in the store's bloom row).
    */
  val DefaultCensusBuckets = 512

  /** Auto bucket sizing: one directory per this many stored gram rows,
    * clamped to [8, [[DefaultCensusBuckets]]]. The fan-out must scale
    * DOWN with the store as well as up (VERDICT r15): every probe pays
    * a fixed per-directory listing/footer tax whether or not pruning
    * can fire, and a toy-scale store under 512 directories measured
    * ~2x on its append gate with zero pruning gain — survivors of any
    * interesting delta already exceed the bucket count there. The
    * slope must ALSO reach the cap by corpus scale: a NOVEL delta's
    * probe survivors are Bloom false positives (fp x delta grams, ~90
    * buckets touched for a 1% novel delta at sf10p), so its pruned
    * read shrinks with fan-out — a same-session A/B at the sf10p store
    * (10.4M gram rows) read census novel 1%/10% at 12.0/15.9 s under
    * 512 buckets vs 20.2/25.0 under 207 (and vs legacy 13.6/38.0):
    * rows/20k lands corpus-scale stores at the cap while sub-million-
    * row stores stay under ~50 directories.
    */
  val AutoBucketGramRows = 20000L

  /** Bloom bits per EXPECTED item (expected = 2x stored rows for append
    * headroom, so ~24 bits per actual item at write time): fp ~ 4e-5,
    * low enough that a sub-percent novel delta's survivor set stays
    * under [[DefaultCensusBuckets]] and the probe prunes.
    */
  private val BloomBitsPerItem = 12L

  /** Bloom size cap: 2^31 bits = 256 MiB — a driver/broadcast-safe
    * ceiling. Past ~1.8e8 stored gram rows the fp rate climbs above the
    * design point and pruning fades; correctness never depends on it
    * (the documented path past it is per-bucket Bloom sharding).
    */
  private val MaxBloomBits = 1L << 31

  /** Delta gram sets up to this many distinct hashes build their merge
    * Bloom DRIVER-side (collect the 8-byte hashes, put locally): a
    * distributed bloom aggregate ships its numBits-sized ZERO VALUE into
    * every task closure — a fixed multi-hundred-MB serialization bill
    * per append that dwarfs small deltas (measured +3-20 s at sf10p).
    * 4M hashes = 32 MB collected, driver puts are memory-speed. Larger
    * deltas fall back to a SINGLE-task distributed build (one zero
    * shipped, insertion streams), keeping unbounded deltas off the
    * driver.
    */
  private val DeltaBloomCollectMax = 4L * 1000 * 1000

  private def bloomFromBytes(
      b: Array[Byte]): org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(b))

  private def bloomToBytes(
      bf: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Per-(group, floor-gram) rows of [[SpanCensus]] from the floor-gram
    * occurrences `occ` of one representative per identical-text group;
    * ids pass through as `__gid`.
    */
  private def censusGrams(occ: DataFrame, idCol: String,
      floor: Int): DataFrame =
    occ.groupBy(col(idCol), col("__fh")).agg(count(lit(1)).as("__pcnt"))
      .select(col(idCol).as("__gid"), col("__fh"), col("__pcnt"),
        lit(floor).as("__floor"))

  /** [[censusGrams]] over `repDocs`, which must already be rep-only. */
  private def gramRows(repDocs: DataFrame, idCol: String, textCol: String,
      floor: Int): DataFrame =
    censusGrams(floorGrams(hashedDocs(repDocs, idCol, textCol), floor),
      idCol, floor)

  /** Build the [[SpanCensus]] sidecar for an index over `df` with the
    * same `floor`. One tokenize + explode + aggregate pass over the
    * collapsed corpus (group representatives) — the same order of work
    * as the build's own floor census; write it next to the index
    * ([[writeSpanCensus]]) and hand it to
    * [[appendToSpanIndexWithCensus]] to keep appends off the old text.
    */
  def buildSpanCensus(df: DataFrame, idCol: String, textCol: String,
      floor: Int): SpanCensus = {
    require(floor >= 1, s"floor must be >= 1, got $floor")
    val keyed = df.select(col(idCol), textKey(textCol))
    val groups = keyed.groupBy(col("__gk")).agg(min(col(idCol)).as("__gid"))
    val members = keyed.join(groups, Seq("__gk"))
      .select(col("__gk"), col("__gid"), col(idCol).as("__member"))
    val repDocs = df.join(groups.select(col("__gid").as(idCol)),
      Seq(idCol), "left_semi")
    SpanCensus(gramRows(repDocs, idCol, textCol, floor), members)
  }

  /** [[buildDuplicateSpanIndex]] plus its [[SpanCensus]] sidecar — the
    * offline build-and-store entry point: write BOTH outputs (the index
    * parquet and [[writeSpanCensus]]), then keep the corpus fresh with
    * [[appendToSpanIndexWithCensus]].
    *
    * r16: the census frames are DERIVED from the build's own persisted
    * token snapshot instead of an independent re-tokenizing lineage —
    * one corpus tokenize pass serves both outputs when the caller runs
    * the build, the index materialization (persist + an action) and the
    * census write inside ONE [[graft.operators.Release.scope]] (every
    * gate does: `SparkEntry.queries` opens it). Outside a scope the
    * snapshot goes at the caller's next Dataset action, like every other
    * hold; a later census write then re-tokenizes — correct frames, one
    * more corpus pass.
    */
  def buildDuplicateSpanIndexWithCensus(df: DataFrame, idCol: String,
      textCol: String, floor: Int = 8, cap: Int = 64, minCount: Int = 2,
      broadcastDups: Option[Boolean] = None, crossDoc: Boolean = false,
      minDocs: Int = 2): (DataFrame, SpanCensus) = {
    val (idx, cen) = buildIndexAndCensusInternal(df, idCol, textCol,
      floor, cap, minCount, broadcastDups, crossDoc, minDocs,
      blockScanAtD2 = false, withCensus = true)
    (idx, cen.get)
  }

  /** Data files under a store subdirectory at THIS moment — the
    * snapshot pin for [[readSpanCensus]]. Hidden files (`_SUCCESS`,
    * staging dirs, committer temporaries) are excluded the same way
    * Spark's own listing excludes them.
    */
  private def listStoreFiles(hconf: org.apache.hadoop.conf.Configuration,
      dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(hconf)
    if (!fs.exists(p)) Seq.empty
    else {
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      while (it.hasNext) {
        val f = it.next()
        val keep = f.isFile && {
          // a hidden segment anywhere under dir hides the file
          var q = f.getPath
          var ok = true
          while (ok && q != null && q.toString != fs.makeQualified(p).toString) {
            val n = q.getName
            // same rule as Spark's listing: an `_`-prefixed segment is
            // hidden UNLESS it is a partition directory (`__fb=3`)
            if ((n.startsWith("_") && !n.contains("=")) ||
              n.startsWith(".")) ok = false
            q = q.getParent
          }
          ok
        }
        if (keep) buf += f.getPath.toString
      }
      buf.toSeq
    }
  }

  /** Whether any file source in `df`'s lineage reads under `path` — the
    * self-write guard for [[writeSpanCensus]]: overwriting a store that
    * a frame's own lineage still lazily reads deletes the parquet files
    * mid-plan (job failure or silent loss depending on timing), so such
    * frames are staged to a scratch subdirectory first.
    */
  private def readsUnder(df: DataFrame, path: String,
      hconf: org.apache.hadoop.conf.Configuration): Boolean = {
    val t = new org.apache.hadoop.fs.Path(path)
    val target = t.getFileSystem(hconf).makeQualified(t).toString
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten.exists(r => r == target || r.startsWith(target + "/"))
  }

  /** Persist a [[SpanCensus]] under `path`: `path/grams` PARTITIONED by
    * `__fb = pmod(__fh, buckets)` (so a probe that knows its surviving
    * buckets reads only those directories), `path/members` (hash on
    * `__gid`), `path/counts` (stored per-group member counts — appends
    * never re-aggregate the members frame), and `path/bloom` (one
    * mergeable Bloom over every stored gram hash, built by re-scanning
    * the WRITTEN scalar store — one 8-byte column — not by a second
    * tokenize pass). [[readSpanCensus]] restores all of it; a store
    * written by an older layout (no counts/bloom) still reads, minus the
    * acceleration.
    *
    * `buckets = 0` (the default) auto-sizes the fan-out from the stored
    * gram row count ([[AutoBucketGramRows]]): the gram rows are staged
    * to `path/_staging_write` first (one tokenize pass — the
    * partitioned store is then a scalar-column reshuffle of the staged
    * files), counted, and the count sizes both the bucket fan-out and
    * the Bloom. Staging also makes COMPACTION — writing a census back
    * to its own store — safe: every input frame whose lineage reads
    * under `path` is staged in full before any store directory is
    * overwritten, so the overwrite never deletes files its own input
    * still needs.
    */
  def writeSpanCensus(census: SpanCensus, path: String,
      buckets: Int = 0): Unit = {
    require(buckets >= 0 && buckets <= 65536,
      s"buckets must be 0 (auto) or in [1, 65536], got $buckets")
    val spark = census.grams.sparkSession
    val parts = spark.sparkContext.defaultParallelism
    val hconf = spark.sessionState.newHadoopConf()
    val staging = s"$path/_staging_write"
    // staging exists for two reasons: the AUTO fan-out needs the gram row
    // count BEFORE the partitioned write can be planned, and COMPACTION
    // (grams lineage reading this very store) must materialize before the
    // overwrite deletes its input files. An explicit-bucket fresh write
    // needs neither, so it skips the staging round-trip (r16, guide §1.2:
    // one full write+read pass of the gram store removed) and takes the
    // row count from the written store's parquet footers instead.
    val gramsIn = census.grams.drop("__fb")
    val directWrite = buckets > 0 && !readsUnder(gramsIn, path, hconf)
    val (b, gramRowCount0) = if (directWrite) (buckets, -1L) else {
      gramsIn.write.mode("overwrite").parquet(s"$staging/grams")
      val n = spark.read.parquet(s"$staging/grams").count()
      (if (buckets > 0) buckets
        else math.min(DefaultCensusBuckets.toLong,
          math.max(8L, n / AutoBucketGramRows)).toInt, n)
    }
    val staged = if (directWrite) gramsIn
      else spark.read.parquet(s"$staging/grams")
    // members/counts only pay the staging write when their lineage
    // actually reads this store (the compaction case); a fresh census
    // writes them straight through
    def viaStaging(df: DataFrame, sub: String): DataFrame =
      if (!readsUnder(df, path, hconf)) df
      else {
        df.write.mode("overwrite").parquet(s"$staging/$sub")
        spark.read.parquet(s"$staging/$sub")
      }
    val countsFrame = census.counts.getOrElse(census.members
      .groupBy(col("__gid")).agg(count(lit(1)).as("__mo")))
    // stage BOTH before overwriting EITHER target: countsFrame may read
    // path/members as well as path/counts
    val countsSrc = viaStaging(countsFrame, "counts")
    val membersSrc = viaStaging(census.members, "members")
    // repartition on __fb ALONE: one reduce task per bucket value keeps
    // the store at <= ~buckets files (hashing in __fh too would strew
    // every bucket across every task — buckets x tasks tiny files, a
    // measured multi-second scan tax at sf10p); within a bucket, parquet
    // row groups keep big files splittable for read parallelism
    staged.withColumn("__fb", pmod(col("__fh"), lit(b)).cast("int"))
      .repartition(b, col("__fb"))
      .write.mode("overwrite").partitionBy("__fb").parquet(s"$path/grams")
    membersSrc.repartition(parts, col("__gid"))
      .write.mode("overwrite").parquet(s"$path/members")
    countsSrc.repartition(parts, col("__gid"))
      .write.mode("overwrite").parquet(s"$path/counts")
    // bloom sizing from the stored row count: rows are an upper bound
    // on distinct gram hashes (rows are per-GROUP), 2x headroom for
    // appends, 12 bits/item ([[BloomBitsPerItem]]), capped driver-safe.
    // The direct-write path counts the WRITTEN store (parquet footers —
    // no staging pass); same number either way.
    val gramRowCount = if (gramRowCount0 >= 0) gramRowCount0
      else spark.read.parquet(s"$path/grams").count()
    val expected = math.max(2L * gramRowCount, 1024L)
    val numBits = math.min(math.max(BloomBitsPerItem * expected, 8192L),
      MaxBloomBits)
    // cap the aggregate's fan-in: every task's ZERO value is a full
    // numBits-sized bloom (serialized into the closure and merged back),
    // so 32-way parallel insertion would ship and OR gigabytes; 8 tasks
    // keep insertion parallel enough while bounding that bill
    val bf = spark.read.parquet(s"$path/grams").select(col("__fh"))
      .coalesce(math.min(parts, 8))
      .stat.bloomFilter("__fh", expected, numBits)
    import spark.implicits._
    Seq((bloomToBytes(bf), b, expected, numBits))
      .toDF("__bloom", "__buckets", "__expected", "__bits")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/bloom")
    val sp = new org.apache.hadoop.fs.Path(staging)
    sp.getFileSystem(hconf).delete(sp, true)
  }

  /** Re-open a stored [[SpanCensus]], including the probe-acceleration
    * sidecars ([[SpanCensus]] scaladoc) when the store has them.
    *
    * Every frame is SNAPSHOT-PINNED to the concrete data files present
    * right now (ADVICE r15): a census read as a live directory scan is
    * silently retroactive — a later [[appendSpanCensusStore]] adds
    * files, and Spark's insert path (`recacheByPath`) refreshes shared
    * file indexes and clears caches, so any re-evaluation of a frame
    * derived from this census (an append's index that has not been
    * durably written yet) would count the appended batch's own rows as
    * OLD corpus and emit spurious duplicate spans. Pinned leaf-file
    * reads re-list only those files, so a store append can never change
    * an earlier batch's lineage; `basePath` keeps the `__fb` partition
    * column (and its pruning) intact.
    */
  def readSpanCensus(spark: org.apache.spark.sql.SparkSession,
      path: String): SpanCensus = {
    val hconf = spark.sessionState.newHadoopConf()
    def opt(sub: String): Option[DataFrame] = {
      val fl = listStoreFiles(hconf, s"$path/$sub")
      if (fl.isEmpty) None
      else Some(spark.read.option("basePath", s"$path/$sub")
        .parquet(fl: _*))
    }
    val raw = opt("grams").getOrElse(throw new IllegalArgumentException(
      s"readSpanCensus: no census gram files under $path/grams"))
    val bucketed = raw.columns.contains("__fb")
    val bloom = opt("bloom").flatMap(_.collect().headOption.map { r =>
      GramBloom(r.getAs[Array[Byte]]("__bloom"), r.getAs[Int]("__buckets"),
        r.getAs[Long]("__expected"), r.getAs[Long]("__bits"))
    })
    // counts normalize at read: [[appendSpanCensusStore]] appends
    // per-batch INCREMENT rows (counts are disjoint-additive), so a gid
    // may hold several rows — the sum is the exact member count either
    // way, and the aggregate is group-scale scalar with flat lineage
    val counts = opt("counts").map(_.groupBy(col("__gid"))
      .agg(sum(col("__mo")).as("__mo")))
    SpanCensus(if (bucketed) raw.drop("__fb") else raw,
      opt("members").getOrElse(throw new IllegalArgumentException(
        s"readSpanCensus: no census member files under $path/members")),
      counts, if (bucketed) Some(raw) else None, bloom)
  }

  /** The append's census delta, shared by the in-memory update and the
    * stored-sidecar append: member rows for every new document (mapped
    * into existing identical-text groups via the md5 key, or minting a
    * new gid = min new member id — the build's rep-of-group convention
    * when all members are new), and gram rows ONLY for brand-new groups
    * (a group absorbed into an existing gid has identical text, so its
    * gram rows are already present and `__pcnt` is per-copy — group
    * growth changes nothing). Everything is delta-sized except one
    * scalar pass over the census' members for the gid map.
    */
  private def censusDeltas(census: SpanCensus, newDocs: DataFrame,
      idCol: String, textCol: String,
      floor: Int): (DataFrame, DataFrame) = {
    val newKeyed = newDocs.select(col(idCol), textKey(textCol))
    val gidMap = census.members.select(col("__gk"), col("__gid")).distinct()
    val newGroupGid = newKeyed.join(gidMap, Seq("__gk"), "left_anti")
      .groupBy(col("__gk")).agg(min(col(idCol)).as("__gid"))
    val membersDelta = newKeyed
      .join(gidMap.unionByName(newGroupGid), Seq("__gk"))
      .select(col("__gk"), col("__gid"), col(idCol).as("__member"))
    val gramsDelta = gramRows(
      newDocs.join(newGroupGid.select(col("__gid").as(idCol)),
        Seq(idCol), "left_semi"),
      idCol, textCol, floor)
    (membersDelta, gramsDelta)
  }

  /** The census' recorded floor (one row read) must be the append's. */
  private def checkCensusFloor(census: SpanCensus, floor: Int): Unit =
    census.grams.select(col("__floor")).limit(1).collect().foreach { r =>
      require(r.getInt(0) == floor,
        s"census was cut at floor=${r.getInt(0)}, append called with " +
          s"floor=$floor — rebuild the sidecar at the index's band")
    }

  /** Absorb a delta's gram hashes into a copy of `meta`'s bloom. Small
    * deltas (the append's whole reason to exist) put their hashes
    * driver-side: a distributed bloom aggregate ships a numBits-sized
    * ZERO into every task closure — a fixed hundreds-of-MB serialization
    * bill that dwarfs the delta (measured +3-20 s at sf10p). One
    * limit-collect decides AND delivers: a result within the cap IS the
    * full key set. Larger deltas build in ONE task (one zero shipped).
    */
  private def mergeDeltaBloomBytes(meta: GramBloom,
      gramsDelta: DataFrame): Array[Byte] = {
    val merged = bloomFromBytes(meta.bytes) // fresh copy: input intact
    val deltaKeys = gramsDelta.select(col("__fh")).distinct()
    val head = deltaKeys.limit((DeltaBloomCollectMax + 1).toInt).collect()
    if (head.length <= DeltaBloomCollectMax)
      head.foreach(r => merged.putLong(r.getLong(0)))
    else
      merged.mergeInPlace(deltaKeys.coalesce(1)
        .stat.bloomFilter("__fh", meta.expectedItems, meta.numBits))
    bloomToBytes(merged)
  }

  /** DELTA-append a batch into a STORED census sidecar in place — the
    * chained-batch regime's store maintenance at delta-proportional
    * cost, and the intended way to CHAIN corpus-scale batches:
    *
    *   append batch i's index rows with [[appendToSpanIndexWithCensus]]
    *   (probing the STORED census), then `appendSpanCensusStore` the
    *   same batch and hand the returned store-backed census to batch
    *   i+1.
    *
    * Chaining through the RETURNED in-memory census instead is the
    * measured anti-pattern at corpus scale: each link's frames are
    * unions referencing the previous link's frames several times, so
    * evaluation cost grows exponentially in chain length (4 chained 2%
    * batches at sf10p: 1312 s in-memory vs the store-backed chain's
    * delta-proportional appends; SCALE.md round 15). The store chain
    * keeps lineage FLAT — every batch reads parquet.
    *
    * What lands where (all delta-sized): both deltas are STAGED to
    * `path/_staging_append` first (see the in-body comment — staged
    * lineage is immune to the store mutation below), then the bloom
    * row is overwritten FIRST with the delta merged at the store's
    * pinned sizing (a crash after it leaves only safe false positives;
    * fp drifts up as appends accumulate past the write-time headroom —
    * a full [[writeSpanCensus]] compacts the store and re-sizes), then
    * new groups' gram rows append as new files in only the TOUCHED
    * `__fb` directories, member rows append, and a per-gid increment
    * row appends to `counts` (counts are disjoint-additive —
    * [[readSpanCensus]] sums per gid). Files accumulate
    * one-per-touched-bucket per batch; compaction is the same full
    * rewrite. NOT atomic and single-writer: a crash mid-append can
    * leave a partial batch — validate with the staleness guards (they
    * refuse a store that does not exactly cover oldDocs) and re-write
    * the sidecar if hit.
    *
    * Returns the census re-read from the updated store.
    */
  def appendSpanCensusStore(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, idCol: String, textCol: String,
      floor: Int): SpanCensus = {
    require(floor >= 1, s"floor must be >= 1, got $floor")
    val census = readSpanCensus(spark, path)
    val meta = census.bloom.getOrElse(throw new IllegalArgumentException(
      s"appendSpanCensusStore: no bloom row under $path — the store was " +
        "not written by writeSpanCensus; rewrite it before delta-appends"))
    checkCensusFloor(census, floor)
    require(newDocs.select(col(idCol))
        .join(census.members.select(col("__member").as(idCol)),
          Seq(idCol), "left_semi").isEmpty,
      "appendSpanCensusStore: newDocs share document ids with the " +
        "stored census' members")
    val (membersDelta0, gramsDelta0) =
      censusDeltas(census, newDocs, idCol, textCol, floor)
    // STAGE both deltas as parquet before ANY store mutation (ADVICE
    // r15, the round's high finding): Spark's insert path calls
    // recacheByPath on every written directory, which clears persisted
    // frames whose lineage reads it and refreshes shared file indexes —
    // a delta held with .persist() was recomputed against the
    // already-mutated members store, where the batch's own rows look
    // like old corpus: the recomputed delta came back EMPTY and the
    // merged bloom silently reverted to the old one, breaking the
    // no-false-negative invariant for every later chained batch. Staged
    // files have lineage on nothing but themselves, so the appends
    // below cannot invalidate them (and the snapshot-pinned
    // [[readSpanCensus]] is the second line of defense). One fixed
    // staging dir: the store is single-writer by contract (see
    // "NOT atomic" above).
    val staging = s"$path/_staging_append"
    val hconf = spark.sessionState.newHadoopConf()
    membersDelta0.write.mode("overwrite").parquet(s"$staging/members")
    gramsDelta0.withColumn("__fb",
        pmod(col("__fh"), lit(meta.buckets)).cast("int"))
      .repartition(col("__fb")) // ~one new file per TOUCHED bucket
      .write.mode("overwrite").parquet(s"$staging/grams")
    val membersDelta = spark.read.parquet(s"$staging/members")
    val gramsDelta = spark.read.parquet(s"$staging/grams")
    // merge the bloom from the STAGED delta and write the bloom row
    // FIRST: if a crash lands between the bloom write and the grams
    // append, the bloom carries hashes whose grams never arrived —
    // false positives, which only widen later probes. The reverse order
    // would leave appended grams the bloom doesn't cover: false
    // negatives, silently dropped matches. (A partial batch in the
    // OTHER frames is caught by the staleness guards — members that do
    // not exactly cover oldDocs refuse the next append.)
    val mergedBytes = mergeDeltaBloomBytes(meta, gramsDelta)
    import spark.implicits._
    Seq((mergedBytes, meta.buckets, meta.expectedItems, meta.numBits))
      .toDF("__bloom", "__buckets", "__expected", "__bits")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/bloom")
    // staged grams are already clustered by __fb, so the append writes
    // ~one file per touched bucket without another shuffle
    gramsDelta.write.mode("append").partitionBy("__fb")
      .parquet(s"$path/grams")
    membersDelta.write.mode("append").parquet(s"$path/members")
    membersDelta.groupBy(col("__gid")).agg(count(lit(1)).as("__mo"))
      .write.mode("append").parquet(s"$path/counts")
    val sp = new org.apache.hadoop.fs.Path(staging)
    sp.getFileSystem(hconf).delete(sp, true)
    readSpanCensus(spark, path)
  }

  /** [[appendToSpanIndex]] with the old corpus' stored [[SpanCensus]] —
    * same EXACT result (append ≡ rebuild; the delta-restriction proof on
    * [[appendToSpanIndex]] applies verbatim, since the sidecar changes
    * WHERE the old counts and matched documents come from, not what they
    * are), plus the updated census for the union corpus, so the next
    * batch appends against this one's output without ever rebuilding.
    * CHAIN LONG OR CORPUS-SCALE BATCH SEQUENCES THROUGH THE STORE
    * ([[appendSpanCensusStore]]) rather than through this returned
    * in-memory census: each in-memory link's frames are unions that
    * reference the previous link's frames several times, so evaluation
    * cost grows exponentially in chain length (measured: 4 chained 2%
    * batches at sf10p read 1312 s in-memory vs delta-proportional
    * through the store — SCALE.md round 15). The returned census is
    * exact either way; it is the right input for a FINAL
    * [[writeSpanCensus]] or one further probe, not for a long chain.
    *
    * What the sidecar eliminates, vs the legacy append's cost shape:
    *  - the full old-corpus tokenize + explode + aggregate census (the
    *    measured ~20 s floor of the sf10p append sweep, SCALE.md
    *    round 13) becomes a semi-join of the DELTA's gram set against
    *    the stored `grams` — a SCALAR columnar scan (one 8-byte column,
    *    no tokenization; on collapse-resistant corpora grams is still
    *    corpus-gram-sized, so this is a bytes win, not a row-count win —
    *    measured economics in SCALE.md round 14);
    *  - matched-document DISCOVERY (which old docs contain a delta
    *    gram) becomes `grams ⋉ dup → __gid` — no corpus pass;
    *  - the identical-text collapse over candidates is free: `grams` is
    *    already per-group, `members` already maps groups to members.
    * What remains old-corpus-shaped: ONE column-pruned semi-join fetch
    * of the matched representatives' TEXT (their token arrays feed the
    * suffix keys — irreducible, and delta-neighborhood-sized output),
    * and the index-sized merge every append owes. Scalar sidecar passes
    * (members aggregate, gram probe) are index-merge-order, not
    * text-order.
    *
    * The `members` frame also makes the disjoint-id validation a scalar
    * semi-join, so it defaults ON here (no known-large skip — the check
    * no longer costs a corpus pass). Counting mode, band, and the
    * census' recorded floor are validated against the index/arguments.
    * The `rebuildFraction` fallback returns
    * [[buildDuplicateSpanIndexWithCensus]] over the union, so the
    * returned census is correct on both branches.
    */
  def appendToSpanIndexWithCensus(index: DataFrame, census: SpanCensus,
      oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
      textCol: String, floor: Int = 8, cap: Int = 64, minCount: Int = 2,
      crossDoc: Boolean = false, rebuildFraction: Double = 0.25,
      broadcastDups: Option[Boolean] = None,
      validateDisjointIds: Option[Boolean] = None,
      minDocs: Int = 2): (DataFrame, SpanCensus) = {
    val b = Band(floor, cap, minCount, crossDoc, minDocs)
    val spark = oldDocs.sparkSession
    checkAppendTo(index, b, rebuildFraction)
    checkCensusFloor(census, floor)
    if (validateDisjointIds.getOrElse(true)) {
      // DISJOINTNESS + symmetric STALENESS guard, folded to ONE job (r16,
      // guide §1.2 — each guard job pays fixed scheduling overhead per
      // append): the tagged union of new and old ids outer-joins the
      // members frame once; new ids must MISS (overlapping ids would
      // max-merge two different documents' position arrays into a
      // corrupt index), old ids must HIT (a doc the sidecar never saw
      // would silently miss its duplicates — the append would LOOK exact
      // and violate append == rebuild). Coverage + count equality
      // together pin members == oldDocs exactly; the second job below
      // answers |members| and the stored-counts sum. Two jobs total
      // however many checks the guard makes.
      val cov = newDocs.select(col(idCol), lit(true).as("__new"))
        .unionByName(oldDocs.select(col(idCol), lit(false).as("__new")))
        .join(census.members.select(col("__member").as(idCol),
          lit(1).as("__in")), Seq(idCol), "left_outer")
        .agg(count(when(!col("__new"), 1)).as("__n"),
          count(when(!col("__new") && col("__in").isNull, 1)).as("__miss"),
          count(when(col("__new") && col("__in").isNotNull, 1))
            .as("__overlap"))
        .collect().head
      require(cov.getLong(2) == 0L,
        "appendToSpanIndexWithCensus: newDocs share document ids with " +
          "the census' members — overlapping ids would max-merge two " +
          "different documents' position arrays into a corrupt index")
      require(cov.getLong(1) == 0L,
        "appendToSpanIndexWithCensus: census is STALE — oldDocs contains " +
          "document ids absent from the census' members; rebuild the " +
          "sidecar over the current old corpus")
      val nOld = cov.getLong(0)
      val memberSide = census.members
        .select(lit(1L).as("__one"), lit(0L).as("__cnt"))
      val mc = census.counts
        .map(c => memberSide.unionByName(
          c.select(lit(0L).as("__one"), col("__mo").as("__cnt"))))
        .getOrElse(memberSide)
        .agg(sum(col("__one")).as("__m"), sum(col("__cnt")).as("__s"))
        .collect().head
      val memberCount = if (mc.isNullAt(0)) 0L else mc.getLong(0)
      require(memberCount == nOld,
        "appendToSpanIndexWithCensus: census is STALE — member count " +
          s"($memberCount) != oldDocs count ($nOld) (the sidecar covers " +
          "documents no longer in the old corpus); rebuild the sidecar " +
          "over the current old corpus")
      // a stored counts frame must agree with members (it replaces the
      // members aggregate in the exact count math below)
      census.counts.foreach { _ =>
        val total = if (mc.isNullAt(1)) 0L else mc.getLong(1)
        require(total == memberCount,
          "appendToSpanIndexWithCensus: stored counts frame is STALE — " +
            s"sum of per-group counts ($total) != member rows " +
            s"($memberCount); rebuild the sidecar")
      }
    }
    val union = unionDocs(oldDocs, newDocs, idCol, textCol)
    if (shouldRebuild(oldDocs, newDocs, rebuildFraction))
      return buildDuplicateSpanIndexWithCensus(union, idCol, textCol,
        floor, cap, minCount, broadcastDups, crossDoc, minDocs)

    // the bloom broadcast is held before the merge's own count, so the
    // rest runs in one Release scope: nothing here releases it
    Release.scope(spark) {
      // ---- sidecar update (all delta-sized) ----
      val (membersDelta, gramsDelta0) =
        censusDeltas(census, newDocs, idCol, textCol, floor)
      val gramsDelta = gramsDelta0
        .persist(StorageLevel.MEMORY_AND_DISK) // bloom merge + union reuse it
      // stored counts stay stored: delta-sized outer merge, never a
      // members re-aggregation (groups are disjoint-additive)
      val updCounts = census.counts.map { c =>
        val dc = membersDelta.groupBy(col("__gid")).agg(count(lit(1)).as("__md"))
        c.join(dc, Seq("__gid"), "full_outer")
          .select(col("__gid"), (coalesce(col("__mo"), lit(0L)) +
            coalesce(col("__md"), lit(0L))).as("__mo"))
      }
      // bloom + bucketed view stay live across CHAINED batches: the bloom
      // absorbs the delta's gram hashes (same sizing -> mergeable, and the
      // no-false-negative invariant holds over the union); the bucketed
      // view unions the store scan (still partition-prunable) with the
      // delta rows (trivially small)
      val updStore: (Option[DataFrame], Option[GramBloom]) =
        census.bloom match {
          case Some(meta) =>
            // the merge is a THUNK (GramBloom scaladoc): forced only by a
            // chained append's probe — writeSpanCensus rebuilds its bloom
            // from the written store and a discarded census costs nothing
            val mergedBytes = () => mergeDeltaBloomBytes(meta, gramsDelta)
            val gb2 = census.gramsByBucket.map(_.unionByName(
              gramsDelta.withColumn("__fb",
                pmod(col("__fh"), lit(meta.buckets)).cast("int"))))
            (gb2, Some(meta.withBytes(mergedBytes)))
          case None => (None, None)
        }
      val updated = SpanCensus(census.grams.unionByName(gramsDelta),
        census.members.unionByName(membersDelta), updCounts,
        updStore._1, updStore._2)

      // ---- counts: delta census live, old census from the sidecar ----
      val delta = new Delta(newDocs, idCol, textCol, floor, crossDoc,
        broadcastDups)
      // per-group member counts: stored frame when the census carries one
      // (no corpus-rows aggregate per append), derived otherwise
      val mOld = census.counts
        .map(_.select(col("__gid"), col("__mo")))
        .getOrElse(census.members.groupBy(col("__gid"))
          .agg(count(lit(1)).as("__mo")))
      // stored gram rows touching a delta gram — reused for the old-side
      // counts AND matched-group discovery; (gid, fh, pcnt, mo) scalars.
      // With a store-backed census the probe is ADAPTIVE: the corpus Bloom
      // drops every delta gram the store cannot contain (no false
      // negatives -> no lost matches), and ONE delta-sized histogram job
      // (per-bucket survivor counts, <= buckets rows collected) picks the
      // read strategy —
      //  - zero survivors (a NOVEL delta): the store is never read;
      //  - survivors in <= half the buckets (sparse/small deltas): the
      //    grams scan partition-prunes to those directories and the
      //    survivors are the semi-join side;
      //  - dense survivors (a delta that overlaps most of the corpus):
      //    pruning cannot pay, so the probe falls back to the classic
      //    full-sidecar semi-join with NONE of the pruning machinery —
      //    measured at sf10p, dragging a dense 10% delta through the
      //    sparse path cost ~10 s of survivor persist/broadcast for a
      //    read it couldn't avoid.
      // The exact semi-join always confirms: Bloom false positives only
      // widen the read, never the result.
      val matchedGrams = (census.gramsByBucket, census.bloom) match {
        case (Some(gb), Some(meta)) =>
          val bfBc = spark.sparkContext.broadcast(bloomFromBytes(meta.bytes))
          val might = udf((fh: Long) => bfBc.value.mightContainLong(fh))
          def surv = delta.keys.filter(might(col("__fh")))
            .withColumn("__fb",
              pmod(col("__fh"), lit(meta.buckets)).cast("int"))
          val bset = surv.groupBy(col("__fb")).agg(count(lit(1)))
            .collect().map(_.getInt(0)).toSeq
          if (bset.isEmpty || bset.length > meta.buckets / 2) {
            // the bloom's work is done (novel delta, or dense fallback):
            // drop its executor copies now rather than pinning a
            // potentially-256 MiB value per append until the
            // ContextCleaner notices (ADVICE r15)
            bfBc.unpersist(blocking = false)
            if (bset.isEmpty) census.grams.filter(lit(false))
            else census.grams.join(delta.gramSide, Seq("__fh"), "left_semi")
          } else {
            // sparse path: `side` re-evaluates the bloom UDF at the
            // consuming action
            Release.hold(spark, bfBc)
            val side = joinSide(surv.select(col("__fh")), delta.small)
            gb.filter(col("__fb").isin(bset: _*)).drop("__fb")
              .join(side, Seq("__fh"), "left_semi")
          }
        case _ => census.grams.join(delta.gramSide, Seq("__fh"), "left_semi")
      }
      val oldMatched = matchedGrams
        .join(mOld, Seq("__gid"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val oldAgg = oldMatched.groupBy(col("__fh"))
        .agg((if (crossDoc) sum(col("__mo"))
          else sum(col("__pcnt") * col("__mo"))).as("__no"))
      val dupSide = delta.dupSide(oldAgg, b.censusMin)

      // ---- candidate groups: sidecar lookup, no corpus pass ----
      val matchedOldGids = oldMatched.join(dupSide, Seq("__fh"), "left_semi")
        .select(col("__gid")).distinct()
      val newCandGids = delta.occ.join(dupSide, Seq("__fh"), "left_semi")
        .select(col(idCol).as("__member")).distinct()
        .join(membersDelta.select(col("__gid"), col("__member")),
          Seq("__member"))
        .select(col("__gid"))
      val candGids = matchedOldGids.unionByName(newCandGids).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val membersAll = census.members.select(col("__gid"), col("__member"))
        .unionByName(membersDelta.select(col("__gid"), col("__member")))
      val candMembersAll = membersAll.join(candGids, Seq("__gid"), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val candM = candMembersAll.groupBy(col("__gid"))
        .agg(count(lit(1)).as("__m"))
        .select(col("__gid").as(idCol), col("__m"))
      val candMembers = candMembersAll
        .select(col("__gid").as("__rep"), col("__member"))

      // ---- the one old-corpus touch: fetch matched representatives' text
      // (suffix keys need the tokens past each gram — irreducible); a
      // column-pruned semi-join, no tokenization outside the neighborhood
      val repDocs = union.join(candGids.select(col("__gid").as(idCol)),
        Seq(idCol), "left_semi")
      val repTh = hashedDocs(repDocs, idCol, textCol)
        .persist(StorageLevel.DISK_ONLY)
      val cand = candidateStarts(floorGrams(repTh, floor), dupSide, idCol)
      val out = appendScanMerge(index, repTh, cand, candM, candMembers,
        idCol, b, delta.small)
      Release.hold(delta.th, gramsDelta, oldMatched, candGids, candMembersAll,
        repTh)
      (out, updated)
    }
  }

  /** OCCURRENCE-counting R scan over the sorted capped suffixes — rows
    * with the id at ordinal 0, the position at 1, and the capped key at
    * 2. Every window of `c` consecutive suffixes contributes its
    * min adjacent LCP to ALL c member positions' running max (c=2: each
    * pair (a,b) contributes lcp(a,b) to both endpoints), so no
    * successor-side exchange is needed — a window is computed in the
    * partition owning its LAST row; `c-1` predecessor rows per
    * partition travel peer-to-peer. Shared by the build and the
    * incremental append.
    */
  private def occurrenceScan(rdd: org.apache.spark.rdd.RDD[Row],
      c: Int): org.apache.spark.rdd.RDD[Row] = {
    val (_, boundary) = BoundaryExchange.predecessors(rdd, c)
    rdd.zipPartitions(boundary) { (it, bit) =>
      // ring of the last c (id, pos) rows and the c-1 adjacent LCPs
      // between them; O(c) state and O(c) work per row
      val ids = new Array[Any](c)
      val pss = new Array[Int](c)
      val lcs = new Array[Int](c - 1)
      var size = 0 // rows in the ring
      var head = 0 // slot of the oldest row
      var nl = 0 // LCPs in the ring
      var lh = 0 // slot of the oldest LCP
      var prevKey: Seq[Long] = null
      def push(r: Row, emit: Boolean): Iterator[Row] = {
        val k = r.getSeq[Long](2)
        if (prevKey != null) {
          val l = lcp(prevKey, k)
          if (nl == c - 1) { lcs(lh) = l; lh = (lh + 1) % (c - 1) }
          else { lcs((lh + nl) % (c - 1)) = l; nl += 1 }
        }
        if (size == c) { ids(head) = r.get(0); pss(head) = r.getInt(1); head = (head + 1) % c }
        else { ids((head + size) % c) = r.get(0); pss((head + size) % c) = r.getInt(1); size += 1 }
        prevKey = k
        if (emit && size == c) {
          var m = Int.MaxValue
          var i = 0
          while (i < c - 1) { val v = lcs((lh + i) % (c - 1)); if (v < m) m = v; i += 1 }
          val out = new Array[Row](c)
          i = 0
          while (i < c) { val s = (head + i) % c; out(i) = Row(ids(s), pss(s), m); i += 1 }
          out.iterator
        } else Iterator.empty
      }
      // boundary rows only warm the ring: a window ending at one lies
      // entirely in the predecessor partition, which already emitted it
      bit.foreach(r => push(r, emit = false))
      it.flatMap(r => push(r, emit = true))
    }
  }

  /** Per-partition scan facts for [[crossDocScan]]'s driver folds — all
    * O(1) scalars: labels at the edges, the boundary LCP, whether any
    * in-partition label change exists, and three run-min aggregates.
    * `headMin` = min adjacent LCP from the partition's first row through
    * its first label-change row INCLUSIVE (incl. the boundary LCP);
    * `tailMin` = min from the LAST label-change row through the end (its
    * entry LCP included); `allMin` = min over every row incl. the
    * boundary LCP. headMin/tailMin are meaningful only when `hasChange`.
    */
  private final case class CrossPartStats(first: (Any, Long),
      last: (Any, Long), lFirst: Int, hasChange: Boolean,
      headMin: Int, tailMin: Int, allMin: Int)

  /** d = 2 DISTINCT-DOCUMENT R scan over the sorted capped suffixes —
    * rows `(id, pos, copy, key)`, totally ordered by (key, id, pos,
    * copy). Emits one `(id, pos, R)` row per input row, where R(p) = the
    * longest prefix of p's suffix shared with a suffix of a DIFFERENT
    * document (label = (id, copy); an identical-text group's min(m, 2)
    * copies stand for its m >= 2 distinct real documents, and a
    * single-copy document's within-doc repeats share one label).
    *
    * EXACTNESS (why two nearest neighbors suffice, unlike the occurrence
    * windows): pairwise LCP is a pure key function — for sorted rows
    * x <= y <= z, LCP(x, z) = min(LCP(x, y), LCP(y, z)) — so among
    * different-label partners on one side of p, the NEAREST maximizes
    * the LCP, and any >= 2-distinct-document prefix range around p
    * contains a different-label row on some side of p. Hence
    * R(p) = max(LCP(p, nearest preceding diff-label row),
    *            LCP(p, nearest following diff-label row)).
    * In sorted order, equal-label rows form maximal RUNS (adjacent runs
    * differ by maximality), so per row those two terms are
    *   F(p) = min adjacent LCP over [run entry .. p]   (preceding), and
    *   G(p) = min adjacent LCP over (p .. run exit]    (following),
    * i.e. a running min and a suffix min segmented by the runs.
    *
    * DISTRIBUTION: one summary pass collects O(1) scalars per partition
    * (the [[CrossPartStats]]); the driver folds them left-to-right into
    * per-partition F seeds (the running min entering a run that spans
    * the partition boundary) and right-to-left into G seeds (the min
    * continuing to the run's exit beyond the partition) — the same
    * driver-folds-only-scalars posture as the occurrence scan's
    * net.Predecessor exchange, valid for runs spanning ANY number of
    * partitions. The emit pass then works run-locally, buffering only
    * the CURRENT run — bounded by one document's candidate count, the
    * same per-document bound as the index's regroup step. A run with no
    * preceding (resp. following) different-label row anywhere gets seed
    * 0, the correct empty contribution. Four light passes over the
    * DISK_ONLY suffix snapshot (boundary counts, boundary tails,
    * summaries, emit — one more than the occurrence scan's three; the
    * boundary shuffle itself is computed once and stage-reused between
    * the summary and emit jobs) plus the one-row-per-partition-boundary
    * peer-to-peer exchange.
    */
  private def crossDocScan(rdd: org.apache.spark.rdd.RDD[Row])
      : org.apache.spark.rdd.RDD[Row] = {
    import org.apache.spark.TaskContext
    val (_, boundary) = BoundaryExchange.predecessors(rdd, 2)
    val nParts = rdd.getNumPartitions
    def label(r: Row): (Any, Long) = (r.get(0), r.getLong(2))
    def keyOf(r: Row): Seq[Long] = r.getSeq[Long](3)

    // summary pass: O(1) scalars per partition, collected to the driver
    val sums = new Array[CrossPartStats](nParts) // null = empty partition
    rdd.zipPartitions(boundary) { (it, bit) =>
      if (!it.hasNext) Iterator.empty
      else {
        var prevKey: Seq[Long] = null
        bit.foreach(b => prevKey = keyOf(b)) // at most one boundary row
        var first: (Any, Long) = null
        var prevLab: (Any, Long) = null
        var lFirst = 0
        var hasChange = false
        var headMin = Int.MaxValue
        var tailMin = Int.MaxValue
        var allMin = Int.MaxValue
        var idx = 0
        while (it.hasNext) {
          val r = it.next()
          val k = keyOf(r); val lab = label(r)
          val l = if (prevKey == null) 0 else lcp(prevKey, k)
          prevKey = k
          if (idx == 0) { first = lab; lFirst = l }
          if (l < allMin) allMin = l
          val changed = idx > 0 && lab != prevLab
          // head region accumulates up to and INCLUDING the first change
          // row's l, then freezes (the order of these two steps matters)
          if (!hasChange && l < headMin) headMin = l
          if (changed) { hasChange = true; tailMin = l }
          else if (hasChange && l < tailMin) tailMin = l
          prevLab = lab
          idx += 1
        }
        Iterator((TaskContext.getPartitionId(),
          CrossPartStats(first, prevLab, lFirst, hasChange, headMin,
            tailMin, allMin)))
      }
    }.collect().foreach { case (pid, s) => sums(pid) = s }

    // F fold (left -> right): seedFA(k) = the running min entering
    // partition k's HEAD run when that run began in an earlier partition
    // (min adjacent LCP from the run's entry through the last row of the
    // previous non-empty partition); MaxValue when the head run starts at
    // the boundary (its entry LCP is the partition-local lFirst). State
    // dmin = F of the previous partition's last row; 0 at the global
    // start (no preceding different-label row => empty contribution).
    val seedFA = Array.fill(nParts)(Int.MaxValue)
    var prevLast: (Any, Long) = null
    var dmin = 0
    var pid = 0
    while (pid < nParts) {
      val s = sums(pid)
      if (s != null) {
        val spans = prevLast != null && prevLast == s.first
        seedFA(pid) = if (spans) dmin else Int.MaxValue
        dmin =
          if (s.hasChange) s.tailMin
          else if (spans) math.min(dmin, s.allMin)
          else s.allMin
        prevLast = s.last
      }
      pid += 1
    }
    // G fold (right -> left): seedGA(k) = min adjacent LCP from partition
    // k's last row to its tail run's exit (the first following row with a
    // different label), walking through as many all-same-label partitions
    // as the run spans; 0 past the global end.
    val seedGA = Array.fill(nParts)(0)
    var nxt: CrossPartStats = null
    var nxtSeed = 0
    pid = nParts - 1
    while (pid >= 0) {
      val s = sums(pid)
      if (s != null) {
        seedGA(pid) =
          if (nxt == null) 0
          else if (nxt.first != s.last) nxt.lFirst
          else if (nxt.hasChange) nxt.headMin
          else math.min(nxt.allMin, nxtSeed)
        nxt = s
        nxtSeed = seedGA(pid)
      }
      pid -= 1
    }
    val sc = rdd.sparkContext
    val bcF = sc.broadcast(seedFA)
    val bcG = sc.broadcast(seedGA)

    // emit pass: run-buffered; F forward with the seed folded into a
    // boundary-spanning head run, G backward from the exit LCP (the
    // change row's l for interior runs, the G seed for the tail run)
    rdd.zipPartitions(boundary) { (it, bit) =>
      val p = TaskContext.getPartitionId()
      val sF = bcF.value(p)
      val sG = bcG.value(p)
      var prevKey: Seq[Long] = null
      var bndLab: (Any, Long) = null
      bit.foreach { b => prevKey = keyOf(b); bndLab = label(b) }
      var runLab: (Any, Long) = null
      var firstFlushDone = false
      val buf = new scala.collection.mutable.ArrayBuffer[(Any, Int, Int)]()
      def flush(exitG: Int): Iterator[Row] = {
        val spans = !firstFlushDone && bndLab != null && bndLab == runLab
        firstFlushDone = true
        val n = buf.length
        val gs = new Array[Int](n)
        var g = exitG
        var i = n - 1
        while (i >= 0) {
          gs(i) = g
          val li = buf(i)._3
          if (li < g) g = li
          i -= 1
        }
        val out = new Array[Row](n)
        var f = if (spans) sF else Int.MaxValue
        i = 0
        while (i < n) {
          val (id, pos, li) = buf(i)
          if (li < f) f = li
          out(i) = Row(id, pos, math.max(f, gs(i)))
          i += 1
        }
        buf.clear()
        out.iterator
      }
      it.flatMap { r =>
        val k = keyOf(r); val lab = label(r)
        val l = if (prevKey == null) 0 else lcp(prevKey, k)
        prevKey = k
        val out =
          if (runLab != null && lab != runLab) flush(exitG = l)
          else Iterator.empty
        runLab = lab
        buf += ((r.get(0), r.getInt(1), l))
        out
      } ++ (if (buf.isEmpty) Iterator.empty else flush(exitG = sG))
    }
  }

  /** d >= 3 DISTINCT-DOCUMENT R scan — the banded L-BLOCK census.
    *
    * `suffixes`: the persisted sorted capped-suffix frame with columns
    * `(id, __p, __m, __key)` (one row per REPRESENTATIVE suffix, `__m` =
    * its identical-text group size), totally ordered by (key, id, p).
    * Returns `(id, __p, __l)` rows whose per-(id, p) max is
    * R_d(p) = the longest L in [floor, cap] such that p's L-gram occurs
    * in >= `minDocs` distinct documents.
    *
    * FORMULATION. For a threshold L, split the sorted suffixes into
    * maximal runs whose ADJACENT pairwise LCP is >= L ("L-blocks").
    * Pairwise LCP in sorted order is the min of the adjacent LCPs
    * between, so the suffixes sharing p's L-prefix are EXACTLY p's
    * L-block, and p's L-gram lives in >= d distinct documents iff
    * sum of `__m` over the DISTINCT representatives in block_L(p) >= d
    * (an m-copy identical-text group stands for m real documents; two
    * positions of one rep add its documents once). Blocks are nested as
    * L decreases (breaks at L' < L are a subset of breaks at L), so
    * eligibility is downward-closed and
    *   R_d(p) = max { L in [floor, cap] : docsum(block_L(p)) >= d }.
    *
    * WHY THIS DISTRIBUTES (the limit this replaces — COVERAGE.md carried
    * a "no O(1)-summarizable boundary state" blocker for the sliding-
    * window/LRU-deque algorithm): block identity at level L is "global
    * rank of the latest row with entry-LCP < L", and the state a
    * partition needs from its predecessors is just that rank PER LEVEL —
    * an O(band)-scalar vector (band = cap - floor + 1, a build PARAMETER,
    * not data-dependent), folded on the driver exactly like the d = 2
    * scan's F/G seeds and the occurrence scan's prefix counts. The
    * deque's O(d·window) state was a property of that algorithm, not of
    * the problem.
    *
    * MECHANICS. Three facts make one map-side pass sufficient:
    * (1) a row is a break at exactly the levels ABOVE its entry LCP, so
    * a per-partition `lastBreak[band]` array maintained row-by-row gives
    * every row its block key at every level;
    * (2) a row belongs to a multi-row block at level L iff
    * max(entryLcp, exitLcp) >= L; splitting that level range between the
    * row's own entry emission ([floor, entryLcp]) and its successor-pair
    * emission ((entryLcp, pairLcp], emitted by the partition owning the
    * successor, which ships 2 predecessor rows to compute the boundary
    * entry LCP) makes the emission EXACT with no duplicates;
    * (3) a SINGLETON block needs no census at all — it is eligible iff
    * its own rep's m >= d, contributing R = min(cap, |key|) directly
    * (emitted as direct `(id, p, l)` rows from the DataFrame side).
    * The census is then two hash aggregates over the emitted
    * `(level, block, rep, m)` facts — distinct-rep m-sum per block — and
    * a semi-join back to the facts picks each position's max eligible
    * level. Emission volume is bounded by
    * sum over rows of (min(cap, max-neighbor-LCP) - floor + 1)+ — i.e.
    * rows pay only for levels they are actually duplicated at, never
    * band x rows; the identical-text collapse already removed the
    * giant-equal-block pathology, and the floor census pruned candidates
    * with the STRONGER >= d filter. Driver traffic: the per-partition
    * O(band) summaries plus [[BoundaryExchange]]'s row counts — scalars.
    * Passes over the DISK_ONLY suffix snapshot: counts, boundary tails,
    * summaries, emit — the same four as [[crossDocScan]].
    */
  private def blockDocScan(suffixes: DataFrame, idCol: String,
      floor: Int, cap: Int, minDocs: Int): DataFrame = {
    import org.apache.spark.TaskContext
    val spark = suffixes.sparkSession
    val idType = suffixes.schema(idCol).dataType
    val band = cap - floor + 1
    val rdd = suffixes.rdd
    // 2 predecessor rows: the nearest one is the cross-boundary pair's
    // first element; the second computes THAT row's entry LCP, which the
    // disjoint emission split needs (fact (2) above)
    val (starts, boundary) = BoundaryExchange.predecessors(rdd, 3)
    val nParts = rdd.getNumPartitions
    val bcStarts = spark.sparkContext.broadcast(starts)
    def keyOf(r: Row): Seq[Long] = r.getSeq[Long](3)

    // summary pass: per partition and level, the global rank of the LAST
    // break among its own rows (-1 = none) — O(band) scalars each
    val localLast = new Array[Array[Long]](nParts)
    rdd.zipPartitions(boundary) { (it, bit) =>
      if (!it.hasNext) Iterator.empty
      else {
        val pid = TaskContext.getPartitionId()
        val lb = Array.fill(band)(-1L)
        var prevKey: Seq[Long] = null
        bit.foreach(b => prevKey = keyOf(b)) // nearest predecessor last
        var g = bcStarts.value(pid)
        while (it.hasNext) {
          val k = keyOf(it.next())
          val l = if (prevKey == null) -1 else lcp(prevKey, k)
          prevKey = k
          var lv = math.max(floor, l + 1)
          while (lv <= cap) { lb(lv - floor) = g; lv += 1 }
          g += 1
        }
        Iterator((pid, lb))
      }
    }.collect().foreach { case (pid, lb) => localLast(pid) = lb }
    // driver fold (left to right): the last break per level over all
    // PRECEDING partitions — the block-identity seed
    val seeds = new Array[Array[Long]](nParts)
    val run = Array.fill(band)(-1L)
    var pid = 0
    while (pid < nParts) {
      seeds(pid) = run.clone()
      val lb = localLast(pid)
      if (lb != null) {
        var j = 0
        while (j < band) { if (lb(j) >= 0) run(j) = lb(j); j += 1 }
      }
      pid += 1
    }
    val bcSeeds = spark.sparkContext.broadcast(seeds)

    // emit pass: (level, block, rep, p, m) membership facts, exact and
    // duplicate-free by the entry/exit level split
    val factSchema = StructType(Seq(
      StructField("__lvl", IntegerType, nullable = false),
      StructField("__blk", LongType, nullable = false),
      StructField(idCol, idType),
      StructField("__p", IntegerType, nullable = false),
      StructField("__m", LongType, nullable = false)))
    val factRows = rdd.zipPartitions(boundary) { (it, bit) =>
      val p = TaskContext.getPartitionId()
      val lastBreak = bcSeeds.value(p).clone()
      var g = bcStarts.value(p)
      // warm from up to two predecessor rows: prev* describe the nearest
      // one; its OWN entry LCP comes from the pair of boundary rows
      // (-1 = it is the global first row, a break at every level)
      var prevPrevKey: Seq[Long] = null
      var prevKey: Seq[Long] = null
      var prevId: Any = null
      var prevP = 0
      var prevM = 0L
      var havePrev = false
      bit.foreach { b =>
        prevPrevKey = prevKey
        prevKey = keyOf(b)
        prevId = b.get(0); prevP = b.getInt(1); prevM = b.getLong(2)
        havePrev = true
      }
      var prevEntry =
        if (!havePrev || prevPrevKey == null) -1
        else lcp(prevPrevKey, prevKey)
      it.flatMap { r =>
        val k = keyOf(r)
        val id = r.get(0); val pos = r.getInt(1); val m = r.getLong(2)
        val l = if (prevKey == null) -1 else lcp(prevKey, k)
        // this row is a break exactly at the levels above its entry LCP
        var lv = math.max(floor, l + 1)
        while (lv <= cap) { lastBreak(lv - floor) = g; lv += 1 }
        val lEmit = math.min(cap, l)
        // own-entry levels for this row; exit-side levels for the
        // PREVIOUS row (the part its own entry emission did not cover)
        val pf = math.max(floor, prevEntry + 1)
        val n = (if (lEmit >= floor) lEmit - floor + 1 else 0) +
          (if (havePrev && lEmit >= pf) lEmit - pf + 1 else 0)
        val out = new Array[Row](n)
        var i = 0
        lv = floor
        while (lv <= lEmit) {
          out(i) = Row(lv, lastBreak(lv - floor), id, pos, m)
          i += 1; lv += 1
        }
        if (havePrev) {
          lv = pf
          while (lv <= lEmit) {
            out(i) = Row(lv, lastBreak(lv - floor), prevId, prevP, prevM)
            i += 1; lv += 1
          }
        }
        prevEntry = l; prevKey = k
        prevId = id; prevP = pos; prevM = m; havePrev = true
        g += 1
        out.iterator
      }
    }
    val facts = spark.createDataFrame(factRows, factSchema)
      .persist(StorageLevel.DISK_ONLY)
    // census: distinct-rep m-sum per (level, block) — two hash
    // aggregates with map-side partials, never a collected set
    val eligible = facts
      .groupBy(col("__lvl"), col("__blk"), col(idCol))
      .agg(max(col("__m")).as("__m"))
      .groupBy(col("__lvl"), col("__blk"))
      .agg(sum(col("__m")).as("__d"))
      .filter(col("__d") >= minDocs)
      .select(col("__lvl"), col("__blk"))
    val viaBlocks = facts
      .join(eligible, Seq("__lvl", "__blk"), "left_semi")
      .groupBy(col(idCol), col("__p")).agg(max(col("__lvl")).as("__l"))
    // singleton blocks: a rep standing for m >= d identical documents is
    // eligible at EVERY level its suffix reaches, no census needed
    val singles = suffixes.filter(col("__m") >= minDocs)
      .select(col(idCol), col("__p"),
        least(lit(cap), size(col("__key"))).cast(IntegerType).as("__l"))
    Release.hold(facts)
    viaBlocks.unionByName(singles)
  }

  /** Counting-mode guard for the serving functions: when the caller
    * states the semantics they expect (`expectCrossDoc`), verify it
    * against the mode the index recorded in `__cross` at build time and
    * raise at execution on mismatch — an occurrence-built index served
    * as distinct-doc (or vice versa) returns silently DIFFERENT spans,
    * which is exactly what the mode column exists to prevent. `None`
    * (the default) serves whatever the index was built with.
    *
    * BEST-EFFORT blind spot (shared by every serving function's
    * `expectCrossDoc`): the guard rides the `positions` column, so it
    * only evaluates on index rows that SURVIVE the id-join — an empty
    * index (dup-free corpus) or a serve over docs matching no index row
    * produces no row to carry the check, and a mismatched expectation
    * passes silently there. That is the harmless direction (the output
    * is empty/unmasked either way — there are no spans whose semantics
    * could differ); the analogous empty-index gap in
    * [[appendToSpanIndex]]'s build-param validation is documented the
    * same way.
    */
  private def checkMode(index: DataFrame,
      expectCrossDoc: Option[Boolean]): DataFrame =
    expectCrossDoc.fold(index) { e =>
      // the guard rides `positions` (every serving path consumes it) —
      // a guard on `__cross` itself would be column-pruned away by the
      // optimizer, since the serving functions don't otherwise read it
      index.withColumn("positions",
        when(col("__cross") === lit(e), col("positions"))
          .otherwise(raise_error(concat(
            lit("span-index counting-mode mismatch: built with crossDoc="),
            col("__cross").cast("string"),
            lit(s", caller expects crossDoc=$e")))))
    }

  /** Masked-position array (sorted, 1-based) for one threshold, with the
    * band guard: minLen outside [floor, cap] raises at execution. Takes
    * the threshold as a COLUMN so the batched sweep can explode several
    * thresholds through one join.
    */
  private def maskedAt(minLen: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val covered = array_sort(array_distinct(flatten(transform(
      filter(arrays_zip(col("positions"), col("rlens")),
        x => x("rlens") >= minLen),
      x => sequence(x("positions"), x("positions") + x("rlens") - 1)))))
    when(minLen.between(col("__floor"), col("__cap")), covered)
      .otherwise(raise_error(concat(
        lit("minLen "), minLen.cast("string"),
        lit(" outside index band ["),
        col("__floor"), lit(", "), col("__cap"), lit("]"))))
  }

  private def maskedAt(minLen: Int): org.apache.spark.sql.Column =
    maskedAt(lit(minLen))

  /** [[Corpus.duplicateSpanIntervals]] (at the counting mode and
    * `minCount` the index was built with — see COUNTING MODES on the
    * object doc) served from a prebuilt index at ANY `minLen` in its
    * [floor, cap] band: same
    * `(<idCol>, span_start, span_end, span_len, span_text)` rows, but
    * the census and its corpus shuffle are replaced by one equi-join on
    * the id plus per-row array work. `expectCrossDoc` optionally pins
    * the counting semantics the caller assumes (raises on mismatch with
    * the index's recorded mode).
    */
  def spanIntervalsFromIndex(index: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, minLen: Int,
      expectCrossDoc: Option[Boolean] = None): DataFrame = {
    val toks = docs.select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
    Corpus.islandSpans(
      toks.join(checkMode(index, expectCrossDoc), Seq(idCol))
        .withColumn("__ps", maskedAt(minLen))
        .filter(size(col("__ps")) > 0),
      idCol)
  }

  /** BATCHED threshold sweep — [[spanIntervalsFromIndex]] for EVERY
    * minLen in `minLens` from ONE index scan + ONE tokenize + ONE join:
    * the interactive multi-threshold regime the index exists for. The
    * masks need only the INDEX (positions/rlens), not the tokens — so
    * the thresholds explode over the small index arrays, each mask is a
    * per-row ATTRIBUTE (the single form's proven pattern), the islands
    * reduce to (id, min_len, start, end) scalars, and the document
    * tokens join in ONCE at the end, for span_text on the final
    * interval rows only. Output adds a leading `min_len` column;
    * thresholds are deduplicated and each is band-guarded exactly like
    * the single form.
    *
    * Two measured dead ends shaped this (sf1, 4 thresholds, by the
    * `spanindex` A/B arm last at commit 9bcf67c; SCALE.md "Round-12:
    * batched MASK sweep" names the same dead end): exploding thresholds
    * AFTER joining the tokens replicates the token array K times
    * through the pipeline — 1.2×
    * SLOWER than K single queries on an array-work-dominated corpus;
    * and computing all K masks as one nested-HOF array expression
    * (transform over the threshold list) let CollapseProject inline the
    * mask construction into every lambda reference site — quadratic
    * re-evaluation per row, 50× slower. Masks must be attributes, and
    * heavy arrays must not ride through a threshold explode.
    *
    * LAYOUT: the per-threshold mask work runs on the INDEX side (before
    * the tokens join), so it inherits the index's partitioning — the
    * stored-index layout guidance (hash-distribute on the id) applies
    * equally to an in-memory persisted index, whose AQE-coalesced
    * toy-scale cache (1–2 partitions) otherwise serializes the sweep
    * (measured +4 s at sf1; a corpus-scale index has thousands of
    * splits by itself).
    */
  def spanIntervalsSweep(index: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, minLens: Seq[Int],
      expectCrossDoc: Option[Boolean] = None): DataFrame = {
    require(minLens.nonEmpty, "minLens must be non-empty")
    val lens = array(minLens.distinct.sorted.map(lit(_)): _*)
    val ivs = Corpus.islandBounds(checkMode(index, expectCrossDoc)
        .select(col(idCol), col("positions"), col("rlens"),
          col("__floor"), col("__cap"), explode(lens).as("min_len"))
        .withColumn("__ps", maskedAt(col("min_len")))
        .filter(size(col("__ps")) > 0))
      .select(col(idCol), col("min_len"),
        explode(arrays_zip(col("__starts"), col("__ends"))).as("__r"))
      .select(col(idCol), col("min_len"),
        col("__r.__starts").as("span_start"),
        col("__r.__ends").as("span_end"))
    val toks = docs.select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
    ivs.join(toks, Seq(idCol))
      .select(col("min_len"), col(idCol), col("span_start"),
        col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"),
        concat_ws(" ", slice(col("__toks"), col("span_start"),
          col("span_end") - col("span_start") + 1)).as("span_text"))
  }

  /** [[Corpus.maskDuplicateSpans]] (at the counting mode and `minCount`
    * the index was built with) served from a prebuilt index: same
    * `(<idCol>, n_tokens, n_masked, clean_text)` rows for any `minLen`
    * in the band. Documents absent from the index (nothing duplicated)
    * keep their full text, exactly like the census path's left join.
    */
  def maskFromSpanIndex(index: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, minLen: Int,
      expectCrossDoc: Option[Boolean] = None): DataFrame = {
    val toks = docs.select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
    val masked = checkMode(index, expectCrossDoc)
      .select(col(idCol), maskedAt(minLen).as("__mask"))
    Corpus.rebuildCleanText(
      toks.join(masked, Seq(idCol), "left"), idCol)
  }

  /** BATCHED mask sweep — [[maskFromSpanIndex]] for EVERY minLen in
    * `minLens` from ONE index scan + ONE tokenize + ONE id-join: the
    * symmetric partner of [[spanIntervalsSweep]] for the deduplication
    * regime (which queries masks, not intervals). Output adds a leading
    * `min_len` column; every document appears at every threshold (docs
    * absent from the index keep their full text at each one), and each
    * threshold is band-guarded exactly like the single form.
    *
    * LAYOUT, following the intervals sweep's measured dead ends: the
    * per-threshold masks are computed on the INDEX side as per-row
    * ATTRIBUTES (never one nested-HOF array expression — CollapseProject
    * would inline the mask construction into every reference site), then
    * gathered to ONE `min_len -> mask` map row per document, so the
    * tokens join stays keyed on the id alone and each document's token
    * array crosses the join ONCE. The final explode over the threshold
    * list is the output-producing step — K clean_texts per document ARE
    * the result, so that fan-out is owed, and nothing upstream of it
    * replicates the heavy arrays. Costs one extra small shuffle (the
    * mask gather, index-sized scalars + int arrays) against K-1 saved
    * tokenizations and joins.
    */
  def maskSweepFromSpanIndex(index: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, minLens: Seq[Int],
      expectCrossDoc: Option[Boolean] = None): DataFrame = {
    require(minLens.nonEmpty, "minLens must be non-empty")
    val lens = array(minLens.distinct.sorted.map(lit(_)): _*)
    val masks = checkMode(index, expectCrossDoc)
      .select(col(idCol), col("positions"), col("rlens"),
        col("__floor"), col("__cap"), explode(lens).as("min_len"))
      .withColumn("__mask", maskedAt(col("min_len")))
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("min_len"),
        col("__mask")))).as("__ms"))
    val toks = docs.select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
    // every min_len key is present for an indexed doc (each index row
    // exploded over the full list above), and a doc absent from the
    // index has a null map -> null mask = nothing masked, both arms of
    // the single form's left-join semantics
    val perThreshold = toks.join(masks, Seq(idCol), "left")
      .select(col(idCol), col("__toks"), col("__ms"),
        explode(lens).as("min_len"))
      .withColumn("__mask", when(col("__ms").isNotNull,
        element_at(col("__ms"), col("min_len"))))
      .drop("__ms")
    Corpus.rebuildCleanText(perThreshold, Seq("min_len", idCol))
  }
}
