package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines: exact (hash-groupBy),
  * MinHash+LSH near-dup (shingle → minhash → band → bucket-join), and
  * SimHash. All stages are distributed — signatures are computed per row,
  * candidate generation is a self-join on (band, bucket), verification is
  * an exact-jaccard join on the candidate pairs only. Nothing is collected
  * to the driver, so the same plan runs at 100 TB (the LSH bucket join
  * shuffles only (id, band, bucket) triples, not document text).
  */
object Dedup {

  // --- deterministic 64-bit hashing (public splitmix64 / murmur finalizer)
  @inline private[graft] def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  /** Public (not just bytecode-public): [[SimHash64Expr]]'s generated code
    * calls it from Janino, so the JVM-level visibility is part of the
    * codegen contract.
    */
  @inline def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L // FNV-1a offset basis
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    fmix64(h)
  }

  /** Per-hash-function seeds, fixed so signatures are reproducible. */
  private[graft] def seeds(n: Int): Array[Long] = {
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = fmix64(0x9e3779b97f4a7c15L * (i + 1)); i += 1 }
    out
  }

  /** MinHash signature of a token/shingle set: sig(i) = min over tokens of
    * fmix64(hash64(token) ^ seed(i)). One pass over tokens, numHashes
    * registers — the standard one-permutation-per-seed construction.
    */
  private[graft] def minHashSignature(toks: Seq[String], numHashes: Int): Array[Long] = {
    val sd = seeds(numHashes)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    toks.foreach { t =>
      val h = hash64(t)
      var i = 0
      while (i < numHashes) {
        val v = fmix64(h ^ sd(i))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    sig
  }

  /** SimHash: 64-bit signature where bit j is the sign of the sum of
    * (+1/-1) votes from each token's hash bit j. Near-dup docs differ in
    * few bits (compare via hamming distance).
    */
  private[graft] def simHash64(toks: Seq[String]): Long = {
    val acc = new Array[Int](64)
    toks.foreach { t =>
      val h = hash64(t)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
        j += 1
      }
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (acc(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  private def minhashUdf(numHashes: Int) =
    udf((toks: Seq[String]) => minHashSignature(toks, numHashes))

  private[graft] val simhashUdf = udf((toks: Seq[String]) => simHash64(toks))

  /** Codegen'd Catalyst expression (see [[SimHash64Expr]]); the UDF form
    * above is kept for the equality test and the SQL registration.
    */
  def simHash(tokensCol: Column): Column = SimHash64Expr.simhash64(tokensCol)

  /** Exact dedup: group on the given key columns, keep the minimum id.
    * Pure hash-aggregate — partial+final HashAggregate, one shuffle.
    */
  def exactDedupKeep(df: DataFrame, idCol: String, keyCols: Seq[Column]): DataFrame =
    df.groupBy(keyCols: _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** Join-back form of [[exactDedupKeep]]: the deduplicated corpus itself
    * (all original columns, one row per key group — the min-id row). One
    * shuffle for the keep-set aggregate + a semi join on the id.
    */
  def exactDedupCorpus(df: DataFrame, idCol: String, keyCols: Seq[Column]): DataFrame =
    df.join(exactDedupKeep(df, idCol, keyCols)
        .select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")

  /** Near-dup dedup, first-wins drop policy: a document is dropped when a
    * verified pair marks it as the HIGHER id (id_b) — so the earliest
    * member of every near-dup group survives, and chains drop everything
    * but their minimum. Returns the kept corpus via an anti join on the
    * drop set. Streaming twin: `DocStream.verifiedDrops`.
    *
    * The drop set is derived LINEARLY per identical-text group (round 10),
    * never through [[verifiedNearDupPairs]]' intra-group pair expansion:
    * a member x of group R is a pair's higher id iff some smaller id
    * shares a verified pair source with it, i.e. iff
    * x > min( R itself when R's group self-pairs, min over verified rep
    * partners R' of R ) — because every partner group's minimum IS its
    * representative id. One tiny per-rep aggregate + one join onto the
    * (rep, member) frame replaces g·(g−1)/2 generated rows per g-copy
    * group, all of which previously landed on ONE join key: a 10⁶-copy
    * boilerplate group is 5·10¹¹ intra rows through one task via the pair
    * expansion, and #members rows here. Equality with the pairs-derived
    * form ([[nearDupKeepCorpusViaPairs]]) is spec-pinned on an adversarial
    * mega-group fixture.
    *
    * Verification runs STAGED (star + residual — see [[stagedRepParts]])
    * above [[StagedMinInputBytes]] of plan-stats input, all-pairs below
    * it (round 13: the staged form's fixed stages dominate at toy scale);
    * `staged` overrides the auto-dispatch. Both branches are exact.
    */
  def nearDupKeepCorpus(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 96, bands: Int = 24,
      shingleSize: Int = 2, staged: Option[Boolean] = None): DataFrame =
    df.join(nearDupDropSet(df, idCol, textCol, threshold, numHashes, bands,
      shingleSize, staged), Seq(idCol), "left_anti")

  /** Plan-stats input size below which the keep/cluster consumers verify
    * the FULL capped candidate set directly instead of running the staged
    * star + residual pipeline (round 13): the staged form's fixed costs —
    * the star verify round-trip, ~6 extra scalar shuffles, and (clusters)
    * a second CC — dominate when the data is small (measured at sf0.1:
    * staged 10.2 / 14.1 s isolated vs ~5 / ~8 s all-pairs), while the
    * staged form is the one that survives the near-dup-heavy 100 TB
    * profile (sf10-perturbed: keep 128.5 → 27.7 s, clusters 248.9 →
    * 97.0 s — SCALE.md round 12). The measured crossover sits between
    * sf1p (16 MB documents: all-pairs 8.6 / 14.0 s vs staged 12.8 /
    * 19.3 s) and sf10p (122 MB: all-pairs 128.5 / 248.9 s vs staged
    * 27.7 / 97.0 s); 32 MiB splits it with quadratic-blowup headroom —
    * a just-under-threshold worst case pays a bounded small multiple,
    * never the decade cliff. Both branches are exact and spec-pinned
    * equal (FunctionsSpec), so the guard is pure dispatch.
    */
  val StagedMinInputBytes: Long = 32L << 20 // 32 MiB

  /** Auto-dispatch between the staged and all-pairs verification
    * branches: explicit override wins; otherwise plan statistics (file
    * sizes — no scan). UNKNOWN stats (the defaultSizeInBytes sentinel:
    * RDD-backed frames, some views) choose STAGED — the scale-safe
    * default, since the guard exists to cap small-input overhead, not to
    * protect large inputs from the staged plan.
    */
  private def useStaged(df: DataFrame, staged: Option[Boolean]): Boolean =
    staged.getOrElse {
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val unknown =
        bytes == df.sparkSession.sessionState.conf.defaultSizeInBytes
      unknown || bytes > StagedMinInputBytes
    }

  /** The pre-round-10 derivation of [[nearDupKeepCorpus]] THROUGH the pairs
    * operator (`verifiedNearDupPairs(...).select(id_b).distinct` anti-join)
    * — kept as the readable reference that specs compare against (the
    * mega-group A/B is in SCALE.md, "Round-10: linear keep/cluster
    * derivation"); its compute is quadratic per identical-text group, which
    * is the pairs operator's OUTPUT contract but not the keep form's.
    */
  private[graft] def nearDupKeepCorpusViaPairs(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, numHashes: Int = 96,
      bands: Int = 24, shingleSize: Int = 2): DataFrame = {
    val drops = verifiedNearDupPairs(df, idCol, textCol, threshold,
        numHashes, bands, shingleSize)
      .select(col("id_b").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** The first-wins drop SET (ids to remove), linear per group — see
    * [[nearDupKeepCorpus]] for the derivation argument. Dispatches
    * between the staged (star + residual) and all-pairs verification
    * branches on [[StagedMinInputBytes]] (explicit `staged` overrides);
    * both are exact and spec-pinned equal.
    */
  private[graft] def nearDupDropSet(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, numHashes: Int, bands: Int,
      shingleSize: Int, staged: Option[Boolean] = None): DataFrame =
    if (useStaged(df, staged))
      nearDupDropSetStaged(df, idCol, textCol, threshold, numHashes, bands,
        shingleSize)
    else {
      val (tg, qual, repPairs) = verifiedRepParts(df, idCol, textCol,
        threshold, numHashes, bands, shingleSize)
      dropSetFromMins(tg, qual,
        repPairs.select(col("id_a"), col("id_b")), idCol)
    }

  /** tmin aggregation shared by both drop-set branches: per rep, the
    * minimum over its own id (when the group self-pairs) and every
    * verified partner rep; members strictly above their rep's tmin drop.
    */
  private def dropSetFromMins(tg: TextGroups, qual: DataFrame,
      verified: DataFrame, idCol: String): DataFrame = {
    val partnerMins = verified
      .select(col("id_a").as("__rid"), col("id_b").as("__t"))
      .unionByName(verified
        .select(col("id_b").as("__rid"), col("id_a").as("__t")))
    val ownMins = qual.select(col("__rid"), col("__rid").as("__t"))
    val tmin = partnerMins.unionByName(ownMins)
      .groupBy("__rid").agg(min(col("__t")).as("__t"))
    tg.mem.join(tmin, "__rid")
      .filter(col("__mid") > col("__t"))
      .select(col("__mid").as(idCol))
  }

  private def nearDupDropSetStaged(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, numHashes: Int, bands: Int,
      shingleSize: Int): DataFrame = {
    // Per rep, the smallest id that pairs with EVERY member above it:
    // the rep itself when the group self-pairs (>= 2 members, non-empty
    // shingle set), and each verified partner group's rep (= that group's
    // minimum member — cross pairs expand over ALL member combinations,
    // so x pairs below some partner member iff x > that partner's min).
    //
    // STAGED residual (round 12): the statistic is each rep's MINIMUM
    // verified partner, so after the star phase a candidate pair (a, b)
    // must be verified only if it could still LOWER an endpoint's
    // minimum: a < best(b) or b < best(a) (null best = no hit yet =
    // everything can lower it). A skipped pair has a >= best(b) AND
    // b >= best(a), so verifying it could not change either minimum —
    // the staged tmin equals the all-pairs tmin EXACTLY (spec-pinned
    // against the pairs-derived form). In the g-near-copy regime every
    // non-minimum member's best IS its bucket minimum, both residual
    // sides prefilter to ~nothing, and the quadratic bucket expansion
    // never runs.
    val (tg, qual, capped, sigs, h1) = stagedRepParts(df, idCol, textCol,
      threshold, numHashes, bands, shingleSize)
    val best = h1.select(col("id_a").as("__rid"), col("id_b").as("__t"))
      .unionByName(h1.select(col("id_b").as("__rid"), col("id_a").as("__t")))
      .groupBy(col("__rid")).agg(min(col("__t")).as("__best"))
    val bmin = capped.groupBy(col("band"), col("bucket"))
      .agg(min(col(idCol)).as("__bm"))
    val withBest = capped
      .join(best.withColumnRenamed("__rid", idCol), Seq(idCol), "left")
      .join(bmin, Seq("band", "bucket"))
    // members whose best-known partner already beats (or is) the bucket
    // minimum cannot gain from this bucket — prefilter BEFORE the pair
    // join so the quadratic expansion only runs over still-open members
    val open = withBest.filter(col("__best").isNull ||
      col("__best") > col("__bm"))
    val full = capped.select(col("band"), col("bucket"), col(idCol))
    val p1 = full.select(col("band"), col("bucket"), col(idCol).as("id_a"))
      .hint("shuffle_hash")
      .join(open.select(col("band"), col("bucket"),
        col(idCol).as("id_b"), col("__best").as("__tb")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b") &&
        (col("__tb").isNull || col("id_a") < col("__tb")))
      .select(col("id_a"), col("id_b"))
    val p2 = open.select(col("band"), col("bucket"),
        col(idCol).as("id_a"), col("__best").as("__ta"))
      .hint("shuffle_hash")
      .join(full.select(col("band"), col("bucket"), col(idCol).as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b") &&
        (col("__ta").isNull || col("id_b") < col("__ta")))
      .select(col("id_a"), col("id_b"))
    val resid = p1.unionByName(p2).distinct()
      .join(h1.select(col("id_a"), col("id_b")), Seq("id_a", "id_b"),
        "left_anti")
    val h2 = verifyPairs(resid, sigs, threshold)
    val verified = h1.select(col("id_a"), col("id_b"))
      .unionByName(h2.select(col("id_a"), col("id_b")))
    dropSetFromMins(tg, qual, verified, idCol)
  }

  /** Near-dup CLUSTERS: connected components over the verified near-dup
    * pair graph, labeled with the minimum doc id of each component. Returns
    * the full corpus mapping (idCol, cluster_id) — documents with no
    * verified near-dup map to themselves.
    *
    * This is the transitive-closure drop policy production pipelines use
    * (keep `idCol == cluster_id` for one representative per duplicate
    * group), strictly stronger than [[nearDupKeepCorpus]]'s pairwise
    * first-wins rule: on edges {2–5, 1–5} first-wins keeps {1, 2} (2 is
    * never a pair's higher id) while the cluster policy keeps only 1 —
    * 2 and 5 are transitively the same content group.
    *
    * Scale posture: the pair graph is tiny relative to the corpus (only
    * verified near-dups), and [[graft.operators.ConnectedComponents]]
    * shuffles only (node, label) pairs for O(log) rounds; the final
    * label join-back is a left join on the id key.
    *
    * The edge set is LINEAR per identical-text group (round 10): a g-copy
    * group contributes g−1 STAR edges (rep → member) instead of the
    * g·(g−1)/2 intra pairs the pairs operator must emit, and verified
    * rep-level pairs contribute one rep→rep edge each. Components are
    * unchanged: within a self-pairing group the star and the clique
    * connect the same members; for a verified rep pair, rep→rep plus both
    * stars connect exactly the union the complete-bipartite member
    * expansion connects (a group participating in any rep pair gets its
    * star even when it cannot self-pair — e.g. empty shingle sets at
    * threshold 0 — because the bipartite expansion already merged its
    * members). Equality with the pairs-derived form
    * ([[dupClustersViaPairs]]) is spec-pinned.
    *
    * Verification runs STAGED (star + residual, contracted final CC —
    * see [[stagedRepParts]]) above [[StagedMinInputBytes]] of plan-stats
    * input, all-pairs with ONE member-level CC below it (round 13);
    * `staged` overrides the auto-dispatch. Both branches are exact.
    */
  def dupClusters(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 96, bands: Int = 24,
      shingleSize: Int = 2, staged: Option[Boolean] = None): DataFrame =
    // CC's own Dataset actions run after the verification parts are held
    graft.operators.Release.scope(df.sparkSession) {
      if (useStaged(df, staged))
        dupClustersStaged(df, idCol, textCol, threshold, numHashes, bands,
          shingleSize)
      else {
        // all-pairs branch ([[StagedMinInputBytes]] guard): verified rep
        // pairs + one star edge per identical-text group member, ONE CC
        val (tg, qual, repPairs) = verifiedRepParts(df, idCol, textCol,
          threshold, numHashes, bands, shingleSize)
        val participating = repPairs.select(col("id_a").as("__rid"))
          .unionByName(repPairs.select(col("id_b").as("__rid")))
        val starRids = qual.unionByName(participating).distinct()
        val star = tg.mem.join(starRids, Seq("__rid"), "left_semi")
          .filter(col("__mid") =!= col("__rid"))
          .select(col("__rid").as("id_a"), col("__mid").as("id_b"))
        val edges = star.unionByName(repPairs.select(col("id_a"), col("id_b")))
        clustersFromPairs(df, idCol, edges)
      }
    }

  private def dupClustersStaged(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, numHashes: Int, bands: Int,
      shingleSize: Int): DataFrame = {
    // STAGED residual (round 12): clusters consume only CONNECTIVITY, so
    // after the star phase a candidate pair must be verified only if its
    // endpoints lie in DIFFERENT phase-1 components — a skipped pair is
    // intra-component under CC(starHits) ⊆ CC(final edges), so adding it
    // could not change any component (spec-pinned against the
    // pairs-derived form). Whole buckets whose members share one
    // component are dropped BEFORE the pair expansion; in the
    // g-near-copy regime phase 1 connects every bucket and the quadratic
    // expansion never runs.
    val (tg, qual, capped, sigs, h1) = stagedRepParts(df, idCol, textCol,
      threshold, numHashes, bands, shingleSize)
    val comp = graft.operators.ConnectedComponents
      .labels(h1, "id_a", "id_b")
      .withColumnRenamed("id", idCol)
    val withComp = capped.join(comp, Seq(idCol), "left")
      .select(col("band"), col("bucket"), col(idCol),
        coalesce(col("component"), col(idCol)).as("__c"))
    val multi = withComp.groupBy(col("band"), col("bucket"))
      .agg(countDistinct(col("__c")).as("__nc"))
      .filter(col("__nc") >= 2)
      .select(col("band"), col("bucket"))
    val kept = withComp.join(multi, Seq("band", "bucket"), "left_semi")
    val resid = kept
      .select(col("band"), col("bucket"), col(idCol).as("id_a"),
        col("__c").as("__ca"))
      .hint("shuffle_hash")
      .join(kept.select(col("band"), col("bucket"),
        col(idCol).as("id_b"), col("__c").as("__cb")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b") && col("__ca") =!= col("__cb"))
      .select(col("id_a"), col("id_b")).distinct()
    val h2 = verifyPairs(resid, sigs, threshold)
    // CONTRACTED final CC: phase-2 edges mapped onto phase-1 component
    // labels form a graph over ~#components nodes, so the second CC runs
    // on the contracted graph instead of re-walking the full rep-level
    // edge set (contraction preserves connectivity exactly; labels stay
    // minima — comp1 labels are per-component min rep ids, and the min
    // over merged label-nodes is the min over their reps). Members then
    // inherit their rep's final label directly — no member-level CC at
    // all (a g-copy identical group's members attach by one join, the
    // same linear fan-out as the star edges they replace).
    val c1 = comp.withColumnRenamed(idCol, "__n")
      .withColumnRenamed("component", "__l")
    def lab1(side: String): DataFrame =
      c1.select(col("__n").as(side), col("__l").as(s"__l$side"))
    val h2c = h2.select(col("id_a"), col("id_b"))
      .join(lab1("id_a"), Seq("id_a"), "left")
      .join(lab1("id_b"), Seq("id_b"), "left")
      .select(coalesce(col("__lid_a"), col("id_a")).as("la"),
        coalesce(col("__lid_b"), col("id_b")).as("lb"))
      .filter(col("la") =!= col("lb")).distinct()
    val comp2 = graft.operators.ConnectedComponents.labels(h2c, "la", "lb")
      .withColumnRenamed("id", "__l").withColumnRenamed("component", "__l2")
    // rep-level final label: comp2(comp1(r)) with identity fallbacks
    val repPairs = h1.select(col("id_a"), col("id_b"))
      .unionByName(h2.select(col("id_a"), col("id_b")))
    val participating = repPairs.select(col("id_a").as("__rid"))
      .unionByName(repPairs.select(col("id_b").as("__rid")))
    val starRids = qual.unionByName(participating).distinct()
    val repFinal = starRids
      .join(c1.select(col("__n").as("__rid"), col("__l")), Seq("__rid"), "left")
      .withColumn("__l", coalesce(col("__l"), col("__rid")))
      .join(comp2, Seq("__l"), "left")
      .select(col("__rid"), coalesce(col("__l2"), col("__l")).as("__fin"))
    val memberLab = tg.mem.join(repFinal, Seq("__rid"))
      .select(col("__mid").as(idCol), col("__fin"))
    df.select(col(idCol)).join(memberLab, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__fin"), col(idCol)).as("cluster_id"))
  }

  /** The pre-round-10 derivation of [[dupClusters]] THROUGH the pairs
    * operator — kept as the readable reference and A/B counterpart; same
    * components, quadratic intra edges per identical-text group.
    */
  private[graft] def dupClustersViaPairs(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, numHashes: Int = 96,
      bands: Int = 24, shingleSize: Int = 2): DataFrame =
    graft.operators.Release.scope(df.sparkSession)(clustersFromPairs(df, idCol,
      verifiedNearDupPairs(df, idCol, textCol, threshold,
        numHashes, bands, shingleSize)))

  /** Cluster labeling from an ALREADY-COMPUTED verified pair set — the
    * composition point the streaming pipeline uses: verified pairs
    * accumulate at a sink (DocStream.verifiedPairs) and this relabels the
    * accumulated graph periodically (connected components is iterative,
    * so it runs as a batch job over the sink, not inside a streaming
    * query — the same candidates-now / reconcile-at-sink split as
    * verifiedDrops and diffStream).
    */
  def clustersFromPairs(df: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val labels = graft.operators.ConnectedComponents
      .labels(pairs, "id_a", "id_b")
      .withColumnRenamed("id", idCol)
    df.select(col(idCol)).join(labels, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("cluster_id"))
  }

  /** (id, band, bucket) rows for LSH banding: the signature is split into
    * `bands` groups of `numHashes/bands` registers; the bucket is a hash of
    * the group. Docs sharing any (band, bucket) become candidates.
    *
    * Signature + banding run as ONE codegen'd expression
    * ([[MinHashBandsExpr]]) — the 96-register signature never leaves the
    * generated loop; only the `bands` bucket longs reach the row. The UDF
    * pipeline it replaced ([[minhashBandsUdf]]) is kept for the equality
    * spec and as the readable reference.
    */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 96, bands: Int = 24, shingleSize: Int = 2): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    df.select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), posexplode(MinHashBandsExpr.minhash_bands(
          Text.shinglesOfTokens(col("__toks"), shingleSize), numHashes, bands))
        .as(Seq("band", "bucket")))
  }

  /** The pre-fusion two-UDF pipeline (signature UDF, then banding UDF over
    * the materialized Seq[Long]) — reference implementation pinned equal
    * to [[minhashBands]] by FunctionsSpec (its A/B is in SCALE.md,
    * "Training-data ops"); not used by the operators.
    */
  private[graft] def minhashBandsUdf(df: DataFrame, idCol: String,
      textCol: String, numHashes: Int = 96, bands: Int = 24,
      shingleSize: Int = 2): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val bandsUdf = udf { (sig: Seq[Long]) =>
      (0 until bands).map { b =>
        var h = 0xcbf29ce484222325L + b
        var i = 0
        while (i < rows) { h = fmix64(h ^ sig(b * rows + i)); i += 1 }
        h
      }
    }
    df.select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        minhashUdf(numHashes)(Text.shinglesOfTokens(col("__toks"), shingleSize)).as("sig"))
      .select(col(idCol), posexplode(bandsUdf(col("sig"))).as(Seq("band", "bucket")))
  }

  /** Drop rows in oversized (degenerate) buckets WITHOUT sorting the band
    * table: aggregate bucket sizes (partial hash-agg — the shuffle carries
    * one (keys, count) row per bucket per map partition, never the corpus),
    * keep only the buckets OVER the cap — tiny by construction, a bucket is
    * oversized only for degenerate content — and broadcast anti-join them
    * out of the band table. Replaces the former
    * `count().over(Window.partitionBy(keys))` cap, which sort-shuffled the
    * ENTIRE (id, band, bucket) table (corpus × bands rows at 100 TB) just
    * to compute group sizes. A/B: SCALE.md, "Round-8 bucket-cap A/B"; the
    * window form is kept below as the measured reference.
    *
    * The oversized-bucket set is tiny on any sane corpus (a bucket is
    * oversized only for degenerate content), but its size is bounded only
    * by rows/cap — on a pathological corpus (all-empty documents at a low
    * cap) it can be a large fraction of the bucket space, and the default
    * `broadcast()` would OOM the driver. `broadcastOversized = false`
    * switches the anti-join to a shuffled plan (AQE still converts it
    * back to a broadcast at runtime if the set turns out small) — same
    * escape-hatch shape as `Corpus.maskDuplicateSpans`' `broadcastDups`.
    */
  private[graft] def dropOversizedBuckets(bt: DataFrame, keys: Seq[String],
      maxBucketSize: Int, broadcastOversized: Boolean = true): DataFrame = {
    val oversized = bt.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > maxBucketSize)
      .select(keys.map(col): _*)
    val side = if (broadcastOversized) broadcast(oversized)
               else oversized.hint("shuffle_hash")
    bt.join(side, keys, "left_anti")
  }

  /** The pre-r8 window-sort cap — pinned equal to [[dropOversizedBuckets]]
    * by FunctionsSpec (A/B: SCALE.md, "Round-8 bucket-cap A/B"); not used
    * by the operators.
    */
  private[graft] def dropOversizedBucketsWindow(bt: DataFrame, keys: Seq[String],
      maxBucketSize: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    bt.withColumn("__bsz", count(lit(1)).over(w))
      .filter(col("__bsz") <= maxBucketSize).drop("__bsz")
  }

  /** Default cap on one MinHash (band, bucket)'s members. */
  private val MaxBucketSize = 1000

  /** Candidate near-dup pairs: self-join of the band table on
    * (band, bucket), id_a < id_b, distinct. The join key is (band, bucket)
    * — high-cardinality, so the shuffle is well-distributed; oversized
    * buckets (degenerate content) are the skew risk and are capped
    * (`broadcastOversized = false` for corpora degenerate enough that the
    * capped-bucket SET itself outgrows a driver broadcast). The join is
    * [[candidateJoin]], the one the representative-level near-dup
    * operators run over their cached signatures.
    *
    * SINGLE-CONSUMING-ACTION contract: the internal band table is held
    * ([[graft.operators.Release]]) and released by the session's first
    * Dataset action after this call returns — or, inside a
    * `Release.scope`, after the scope returns. Run an action on the
    * returned frame (or a derivation) BEFORE any unrelated action on the
    * same session — otherwise the release fires early and the
    * tokenize+minhash pass silently recomputes (correctness unaffected;
    * the one-pass perf guarantee is lost).
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 96, bands: Int = 24, shingleSize: Int = 2,
      maxBucketSize: Int = MaxBucketSize, broadcastOversized: Boolean = true)
      : DataFrame = {
    // Persisted so the tokenize+minhash pass over the corpus runs ONCE and
    // feeds both the bucket-size aggregate and the candidate join — the
    // storage volume equals what the pre-r8 window cap wrote to shuffle
    // files anyway, minus its sort. Released after the consuming action.
    // MEMORY_AND_DISK is fine (SCALE.md r10 persist rule audit): the
    // band rows are fixed-width scalars (id, band, bucket) — no token
    // arrays or text, so storage unroll is incremental, not the giant-
    // row competition the rule targets.
    val bt = minhashBands(df, idCol, textCol, numHashes, bands, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = candidateJoin(bt, idCol, maxBucketSize, broadcastOversized)
    graft.operators.Release.hold(bt)
    out
  }

  /** The LSH candidate self-join over an (id, band, bucket) table: cap
    * pathological buckets (e.g. empty-text docs all hashing together — at
    * 100 TB one degenerate bucket would otherwise produce a quadratic pair
    * explosion on a single key), then pair every two ids sharing a
    * (band, bucket), id_a < id_b, distinct.
    */
  private def candidateJoin(bt: DataFrame, idCol: String, maxBucketSize: Int,
      broadcastOversized: Boolean): DataFrame = {
    val capped = dropOversizedBuckets(bt, Seq("band", "bucket"), maxBucketSize,
      broadcastOversized)
    val a = capped.select(col("band"), col("bucket"), col(idCol).as("id_a"))
    val b = capped.select(col("band"), col("bucket"), col(idCol).as("id_b"))
    // shuffle_hash: the static planner under-estimates the band table
    // (parquet file bytes, pre-banding-explosion) and would eagerly
    // broadcast-build one ENTIRE side of the self-join — a corpus × bands
    // hashed relation, built single-threaded, and launched before AQE can
    // see real sizes. The hinted plan is the scale plan: hash-shuffle both
    // sides on the high-cardinality (band, bucket) key, per-partition hash
    // build (groups bounded by the bucket cap), and — unlike sort-merge —
    // still no sort anywhere on the path.
    a.hint("shuffle_hash").join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** SimHash near-dup pairs — the hamming-distance consumer for
    * [[simHash]] signatures (the standard Charikar pipeline): band the 64
    * signature bits into `bands` equal segments; by pigeonhole, two
    * signatures within hamming distance `maxHamming` <= bands-1 agree
    * exactly on at least one segment, so an equi-join on
    * (band index, band value) finds every such pair; candidates are then
    * verified with `bit_count(sig_a XOR sig_b) <= maxHamming`.
    *
    * Scale posture: one row-local signature pass, then a self-equi-join on
    * a high-cardinality 16-bit-value key — shuffles (id, band, value)
    * triples only, never text; verification is a codegen'd bit op on the
    * candidate set. `maxBucketSize` caps degenerate bands (an all-equal
    * segment across millions of docs) the same way [[lshCandidatePairs]]
    * does; identical documents share all bands, so a cap large enough for
    * the duplicate-group sizes keeps exact-dup recall intact.
    * `broadcastOversized` and the SINGLE-CONSUMING-ACTION persist/release
    * contract are as on [[lshCandidatePairs]].
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bands: Int = 4,
      maxBucketSize: Int = 100000, broadcastOversized: Boolean = true): DataFrame = {
    require(bands >= 1 && 64 % bands == 0, s"bands must divide 64, got $bands")
    require(maxHamming <= bands - 1,
      s"pigeonhole guarantee needs maxHamming <= bands-1 ($maxHamming vs $bands)")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    // IDENTICAL-TEXT COLLAPSE, as on [[verifiedNearDupPairs]]: the banded
    // self-join runs over one representative per distinct text; same-text
    // member pairs re-expand at hamming 0 (identical text ⇒ identical
    // signature — including empty docs, whose all-zero signatures the
    // direct path also paired), cross-group pairs inherit their reps'
    // hamming. A g-copy group otherwise contributes g·(g−1)/2 rows to
    // the candidate join per matching band.
    val tg = textGroups(df, idCol, textCol)
    val sigs = tg.repDf
      .select(col(idCol), simHash(Text.tokens(col(textCol))).as("sig"))
    val banded = sigs.select(col(idCol), col("sig"),
      posexplode(array((0 until bands).map(b =>
        shiftrightunsigned(col("sig"), b * width).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bval")))
    // Same persist rationale as lshCandidatePairs: one signature pass
    // feeds the bucket-size aggregate and both candidate-join sides.
    // MEMORY_AND_DISK fine per the same audit note — fixed-width
    // scalars (id, sig, band, bval), no arrays.
    val bandedP = banded
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val capped = dropOversizedBuckets(bandedP, Seq("band", "bval"), maxBucketSize,
      broadcastOversized)
    val a = capped.select(col("band"), col("bval"),
      col(idCol).as("id_a"), col("sig").as("sig_a"))
    val b = capped.select(col("band"), col("bval"),
      col(idCol).as("id_b"), col("sig").as("sig_b"))
    // same shuffle_hash rationale as lshCandidatePairs' self-join
    val repPairs = a.hint("shuffle_hash").join(b, Seq("band", "bval"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
    // re-expansion, the verifiedNearDupPairs shape
    val expanded = repPairs
      .join(tg.mem.select(col("__rid").as("id_a"), col("__mid").as("__ma")), "id_a")
      .join(tg.mem.select(col("__rid").as("id_b"), col("__mid").as("__mb")), "id_b")
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("hamming"))
    val intra = tg.mem.select(col("__rid"), col("__mid").as("__ma"))
      .join(tg.mem.select(col("__rid"), col("__mid").as("__mb")), "__rid")
      .filter(col("__ma") < col("__mb"))
      .select(col("__ma").as("id_a"), col("__mb").as("id_b"),
        lit(0).cast("int").as("hamming"))
    val out = expanded.unionByName(intra)
    graft.operators.Release.hold(bandedP)
    out
  }

  /** EXACT set-similarity self-join via prefix filtering (the
    * SSJoin/AllPairs family — Chaudhuri et al. ICDE'06, Bayardo et al.
    * WWW'07, public): every pair of documents whose distinct-shingle-set
    * jaccard is >= `t100`/100 — no LSH false negatives, no probability
    * knobs. The MinHash pipeline ([[verifiedNearDupPairs]]) is the
    * cheap-recall sibling; this is the completeness guarantee when the
    * contract is "find EVERY pair".
    *
    * How it scales without an all-pairs join:
    *  1. each document's shingle set is re-ordered by GLOBAL shingle
    *     frequency, rarest first (ties on text) — one vocabulary-keyed
    *     aggregate + join;
    *  2. a pair at jaccard >= t shares >= ceil(t/(1+t)·(|a|+|b|)) shingles,
    *     so with prefix length |x| − ceil(|x|·t/(1+t)) + 1 any qualifying
    *     pair shares a token IN BOTH PREFIXES (pigeonhole: the non-prefix
    *     tails of both sides together are strictly smaller than the
    *     required overlap). Candidates = equi-join on the exploded prefix
    *     tokens — rare tokens by construction, so the join key is
    *     high-cardinality and the shuffle well-spread;
    *  3. a size-ratio filter (t·|b| <= 100·|a| and vice versa — a
    *     qualifying pair's smaller side is >= t × the larger) prunes
    *     before dedup, and the surviving candidate set is verified with
    *     exact INTEGER arithmetic: 100·|∩| >= t100·|∪|.
    *
    * The threshold is an integer percent (`t100`) so the prefix lengths
    * and the verification are exact integer expressions shared verbatim
    * with the DuckDB oracle. Output: (id_a, id_b, inter_n, union_n,
    * jaccard) — gates compare the integer columns; the double is for
    * in-engine consumers.
    *
    * Degenerate corpora (thousands of IDENTICAL documents) are collapsed
    * BEFORE the prefix join: documents are grouped by their exact ordered
    * shingle set (one hash aggregate keyed on the set), the SSJoin runs on one
    * representative per distinct set, and pairs are re-expanded afterwards —
    * cross-set pairs through the member lists, same-set pairs emitted
    * directly at jaccard 1.0 (identical sets need no verification). The
    * candidate join therefore never sees a duplicate-made hot key; the
    * quadratic part that remains is the OUTPUT itself, which is the
    * operator's contract ("every pair"). [[exactDedupCorpus]] first is
    * still the cheaper production pipeline when re-emitting exact copies
    * is not required.
    */
  def jaccardJoinExact(df: DataFrame, idCol: String, textCol: String,
      t100: Int, shingleSize: Int = 2): DataFrame = {
    require(t100 >= 1 && t100 <= 100, s"t100 must be in [1,100], got $t100")
    val d = 100 + t100 // denominator of t/(1+t) in integer percent form
    // Explode the shingle expression DIRECTLY (two projections, like
    // contaminatedDocs) — naming the array in a third projection and
    // exploding the alias lets InferFiltersFromGenerate's size()>0
    // predicate push below BOTH projections, inlining tokens() into every
    // element_at: the O(tokens²)-per-row scan again, measured 15 s for
    // this explode alone at sf0.1 vs sub-second in this form (SCALE.md,
    // "Optimizer hazard found while profiling this operator").
    val exploded = df
      .select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        explode(Text.shinglesOfTokens(col("__toks"), shingleSize)).as("tok"))
    val freq = exploded.groupBy(col("tok")).agg(count(lit(1)).as("f"))
    // global rare-first total order: (doc freq asc, token text asc)
    val perDoc = exploded
      .join(freq, "tok")
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("f"), col("tok")))),
        x => x.getField("tok")).as("oset"))
    // Collapse identical shingle sets: identical texts (deterministic
    // tokenizer) yield identical osets, so ONE hash aggregate keyed on
    // the set itself names a representative (min member id) per distinct
    // set and keeps the member list for the re-expansion — no window, no
    // sort (pre-r8 this was a window-min, i.e. a sort-shuffle keyed on
    // the full array). Same shuffle volume (each doc's oset crosses
    // once); a 10k-copy group still lands on one reducer but costs
    // O(group) there, not O(group²) in the join below.
    // DISK_ONLY per the SCALE.md r10 persist rule: one row per DISTINCT
    // shingle set carrying the full oset array — corpus-sized on a
    // low-duplication corpus, and live across the prefix-filter
    // candidate join and the verification that follow.
    val groups = perDoc.groupBy(col("oset"))
      .agg(min(col(idCol)).as("rep"), collect_list(col(idCol)).as("mids"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // the SSJoin proper runs over ONE row per distinct shingle set
    val ordered = groups.select(col("rep").as(idCol), col("oset"))
    val pre = ordered
      .withColumn("s", size(col("oset")))
      .withColumn("p",
        col("s") - expr(s"(s * $t100 + ${d - 1}) div $d") + 1)
      .select(col(idCol), col("s"),
        explode(slice(col("oset"), lit(1), col("p"))).as("tok"))
    val a = pre.select(col("tok"), col(idCol).as("id_a"), col("s").as("sa"))
    val b = pre.select(col("tok"), col(idCol).as("id_b"), col("s").as("sb"))
    val cands = a.join(b, "tok")
      .filter(col("id_a") < col("id_b") &&
        col("sa") * 100 >= col("sb") * t100 &&
        col("sb") * 100 >= col("sa") * t100)
      .select("id_a", "id_b").distinct()
    val withA = cands.join(
      ordered.select(col(idCol).as("id_a"), col("oset").as("ws_a")), "id_a")
    val withB = withA.join(
      ordered.select(col(idCol).as("id_b"), col("oset").as("ws_b")), "id_b")
    val inter = size(array_intersect(col("ws_a"), col("ws_b"))).cast("long")
    val uni = (size(col("ws_a")) + size(col("ws_b"))).cast("long") - inter
    val repPairs = withB
      .withColumn("inter_n", inter)
      .withColumn("union_n", uni)
      .filter(col("union_n") > 0 &&
        col("inter_n") * 100 >= col("union_n") * t100)
      .withColumn("jaccard",
        col("inter_n").cast("double") / col("union_n"))
      .select(col("id_a"), col("id_b"), col("inter_n"), col("union_n"),
        col("jaccard"))
    // Re-expand set groups to document pairs. Cross-set pairs inherit the
    // verified counts (members have the very sets their reps were verified
    // with); same-set pairs are exact duplicates — inter = union = |set|,
    // jaccard 1.0, qualifying at any threshold, no verification join.
    // Both expansions are output-sized: every produced row IS a result row.
    val mem = groups.select(col("rep"), explode(col("mids")).as("mid"),
      size(col("oset")).as("ms"))
    val expanded = repPairs
      .join(mem.select(col("rep").as("id_a"), col("mid").as("ma")), "id_a")
      .join(mem.select(col("rep").as("id_b"), col("mid").as("mb")), "id_b")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"),
        col("inter_n"), col("union_n"), col("jaccard"))
    val intra = mem.select(col("rep"), col("mid").as("ma"), col("ms"))
      .join(mem.select(col("rep"), col("mid").as("mb")), "rep")
      .filter(col("ma") < col("mb") && col("ms") > 0)
      .select(col("ma").as("id_a"), col("mb").as("id_b"),
        col("ms").cast("long").as("inter_n"),
        col("ms").cast("long").as("union_n"),
        lit(1.0).as("jaccard"))
    val out = expanded.unionByName(intra)
    graft.operators.Release.hold(groups)
    out
  }

  /** LSH candidates verified with exact jaccard on distinct shingle sets;
    * only pairs >= threshold survive. Shingle sets are joined back onto the
    * (small) candidate set, never pairwise over the corpus.
    *
    * IDENTICAL-TEXT COLLAPSE (round 9, the [[jaccardJoinExact]] move
    * applied to the MinHash pipeline): documents are first grouped on
    * `md5(text)`; LSH banding, the candidate self-join, and jaccard
    * verification run over ONE representative per distinct text, and
    * pairs re-expand afterwards — same-text pairs emitted directly at
    * jaccard 1.0 (no verification needed; empty shingle sets excluded,
    * matching the NaN-jaccard drop of the direct path), cross-group
    * member pairs inheriting their representatives' verified jaccard
    * (members have byte-identical text, hence identical sets). Exact
    * duplicates are the dominant duplication mode of web corpora; without
    * the collapse a g-copy group contributes g·(g−1)/2 candidate pairs to
    * the verify join — measured at sf10 (g = 100 for every doc, ~25M
    * pairs) as 296 s of array_intersect where the collapsed form verifies
    * one pair per GROUP pair (measured 8.1 s). The expansions are
    * output-sized: every produced row IS a result row, the operator's
    * contract.
    *
    * Each representative's text is read ONCE: [[repSignatures]] tokenizes,
    * shingles and MinHash-bands it in one cached pass, and the band table,
    * the candidate join ([[candidateJoin]], the one [[lshCandidatePairs]]
    * runs) and both verify joins read that cache.
    *
    * The verify joins carry `merge` (sort-merge) hints, NOT broadcast and
    * NOT shuffle_hash: the planner's file-bytes estimate of the sets
    * ignores the shingle-array explosion and would eagerly
    * broadcast-build the expensive side (round-8 lesson, 2× the gate at
    * sf1); round 8's shuffle_hash answer hit the OTHER memory cliff one
    * decade up — a shuffled-hash build of the candidate-pair table cannot
    * spill, and near-dup (not byte-identical, so uncollapsed) group
    * structure can still grow pairs quadratically. Sort-merge spills both
    * sides: join-local well-distributed sorts, no memory cliff at any
    * pair count, no corpus-sized broadcast (SCALE.md round 9).
    */
  def verifiedNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 96, bands: Int = 24,
      shingleSize: Int = 2): DataFrame = {
    val (tg, qual, repPairs) = verifiedRepParts(df, idCol, textCol,
      threshold, numHashes, bands, shingleSize)
    // Re-expansion, the jaccardJoinExact shape: groups are disjoint and
    // rep pairs distinct, so no produced pair repeats — no final distinct.
    // Both expansions are output-sized — every generated row IS a result
    // row, the pairs operator's contract; the keep/cluster consumers do
    // NOT route through this (nearDupDropSet / dupClusters are linear).
    val expanded = repPairs
      .join(tg.mem.select(col("__rid").as("id_a"), col("__mid").as("__ma")), "id_a")
      .join(tg.mem.select(col("__rid").as("id_b"), col("__mid").as("__mb")), "id_b")
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("jaccard"))
    val memQ = tg.mem.join(qual, Seq("__rid"), "left_semi")
    val intra = memQ.select(col("__rid"), col("__mid").as("__ma"))
      .join(memQ.select(col("__rid"), col("__mid").as("__mb")), "__rid")
      .filter(col("__ma") < col("__mb"))
      .select(col("__ma").as("id_a"), col("__mb").as("id_b"),
        lit(1.0).as("jaccard"))
    expanded.unionByName(intra)
  }

  /** Identical-text collapse frames shared by the near-dup family.
    *
    * `keyed` (id, md5(text)) is persisted — ONE text scan feeds both the
    * group aggregate and the member frame; `grp` (key, rep = min member
    * id, group size) is persisted — it is re-read by the member join, the
    * representative semi-join, and the consumers' qualification filters.
    * Both are scalar frames (the corpus text never enters either) and are
    * released after the consuming action. `mem` is the (rep, member)
    * frame — round 10, replacing `collect_list` member ARRAYS, whose
    * aggregation buffer was O(group) on one task for data that was
    * exploded right back (a 10⁶-copy group built a 10⁶-element array in
    * one buffer; the join form streams).
    */
  private[graft] final case class TextGroups(keyed: DataFrame,
      grp: DataFrame, mem: DataFrame, repDf: DataFrame)

  private[graft] def textGroups(df: DataFrame, idCol: String,
      textCol: String): TextGroups = {
    // MEMORY_AND_DISK fine for both snapshots (SCALE.md r10 persist
    // rule audit): fixed-width scalar rows (id, md5 / key, rep, size),
    // never text or arrays.
    val keyed = df
      .select(col(idCol).as("__mid"), md5(col(textCol)).as("__key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grp = keyed.groupBy(col("__key"))
      .agg(min(col("__mid")).as("__rid"), count(lit(1)).as("__gsz"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mem = keyed.join(grp.select(col("__key"), col("__rid")), "__key")
      .select(col("__rid"), col("__mid"))
    val repDf = df.join(grp.select(col("__rid").as(idCol)),
      Seq(idCol), "left_semi")
    graft.operators.Release.hold(keyed, grp)
    TextGroups(keyed, grp, mem, repDf)
  }

  /** The representative-level MinHash pipeline shared by the pairs, keep,
    * and cluster operators: identical-text collapse, LSH banding +
    * candidate join + exact-jaccard verification over one representative
    * per distinct text, all read from [[repSignatures]]' one text pass.
    * Returns the collapse frames, the SELF-PAIRING group set `qual` (reps
    * of >= 2-member groups with a non-empty shingle set — the groups
    * whose members pair with each other at jaccard 1.0; empty when
    * threshold > 1), and the verified rep-level pairs (id_a, id_b,
    * jaccard).
    */
  private[graft] def verifiedRepParts(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, numHashes: Int, bands: Int,
      shingleSize: Int): (TextGroups, DataFrame, DataFrame) = {
    val tg = textGroups(df, idCol, textCol)
    val sigs = repSignatures(tg, idCol, textCol, numHashes, bands,
      shingleSize)
    val cands = candidateJoin(bandTable(sigs, idCol), idCol, MaxBucketSize,
      broadcastOversized = true)
    val repPairs = verifyPairs(cands, sigs, threshold)
    (tg, qualifiedReps(tg, sigs, idCol, threshold), repPairs)
  }

  /** One text pass per representative: (id, `ws` = its distinct shingle
    * set, `__bk` = its `bands` LSH bucket longs), tokenized, shingled and
    * MinHash-banded in one projection chain over `tg.repDf`. The shingle
    * column must stay cached: a predicate on `ws` (`qualifiedReps`'
    * `size(ws) > 0`) over an uncached chain is pushed into the tokenizer,
    * which then re-splits the text once per shingle
    * ([[Text.shinglesOfTokens]]). DISK_ONLY per the SCALE.md r10 persist
    * rule (the rows carry shingle arrays); held for the caller's
    * consuming action.
    */
  private def repSignatures(tg: TextGroups, idCol: String, textCol: String,
      numHashes: Int, bands: Int, shingleSize: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sigs = tg.repDf
      .select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        Text.shinglesOfTokens(col("__toks"), shingleSize).as("ws"))
      .select(col(idCol), col("ws"),
        MinHashBandsExpr.minhash_bands(col("ws"), numHashes, bands).as("__bk"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    graft.operators.Release.hold(sigs)
    sigs
  }

  /** The (id, band, bucket) table of [[repSignatures]]' cached buckets —
    * [[minhashBands]]' output, without a second text pass. */
  private def bandTable(sigs: DataFrame, idCol: String): DataFrame =
    sigs.select(col(idCol), posexplode(col("__bk")).as(Seq("band", "bucket")))

  /** Exact-jaccard verification of candidate `(id_a, id_b)` pairs against
    * the per-rep shingle sets `ws` of [[repSignatures]] — shared by the
    * full pairs path and the staged keep/cluster paths. */
  private def verifyPairs(cands: DataFrame, sigs: DataFrame,
      threshold: Double): DataFrame = {
    val idCol = sigs.columns.head
    val withA = cands.hint("merge")
      .join(sigs.select(col(idCol).as("id_a"), col("ws").as("ws_a")), "id_a")
    val withB = withA.hint("merge")
      .join(sigs.select(col(idCol).as("id_b"), col("ws").as("ws_b")), "id_b")
    val inter = size(array_intersect(col("ws_a"), col("ws_b"))).cast("double")
    val uni = (size(col("ws_a")) + size(col("ws_b"))).cast("double") - inter
    // uni = 0 (both shingle sets empty — DISTINCT single-token/empty
    // texts can candidate-pair: their all-MaxValue MinHash signatures
    // share every bucket) must never reach the division: under ANSI mode
    // 0/0 is an error, not the NULL the >= threshold filter used to drop
    // (non-ANSI Divide returns NULL on a zero divisor, not Java's NaN).
    // The guard is a lazy `when` branch INSIDE the expression — a
    // separate filter(uni > 0) is not enough, Catalyst merges filters and
    // can evaluate the division predicate first. Found by the
    // q_mega_group_* stress gates.
    withB
      .withColumn("jaccard", when(uni > 0, inter / uni))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  private def qualifiedReps(tg: TextGroups, sigs: DataFrame, idCol: String,
      threshold: Double): DataFrame =
    if (threshold > 1.0) tg.grp.filter(lit(false)).select(col("__rid"))
    else tg.grp.filter(col("__gsz") >= 2).select(col("__rid"))
      .join(sigs.filter(size(col("ws")) > 0)
        .select(col(idCol).as("__rid")), Seq("__rid"), "left_semi")

  /** STAGED verification parts for the keep/cluster consumers — the
    * round-12 answer to the perturbed-replica profile, where a g-copy
    * NEAR-dup group (no byte-identical collapse available) put all
    * g·(g−1)/2 bucket pairs through the array-shipping verify join:
    * measured 15–18×/decade on q_near_dup_keep / q_dup_clusters at
    * sf10-perturbed while their OUTPUTS are linear.
    *
    * Phase 1 verifies only the per-(band, bucket) STAR pairs — each
    * member against its bucket's minimum id, O(bucket) pairs — which in
    * the near-copy regime already finds a verified partner for every
    * non-minimum member. The consumers then verify exactly the RESIDUAL
    * pairs their policy still needs (connectivity: pairs crossing
    * phase-1 components; first-wins: pairs that could still lower an
    * endpoint's minimum verified partner) — each policy's residual is
    * empty in the near-copy regime and degrades to the full candidate
    * set only when the data genuinely requires it, so the staged form is
    * EXACT and never verifies more than the all-pairs form.
    *
    * Returns (tg, qual, capped bucket table, rep signatures, star hits).
    * The signatures are [[repSignatures]]' one cached text pass (the
    * band table and every verify join read its `ws`); `capped` and
    * `starHits` are persisted multi-consumer snapshots. All are held for
    * the caller's consuming action. The clusters consumer's CC runs
    * Dataset actions of its own (the fixed-point confirmation's
    * `isEmpty`) after they are held, so [[dupClusters]] runs inside a
    * [[graft.operators.Release.scope]]: no action inside it can release
    * them (round 13: releasing the snapshots on the first CC action made
    * the final action silently recompute the banding, shingle sets, and
    * star verify).
    */
  private[graft] def stagedRepParts(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, numHashes: Int, bands: Int,
      shingleSize: Int, maxBucketSize: Int = MaxBucketSize)
      : (TextGroups, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val tg = textGroups(df, idCol, textCol)
    val sigs = repSignatures(tg, idCol, textCol, numHashes, bands,
      shingleSize)
    // same oversized-bucket posture as lshCandidatePairs
    val capped = dropOversizedBuckets(bandTable(sigs, idCol),
        Seq("band", "bucket"), maxBucketSize, broadcastOversized = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bmin = capped.groupBy(col("band"), col("bucket"))
      .agg(min(col(idCol)).as("__bm"))
    val star = capped.join(bmin, Seq("band", "bucket"))
      .filter(col(idCol) =!= col("__bm"))
      .select(col("__bm").as("id_a"), col(idCol).as("id_b"))
      .distinct()
    val starHits = verifyPairs(star, sigs, threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qual = qualifiedReps(tg, sigs, idCol, threshold)
    graft.operators.Release.hold(capped, starHits)
    (tg, qual, capped, sigs, starHits)
  }
}
