package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Named A/B micro-benchmarks backing the measurements quoted in SCALE.md.
  * Each experiment times alternative plans for the same result on the
  * given SF dir (median of 3 runs after one warm-up, noop-write
  * materialization like Bench). Keeping this a checked-in main makes every
  * SCALE.md number reproducible: `SPARK_GRAFT_SF_DIR=... sbt "runMain
  * graft.MicroBench topk"`.
  */
object MicroBench {

  private def time(fn: () => Unit): Double = {
    val t0 = System.nanoTime(); fn(); (System.nanoTime() - t0) / 1e9
  }

  /** warm-up once, then median of 3 */
  private def bench(name: String)(df: => DataFrame): Unit = {
    def run(): Unit = df.write.format("noop").mode("overwrite").save()
    run()
    val ts = Seq.fill(3)(time(() => run())).sorted
    println(f"[microbench] $name%-28s ${ts(1)}%6.3f s  (min ${ts.head}%.3f max ${ts.last}%.3f)")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // A/B plan experiments, same spelling as Bench (r16)
    // key must be non-empty (ADVICE r16: '=v' passed the contains filter
    // and failed session build with an unhelpful error)
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(';')
      .filter(_.indexOf('=') > 0).foreach { kv =>
        val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val which = args.headOption.getOrElse("all")

    if (which == "topk" || which == "all") {
      // grouped top-k: bounded-buffer aggregator vs window row_number.
      // Same result set (TopKSpec asserts equality semantics); the window
      // variant shuffles + sorts EVERY row, the aggregator ships k rows
      // per key per map partition.
      val customer = Tables.customer(spark, sfDir)
      bench("topk: aggregator")(
        graft.operators.TopK.topKPerKey(customer,
          Seq("c_nationkey"), "c_acctbal", "c_custkey", k = 3))
      bench("topk: window row_number")(
        customer.withColumn("rank", row_number().over(
            Window.partitionBy(col("c_nationkey"))
              .orderBy(col("c_acctbal").desc, col("c_custkey"))))
          .filter(col("rank") <= 3)
          .select(col("c_nationkey"), col("rank").cast("int"), col("c_custkey"), col("c_acctbal")))
    }

    if (which == "topk_bigk" || which == "all") {
      // large k: the measurement that motivated the heap buffer (the
      // original sorted-list insert was O(k) per row — 2.9 s at k=1000;
      // the heap is flat in k). Kept as the regression guard.
      val li = Tables.lineitem(spark, sfDir)
      for (k <- Seq(100, 1000)) {
        bench(s"topk_bigk: aggregator k=$k")(
          graft.operators.TopK.topKPerKey(li,
            Seq("l_returnflag"), "l_extendedprice", "l_orderkey", k = k))
        bench(s"topk_bigk: window k=$k")(
          li.withColumn("rank", row_number().over(
              Window.partitionBy(col("l_returnflag"))
                .orderBy(col("l_extendedprice").desc, col("l_orderkey"))))
            .filter(col("rank") <= k)
            .select(col("l_returnflag"), col("rank").cast("int"),
              col("l_orderkey"), col("l_extendedprice")))
      }
    }

    if (which == "topk_skew" || which == "all") {
      // the case grouped top-k exists for: FEW keys × HUGE groups. The
      // window form shuffles every row into #keys reducers (3 here) and
      // sorts millions of rows per group to keep 3; the aggregator
      // partial-reduces each map partition to k rows per key first.
      val li = Tables.lineitem(spark, sfDir)
      bench("topk_skew: aggregator")(
        graft.operators.TopK.topKPerKey(li,
          Seq("l_returnflag"), "l_extendedprice", "l_orderkey", k = 3))
      bench("topk_skew: window row_number")(
        li.withColumn("rank", row_number().over(
            Window.partitionBy(col("l_returnflag"))
              .orderBy(col("l_extendedprice").desc, col("l_orderkey"))))
          .filter(col("rank") <= 3)
          .select(col("l_returnflag"), col("rank").cast("int"),
            col("l_orderkey"), col("l_extendedprice")))
    }

    if (which == "sample" || which == "all") {
      // deterministic stratified sampling: bounded-heap bottom-k +
      // broadcast join-back (round 9) vs the per-stratum window sort it
      // replaced. The window shuffles every document ROW (text included)
      // into #strata reducer tasks (documents has 5 sources — parallelism
      // collapses to 5) and sorts each; the heap path shuffles
      // (stratum, md5, id) scalars, capped at k per stratum per map
      // partition by the partial aggregate.
      val docs = Tables.documents(spark, sfDir)
      bench("sample: stratified heap")(
        graft.functions.Corpus.stratifiedSample(
          docs, "source", 3, orderCol = "text", idCol = "doc_id"))
      bench("sample: stratified window")(
        graft.functions.Corpus.stratifiedSampleSort(
          docs, "source", 3, orderCol = "text", idCol = "doc_id"))
      bench("sample: mixture heap")(
        graft.functions.Corpus.mixtureSample(
          docs, "doc_id", "source", totalK = 500, alpha = 0.5,
          orderCol = "text"))
    }

    if (which == "megagroup") {
      // NOT in "all" (the via-pairs arms are deliberately expensive).
      // The regime the round-10 linear keep/cluster derivation exists
      // for: ONE g-copy identical-text group. The pairs-derived forms
      // generate g·(g−1)/2 intra rows through ONE join key (g = 10⁴ →
      // 5·10⁷ rows on one task; a crawl-scale 10⁶-copy boilerplate group
      // would be 5·10¹¹ — a hang); the linear forms derive the drop set /
      // star edges in O(g). Uniques share only the "doc body" shingle
      // (jaccard ~0.14), so the mega group is the only duplicate mass.
      val g = sys.env.getOrElse("SPARK_GRAFT_MEGAG", "10000").toInt
      val body = (1 to 50).map(i => s"tok$i").mkString(" ")
      val mega = spark.range(g).select(col("id").as("doc_id"), lit(body).as("text"))
      val uniques = spark.range(g, g + 2000L).select(col("id").as("doc_id"),
        concat_ws(" ", lit("unique"), col("id").cast("string"),
          lit("doc body"), (col("id") * 7).cast("string")).as("text"))
      val corpus = mega.unionByName(uniques)
      bench(s"megagroup g=$g: keep linear")(
        graft.functions.Dedup.nearDupKeepCorpus(corpus, "doc_id", "text", 0.8))
      bench(s"megagroup g=$g: clusters linear")(
        graft.functions.Dedup.dupClusters(corpus, "doc_id", "text", 0.8))
      // quadratic arms guarded: g·(g−1)/2 intra rows through one task
      // (g = 3·10⁴ is already ~4.5·10⁸ rows)
      if (g <= 20000) {
        bench(s"megagroup g=$g: keep via pairs")(
          graft.functions.Dedup.nearDupKeepCorpusViaPairs(corpus, "doc_id", "text", 0.8))
        bench(s"megagroup g=$g: clusters via pairs")(
          graft.functions.Dedup.dupClustersViaPairs(corpus, "doc_id", "text", 0.8))
      }
    }

    if (which == "spanindex") {
      // NOT in "all" (the build arm is deliberately the expensive one).
      // The multi-threshold regime SpanIndex (round 10) exists for: K
      // thresholds cost K full censuses on the census path, vs ONE index
      // build + K cheap index queries (equi-join + per-row arrays). The
      // driver corpus is adversarially dup-heavy (sf1: every doc in a
      // 100-copy group), so EVERY position passes the floor prune — the
      // build's worst case, 8·cap bytes per position through the sort.
      val docs = Tables.documents(spark, sfDir)
      val ls = Seq(8, 12, 16, 20)
      for (l <- ls)
        bench(s"spanindex: census L=$l")(
          graft.functions.Corpus.duplicateSpanIntervals(docs, "doc_id",
            "text", minLen = l, minCount = 2, countOccurrences = true))
      // the builder must be RE-INVOKED inside the timed block: its eager
      // steps (boundary-exchange collects, the crossDoc summary fold) are
      // part of the build cost, and a captured frame would move them
      // outside the timing (a 5x undercount, caught at sf1)
      var built: DataFrame = null
      bench("spanindex: build f=8 c=24") {
        built = graft.functions.SpanIndex.buildDuplicateSpanIndex(docs,
          "doc_id", "text", floor = 8, cap = 24)
        built
      }
      // store hash-distributed on the join key at session parallelism
      // (explicit count — AQE would coalesce the toy-scale index to 1-2
      // files, and the query's post-join per-row work inherits the index
      // scan's split count when the planner broadcasts the other side;
      // at real scale the index has thousands of splits by itself).
      // The write reuses the LAST benched invocation's frame — one lazy
      // re-execution, not a fresh full build invocation.
      val idxPath = "/tmp/graft_mb_spanindex"
      built
        .repartition(cpus.toInt, col("doc_id"))
        .write.mode("overwrite").parquet(idxPath)
      val idx = spark.read.parquet(idxPath)
      for (l <- ls)
        bench(s"spanindex: from index L=$l")(
          graft.functions.SpanIndex.spanIntervalsFromIndex(idx, docs,
            "doc_id", "text", l))
      // batched sweep: all 4 thresholds through ONE tokenize + ONE join
      // — compare against the SUM of the four single-form arms above
      bench("spanindex: sweep 4 Ls")(
        graft.functions.SpanIndex.spanIntervalsSweep(idx, docs,
          "doc_id", "text", ls))
      // MASK serving, same comparison: K single rebuilds vs the batched
      // mask sweep (one tokenize + one id-join + the owed K-explode)
      for (l <- ls)
        bench(s"spanindex: mask L=$l")(
          graft.functions.SpanIndex.maskFromSpanIndex(idx, docs,
            "doc_id", "text", l))
      bench("spanindex: mask sweep 4 Ls")(
        graft.functions.SpanIndex.maskSweepFromSpanIndex(idx, docs,
          "doc_id", "text", ls))
      // INCREMENTAL append vs full rebuild: the index prebuilt on 99% of
      // docs (untimed, stored like the main arm), a 1% delta appended —
      // the append suffix-sorts only the delta NEIGHBORHOOD (delta
      // positions + old positions sharing a delta gram; on the
      // replica-heavy driver corpus that's the delta's copy siblings),
      // vs the full-build arm above which sorts everything
      val old99 = docs.filter(col("doc_id") % 100 =!= 0)
      val new01 = docs.filter(col("doc_id") % 100 === 0)
      val idx99Path = "/tmp/graft_mb_spanindex_99"
      graft.functions.SpanIndex.buildDuplicateSpanIndex(old99,
          "doc_id", "text", floor = 8, cap = 24)
        .repartition(cpus.toInt, col("doc_id"))
        .write.mode("overwrite").parquet(idx99Path)
      val idx99 = spark.read.parquet(idx99Path)
      bench("spanindex: append 1% delta")(
        graft.functions.SpanIndex.appendToSpanIndex(idx99, old99, new01,
          "doc_id", "text", floor = 8, cap = 24, rebuildFraction = 10.0))
      // cross-doc (distinct-document) counting: the census pays a
      // per-(gram, doc) distinct aggregate per threshold; the index pays
      // ONE nearest-different-doc scan. The driver corpus is all
      // identical-copy groups, so the collapse carries the whole build —
      // the worst case for the census, the best for the index.
      for (l <- ls)
        bench(s"spanindex: xdoc census L=$l")(
          graft.functions.Corpus.duplicateSpanIntervals(docs, "doc_id",
            "text", minLen = l, minCount = 2, countOccurrences = false))
      var builtX: DataFrame = null
      bench("spanindex: xbuild f=8 c=24") {
        builtX = graft.functions.SpanIndex.buildDuplicateSpanIndex(docs,
          "doc_id", "text", floor = 8, cap = 24, crossDoc = true)
        builtX
      }
      val idxXPath = "/tmp/graft_mb_spanindex_x"
      builtX
        .repartition(cpus.toInt, col("doc_id"))
        .write.mode("overwrite").parquet(idxXPath)
      val idxX = spark.read.parquet(idxXPath)
      for (l <- ls)
        bench(s"spanindex: from xindex L=$l")(
          graft.functions.SpanIndex.spanIntervalsFromIndex(idxX, docs,
            "doc_id", "text", l))
    }

    if (which == "spanindexq") {
      // QUERY-ONLY serve decade: one untimed build + store (the
      // amortized offline step), then the interactive regime — single
      // intervals/mask serves and both batched sweeps off the stored
      // index. Run at sf1p/sf10p to pin that serving stays join-shaped
      // when the identical-text collapse stops helping the BUILD.
      val docs = Tables.documents(spark, sfDir)
      val ls = Seq(8, 12, 16, 20)
      val idxPath = "/tmp/graft_mb_spanindexq"
      graft.functions.SpanIndex.buildDuplicateSpanIndex(docs,
          "doc_id", "text", floor = 8, cap = 24)
        .repartition(cpus.toInt, col("doc_id"))
        .write.mode("overwrite").parquet(idxPath)
      val idx = spark.read.parquet(idxPath)
      for (l <- Seq(8, 16)) {
        bench(s"spanindexq: intervals L=$l")(
          graft.functions.SpanIndex.spanIntervalsFromIndex(idx, docs,
            "doc_id", "text", l))
        bench(s"spanindexq: mask L=$l")(
          graft.functions.SpanIndex.maskFromSpanIndex(idx, docs,
            "doc_id", "text", l))
      }
      bench("spanindexq: sweep 4 Ls")(
        graft.functions.SpanIndex.spanIntervalsSweep(idx, docs,
          "doc_id", "text", ls))
      bench("spanindexq: mask sweep 4 Ls")(
        graft.functions.SpanIndex.maskSweepFromSpanIndex(idx, docs,
          "doc_id", "text", ls))
    }

    if (which == "spanindexd3") {
      // d >= 3 distinct-doc block scan vs the d = 2 neighbor scan vs the
      // per-threshold census: the block path pays the (level, block,
      // rep, pos, m) fact emission + two hash aggregates where d = 2
      // pays the run-buffered scan; the census pays one full pass PER
      // threshold. Run at sf1p/sf10p where the identical-text collapse
      // stops absorbing the corpus.
      val docs = Tables.documents(spark, sfDir)
      bench("spanindexd3: build d=2")(
        graft.functions.SpanIndex.buildDuplicateSpanIndex(docs,
          "doc_id", "text", floor = 8, cap = 24, crossDoc = true))
      for (d <- Seq(3, 4))
        bench(s"spanindexd3: build d=$d")(
          graft.functions.SpanIndex.buildDuplicateSpanIndex(docs,
            "doc_id", "text", floor = 8, cap = 24, crossDoc = true,
            minDocs = d))
      for (l <- Seq(8, 16))
        bench(s"spanindexd3: census d=3 L=$l")(
          graft.functions.Corpus.duplicateSpanIntervals(docs, "doc_id",
            "text", minLen = l, minCount = 3, countOccurrences = false))
    }

    if (which == "spanappend") {
      // APPEND BREAK-EVEN sweep: one timed full build (the rebuild
      // reference), then for each delta share d% an UNTIMED prebuild on
      // the other (100-d)% + a TIMED append of the d% delta. The
      // crossover delta — where the append's census + delta-neighborhood
      // sort stops beating the collapse-powered full rebuild — is the
      // number `rebuildFraction` should sit below; run at sf10p where
      // the suffix sort (what the append avoids) dominates the build.
      // Deltas via SPARK_GRAFT_APPEND_DELTAS (percent, doc_id % 100).
      val docs = Tables.documents(spark, sfDir)
      bench("spanappend: full build f=8 c=24")(
        graft.functions.SpanIndex.buildDuplicateSpanIndex(docs,
          "doc_id", "text", floor = 8, cap = 24))
      val deltas = sys.env.getOrElse("SPARK_GRAFT_APPEND_DELTAS", "1,5,10,20")
        .split(',').map(_.trim.toInt).filter(d => d >= 1 && d <= 99)
      for (dpc <- deltas) {
        val old = docs.filter(col("doc_id") % 100 >= dpc)
        val nw = docs.filter(col("doc_id") % 100 < dpc)
        val p = s"/tmp/graft_mb_spanappend_$dpc"
        graft.functions.SpanIndex.buildDuplicateSpanIndex(old,
            "doc_id", "text", floor = 8, cap = 24)
          .repartition(cpus.toInt, col("doc_id"))
          .write.mode("overwrite").parquet(p)
        val idx = spark.read.parquet(p)
        bench(s"spanappend: delta $dpc pct")(
          graft.functions.SpanIndex.appendToSpanIndex(idx, old, nw,
            "doc_id", "text", floor = 8, cap = 24,
            rebuildFraction = 10.0))
        // corpus-scale prebuilt indexes (sf10p ones are large) must not
        // accumulate across runs and scale factors
        graft.queries.FacadeQueries.deleteRecursively(java.nio.file.Paths.get(p))
      }
    }

    if (which == "spanappendc") {
      // CENSUS-SIDECAR append sweep (round 14, VERDICT #3): same deltas
      // as spanappend, but the old corpus' census comes from the stored
      // sidecar (prebuilt untimed, like the index) — the timed append
      // must shed the legacy path's ~flat full-corpus census floor and
      // become delta-proportional. Reference arms: the full build and
      // the legacy append at the same delta.
      val docs = Tables.documents(spark, sfDir)
      bench("spanappendc: full build f=8 c=24")(
        graft.functions.SpanIndex.buildDuplicateSpanIndex(docs,
          "doc_id", "text", floor = 8, cap = 24))
      val deltas = sys.env.getOrElse("SPARK_GRAFT_APPEND_DELTAS", "1,10")
        .split(',').flatMap(_.trim.toIntOption)
        .filter(d => d >= 1 && d <= 99)
      for (dpc <- deltas) {
        val old = docs.filter(col("doc_id") % 100 >= dpc)
        val nw = docs.filter(col("doc_id") % 100 < dpc)
        // unique temp dir + try/finally: concurrent invocations must not
        // collide and a mid-run crash must not leak corpus-scale parquet
        val p0 = java.nio.file.Files.createTempDirectory(
          s"graft_mb_spanappendc_${dpc}_")
        val p = p0.toString
        try {
          val (idx0, cen0) = graft.functions.SpanIndex
            .buildDuplicateSpanIndexWithCensus(old, "doc_id", "text",
              floor = 8, cap = 24)
          idx0.repartition(cpus.toInt, col("doc_id"))
            .write.mode("overwrite").parquet(s"$p/idx")
          graft.functions.SpanIndex.writeSpanCensus(cen0, s"$p/cen",
            buckets = sys.env.getOrElse("SPARK_GRAFT_CENSUS_BUCKETS", "")
              .toIntOption.getOrElse(0)) // 0 = the production auto-sizing
          val idx = spark.read.parquet(s"$p/idx")
          val cen = graft.functions.SpanIndex.readSpanCensus(spark, s"$p/cen")
          bench(s"spanappendc: legacy delta $dpc pct")(
            graft.functions.SpanIndex.appendToSpanIndex(idx, old, nw,
              "doc_id", "text", floor = 8, cap = 24,
              rebuildFraction = 10.0))
          bench(s"spanappendc: census delta $dpc pct")(
            graft.functions.SpanIndex.appendToSpanIndexWithCensus(idx, cen,
              old, nw, "doc_id", "text", floor = 8, cap = 24,
              rebuildFraction = 10.0)._1)
          // NOVEL delta: same rows, every token rewritten to a fresh
          // vocabulary — zero gram overlap with the old corpus, so the
          // matched neighborhood is empty and the append's cost is pure
          // delta work. The legacy arm still pays its full-corpus census
          // here; the census arm's reading IS the delta-proportional
          // intercept the sidecar exists to expose (round 15: the corpus
          // bloom kills the whole probe for these arms — zero buckets
          // read — so the residual should now scale with the delta).
          val novel = nw.withColumn("text", concat_ws(" ",
            transform(split(col("text"), " "), t => concat(lit("zq"), t))))
          bench(s"spanappendc: legacy novel $dpc pct")(
            graft.functions.SpanIndex.appendToSpanIndex(idx, old, novel,
              "doc_id", "text", floor = 8, cap = 24,
              rebuildFraction = 10.0))
          bench(s"spanappendc: census novel $dpc pct")(
            graft.functions.SpanIndex.appendToSpanIndexWithCensus(idx, cen,
              old, novel, "doc_id", "text", floor = 8, cap = 24,
              rebuildFraction = 10.0)._1)
        } finally {
          graft.queries.FacadeQueries.deleteRecursively(p0)
        }
      }
    }

    if (which == "spanappendchain") {
      // CHAINED census appends (round 15, VERDICT r14 #4): the sidecar's
      // selling point is that batches CHAIN — each batch probes the
      // stored sidecar and appendSpanCensusStore lands its delta in the
      // store, so k batches never re-census the old text and lineage
      // stays FLAT (the in-memory census chain was measured at 1312 s
      // for k=4 at sf10p — exponential union re-evaluation; SCALE.md
      // round 15). Arms: k store-chained census appends (index append +
      // store delta-append per batch, the real pipeline's full bill) vs
      // k legacy appends vs ONE rebuild over everything at the end.
      // Each arm is timed as the WHOLE chain — chains are stateful, so
      // `bench`'s median-of-3 would re-append the same ids; one timed
      // pass per arm, interleave by re-running the main for medians.
      val docs = Tables.documents(spark, sfDir)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      docs.count()
      val k = sys.env.getOrElse("SPARK_GRAFT_CHAIN_BATCHES", "4")
        .trim.toIntOption.filter(b => b >= 2 && b <= 16).getOrElse(4)
      val dpc = 2 // each batch is ~2% of the corpus
      val oldBase = docs.filter(col("doc_id") % 100 >= (k * dpc))
      def batch(i: Int) = docs.filter(
        col("doc_id") % 100 >= (i * dpc) && col("doc_id") % 100 < ((i + 1) * dpc))
      val p0 = java.nio.file.Files.createTempDirectory("graft_mb_chain_")
      val p = p0.toString
      try {
        val (idx0, cen0) = graft.functions.SpanIndex
          .buildDuplicateSpanIndexWithCensus(oldBase, "doc_id", "text",
            floor = 8, cap = 24)
        idx0.repartition(cpus.toInt, col("doc_id"))
          .write.mode("overwrite").parquet(s"$p/idx")
        graft.functions.SpanIndex.writeSpanCensus(cen0, s"$p/cen")
        val idx0r = spark.read.parquet(s"$p/idx")
        def mat(df: DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        def timed(label: String)(body: => Unit): Unit = {
          val t = time(() => body)
          println(f"[microbench] $label%-36s $t%6.3f s")
        }
        // each intermediate index is persisted before materializing and
        // the predecessor dropped — without it batch i+1 would recompute
        // batch i's whole append through lineage and the chain would
        // read O(k^2); a real pipeline would write each updated index
        timed(s"spanappendchain: census x$k chained") {
          var idx: DataFrame = idx0r
          var cen = graft.functions.SpanIndex.readSpanCensus(spark, s"$p/cen")
          var old = oldBase
          var prev: Option[DataFrame] = None
          for (i <- 0 until k) {
            val t0 = System.nanoTime()
            val (idx2, _) = graft.functions.SpanIndex
              .appendToSpanIndexWithCensus(idx, cen, old, batch(i),
                "doc_id", "text", floor = 8, cap = 24,
                rebuildFraction = 10.0)
            val t1 = System.nanoTime()
            idx2.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            mat(idx2)
            val t2 = System.nanoTime()
            // the batch's census delta lands IN the store; the next
            // batch probes the updated store (flat lineage)
            cen = graft.functions.SpanIndex.appendSpanCensusStore(spark,
              s"$p/cen", batch(i), "doc_id", "text", floor = 8)
            val t3 = System.nanoTime()
            println(f"[microbench]   census batch $i: plan+eager " +
              f"${(t1 - t0) / 1e9}%.1f s, materialize " +
              f"${(t2 - t1) / 1e9}%.1f s, store-append " +
              f"${(t3 - t2) / 1e9}%.1f s")
            // store-growth profile (VERDICT r15 #4): file accumulation
            // (one per touched bucket per batch — the compaction
            // trigger) and bloom occupancy (stored rows / expectedItems;
            // fp holds its design point while occupancy <= 1, the 2x
            // write-time headroom)
            val gramFiles = java.nio.file.Files.walk(
                java.nio.file.Paths.get(s"$p/cen/grams")).iterator()
              .asInstanceOf[java.util.Iterator[java.nio.file.Path]]
            var nf = 0
            gramFiles.forEachRemaining(f =>
              if (f.toString.endsWith(".parquet")) nf += 1)
            val gramRows = spark.read.parquet(s"$p/cen/grams").count()
            val occ = cen.bloom.map(m =>
              gramRows.toDouble / m.expectedItems).getOrElse(-1.0)
            println(f"[microbench]   census store after batch $i: " +
              f"$gramRows rows, $nf files, bloom occupancy $occ%.2f")
            prev.foreach(_.unpersist())
            prev = Some(idx2)
            idx = idx2; old = old.unionByName(batch(i))
          }
          prev.foreach(_.unpersist())
        }
        // post-chain compaction: rewrite the store from its own census
        // (same-path write is staged-safe since round 16) — the cost a
        // chain owes once file accumulation or bloom occupancy says so
        timed("spanappendchain: final compaction") {
          graft.functions.SpanIndex.writeSpanCensus(
            graft.functions.SpanIndex.readSpanCensus(spark, s"$p/cen"),
            s"$p/cen")
        }
        timed(s"spanappendchain: legacy x$k chained") {
          var idx: DataFrame = idx0r
          var old = oldBase
          var prev: Option[DataFrame] = None
          for (i <- 0 until k) {
            val idx2 = graft.functions.SpanIndex.appendToSpanIndex(idx,
              old, batch(i), "doc_id", "text", floor = 8, cap = 24,
              rebuildFraction = 10.0)
            idx2.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            mat(idx2)
            prev.foreach(_.unpersist())
            prev = Some(idx2)
            idx = idx2; old = old.unionByName(batch(i))
          }
          prev.foreach(_.unpersist())
        }
        timed("spanappendchain: one rebuild at end")(
          mat(graft.functions.SpanIndex.buildDuplicateSpanIndex(docs,
            "doc_id", "text", floor = 8, cap = 24)))
      } finally {
        graft.queries.FacadeQueries.deleteRecursively(p0)
        docs.unpersist()
      }
    }

    if (which == "freq" || which == "all") {
      // frequent trigrams: MG sketch (one pass, O(capacity) anywhere) vs
      // exact groupBy + TakeOrdered (shuffles the distinct vocabulary —
      // fine here, impossible when the n-gram space outgrows memory)
      val grams = Tables.documents(spark, sfDir)
        .select(graft.functions.Text.tokens(col("text")).as("__toks"))
        .select(explode(graft.functions.Text.shinglesOfTokens(col("__toks"), 3))
          .as("gram"))
      bench("freq: MG sketch")(
        graft.operators.FrequentItems.topKSketch(grams, col("gram"), 65536, 15))
      bench("freq: exact groupBy")(
        grams.groupBy(col("gram")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("gram")).limit(15))
    }

    if (which == "ntokens" || which == "all") {
      // token counting: codegen'd single-pass TokenCount expression vs the
      // composed size(filter(split(...))) form (two array allocations/row)
      val docs = Tables.documents(spark, sfDir)
      bench("ntokens: TokenCount expr")(
        docs.select(sum(graft.functions.TokenCount.token_count(col("text")))
          .as("total")))
      bench("ntokens: split+filter+size")(
        docs.select(sum(size(filter(split(col("text"), " "),
          t => t =!= lit(""))).cast("long")).as("total")))
    }

    if (which == "window_k" || which == "all") {
      // sliding-window cost vs k: the circular-buffer + add/evict running
      // sum is O(1) per row, so 1M rows should cost ~the same at k=3 and
      // k=10^4 (the pre-r5 ArrayBuffer remove(0) + ring.sum paid O(k) per
      // row — a ~3000x constant at k=10^4).
      val base = spark.range(0, 1000000)
        .select((col("id") % 97).as("v")).repartition(32)
      base.persist(); base.count()
      for (k <- Seq(3, 1000, 10000))
        bench(s"window_k: slidingSum k=$k")(
          graft.operators.Positional.slidingSumLong(base, "v", k, "w_sum"))
      base.unpersist()
    }

    if (which == "contamination" || which == "all") {
      // decontamination: broadcast vs shuffled bench-gram join (the
      // broadcastBench=false degradation path for oversized eval sets)
      // mod=10 mirrors the gate (bench is 10% of train — floor-bound
      // either way); mod=1000 is the realistic asymmetry (a small eval
      // set vs the whole corpus), where the broadcast semi-join's no-
      // shuffle-of-train-grams property should show
      val docs = Tables.documents(spark, sfDir)
      for (mod <- Seq(10, 1000); bc <- Seq(true, false)) {
        val benchDocs = docs.filter(col("doc_id") % mod === 0)
        val train = docs.filter(col("doc_id") % mod =!= 0)
        bench(s"contamination: 1/$mod bench, broadcast=$bc")(
          graft.functions.Corpus.contaminatedDocs(
            train, "doc_id", "text", benchDocs, "text", n = 8, broadcastBench = bc))
      }
    }

    if (which == "asof" || which == "all") {
      // as-of join: union + running-window (one shuffle, no join) vs the
      // join-then-argmax formulation (equi-join on the key with the time
      // residual — materializes EVERY (purchase, earlier-click) pair per
      // user before the row_number discards all but one).
      val ev = Tables.events(spark, sfDir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("click_id"))
      bench("asof: union+window")(
        graft.operators.TemporalJoins.asofJoinBackward(
          purchases, clicks, Seq("user_id"), "p_ts", "c_ts"))
      bench("asof: join+argmax")(
        purchases.join(clicks, Seq("user_id"))
          .filter(col("c_ts") <= col("p_ts"))
          .withColumn("rn", row_number().over(Window
            .partitionBy(col("purchase_id"))
            .orderBy(col("c_ts").desc)))
          .filter(col("rn") === 1).drop("rn"))
    }

    if (which == "rangejoin" || which == "all") {
      // range join: bucketized equi-join vs the plain keyed inequality
      // join (equi on user + residual — every (click, error) pair of a
      // user is tested; the bucket key divides that per-key quadratic).
      val ev = Tables.events(spark, sfDir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("p"),
          col("event_id").as("click_id"))
      val windows = ev.filter(col("event_type") === "error")
        .select(col("user_id"), unix_micros(col("ts")).as("lo"),
          (unix_micros(col("ts")) + 14400L * 1000000L).as("hi"),
          col("event_id").as("error_id"))
      bench("rangejoin: bucketized")(
        graft.operators.TemporalJoins.rangeJoin(clicks, windows,
          "p", "lo", "hi", bucketWidth = 14400L * 1000000L,
          keys = Seq("user_id")))
      bench("rangejoin: keyed inequality")(
        clicks.join(windows, Seq("user_id"))
          .filter(col("p") >= col("lo") && col("p") <= col("hi")))
    }

    if (which == "rangejoin_scale" || which == "all") {
      // the shape rangeJoin exists for: FEW keys × MANY rows per key. The
      // keyed inequality join materializes every same-key (point, range)
      // pair — per-key quadratic — before filtering; bucketization divides
      // each key by the bucket count (events-table case above is 50 users
      // x tiny per-user counts, where bucket overhead dominates instead).
      // 1M points, 50k ranges (span ~100 over a 1e6 domain), 5 keys: the
      // naive join evaluates ~1e10 residual pairs (codegen does ~1e9
      // probes/s/core — quadratics hide until they don't), bucketized
      // ~1e7.
      val pts = spark.range(1000000).select(
        (col("id") % 5).as("k"), ((col("id") * 7919L) % 1000000L).as("p"),
        col("id").as("pid"))
      val rgs = spark.range(50000).select(
        (col("id") % 5).as("k"), ((col("id") * 104729L) % 1000000L).as("lo"),
        col("id").as("rid"))
        .withColumn("hi", col("lo") + 100L)
      bench("rangejoin_scale: bucketized")(
        graft.operators.TemporalJoins.rangeJoin(pts, rgs, "p", "lo", "hi",
          bucketWidth = 1000L, keys = Seq("k")))
      bench("rangejoin_scale: keyed inequality")(
        pts.join(rgs, Seq("k"))
          .filter(col("p") >= col("lo") && col("p") <= col("hi")))
    }

    if (which == "cc" || which == "all") {
      // connected components at 1M edges: 100k chains of length 10 (depth
      // stresses round count) + a 100k-edge star (degree stresses the
      // no-neighborhood-materialization property). Wall time ~log rounds
      // of 2 aggregates + 2 joins each.
      val chains = spark.range(900000).select(
        (col("id") + 100000L).as("src"),
        when(col("id") % 9 === 0, col("id") / 9)
          .otherwise(col("id") + 99999L).as("dst"))
      val star = spark.range(100000).select(
        lit(0L).as("src"), (col("id") * 10L + 5L).as("dst"))
      bench("cc: 1M edges (chains+star)")(
        graft.operators.ConnectedComponents.labels(
          chains.union(star), "src", "dst"))
    }

    if (which == "jaccard" || which == "all") {
      // exact set-similarity join: prefix filtering vs brute-force
      // all-pairs verification. Synthetic docs of 40 tokens with a
      // heavy-tail vocabulary (10% of positions from a 50-token "common"
      // set, the rest from a 1M-token tail — real corpora are Zipfian,
      // and prefix filtering lives off the rare end); every 100th doc
      // duplicates its predecessor. Brute force is O(n²) array
      // intersects — the gap widens quadratically, so it runs at 2k
      // docs only. (First cut of this generator made every bigram one
      // of 5000 values — NO rare tokens — and the prefix join degraded
      // to ~113 s at 50k docs: a measured reminder that the algorithm's
      // win is exactly the rare-prefix assumption; see SCALE.md.)
      def corpus(n: Long) = spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), lit(40)), j => {
          val seed = when(col("id") % 100 === 0 && col("id") > 0,
            col("id") - 1).otherwise(col("id"))
          val h = pmod(hash(seed, j), lit(1000000))
          when(h % 10 === 0, concat(lit("c"), h % 50))
            .otherwise(concat(lit("t"), h))
        })).as("text"))
      def brute(df: DataFrame, t100: Int) = {
        val sets = df.select(col("doc_id"),
          graft.functions.Text.shingles(col("text"), 2).as("ws"))
        val a = sets.select(col("doc_id").as("id_a"), col("ws").as("ws_a"))
        val b = sets.select(col("doc_id").as("id_b"), col("ws").as("ws_b"))
        val inter = size(array_intersect(col("ws_a"), col("ws_b"))).cast("long")
        val uni = (size(col("ws_a")) + size(col("ws_b"))).cast("long") - inter
        a.join(b, col("id_a") < col("id_b"))
          .withColumn("i", inter).withColumn("u", uni)
          .filter(col("u") > 0 && col("i") * 100 >= col("u") * t100)
          .select("id_a", "id_b", "i", "u")
      }
      bench("jaccard: brute force 2k docs")(brute(corpus(2000), 80))
      bench("jaccard: prefix join 2k docs")(
        graft.functions.Dedup.jaccardJoinExact(corpus(2000), "doc_id", "text", 80))
      bench("jaccard: prefix join 50k docs")(
        graft.functions.Dedup.jaccardJoinExact(corpus(50000), "doc_id", "text", 80))
    }

    if (which == "jaccard_gate" || which == "all") {
      // phase anatomy of the q_jaccard_join gate on the documents table —
      // times each stage of the prefix-filter pipeline in isolation
      import graft.functions.Text
      val t100 = 80; val d = 180
      val docs = Tables.documents(spark, sfDir)
      // two-projection explode — the shape the operator uses. The
      // three-projection form (shingles named in their own projection,
      // alias exploded above) lets InferFiltersFromGenerate's size()>0
      // predicate push below both projects and inline tokens() into each
      // element_at: measured 15.5 s for the freq phase alone vs 0.5 s
      // in this form.
      def exploded = docs
        .select(col("doc_id"), Text.tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          explode(Text.shinglesOfTokens(col("__toks"), 4)).as("tok"))
      if (sys.env.contains("SPARK_GRAFT_JGATE_PLAN")) {
        exploded.groupBy(col("tok")).agg(count(lit(1)).as("f")).explain(true)
        spark.stop(); sys.exit(0)
      }
      bench("jgate: exploded")(exploded)
      val freq = exploded.groupBy(col("tok")).agg(count(lit(1)).as("f"))
      bench("jgate: freq")(freq)
      def ordered = exploded
        .join(freq, "tok")
        .groupBy(col("doc_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("f"), col("tok")))),
          x => x.getField("tok")).as("oset"))
      bench("jgate: ordered")(ordered)
      def pre = ordered
        .withColumn("s", size(col("oset")))
        .withColumn("p", col("s") - expr(s"(s * $t100 + ${d - 1}) div $d") + 1)
        .select(col("doc_id"), col("s"),
          explode(slice(col("oset"), lit(1), col("p"))).as("tok"))
      bench("jgate: pre")(pre)
      val a = pre.select(col("tok"), col("doc_id").as("id_a"), col("s").as("sa"))
      val b = pre.select(col("tok"), col("doc_id").as("id_b"), col("s").as("sb"))
      bench("jgate: cands")(
        a.join(b, "tok").filter(col("id_a") < col("id_b") &&
          col("sa") * 100 >= col("sb") * t100 &&
          col("sb") * 100 >= col("sa") * t100)
          .select("id_a", "id_b").distinct())
      bench("jgate: full op")(
        graft.functions.Dedup.jaccardJoinExact(docs, "doc_id", "text", 80, 4))
      bench("jgate: full gate+orderBy")(
        graft.functions.Dedup.jaccardJoinExact(docs, "doc_id", "text", 80, 4)
          .select(col("id_a"), col("id_b"), col("inter_n"), col("union_n"))
          .orderBy(col("id_a"), col("id_b")))
    }

    if (which == "jaccard_dup" || which == "all") {
      // degenerate-corpus anatomy: 500 identical copies stacked on a base
      // sample (the q_jaccard_dup_heavy fixture). Counts the rows flowing
      // through the prefix-token candidate join with and without the
      // identical-set collapse — the collapse turns a 500-hot key
      // (~quadratic candidate rows) into one representative row.
      import graft.functions.Text
      val t100 = 80; val dd = 180
      val docs = Tables.documents(spark, sfDir)
      val base = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
      val one = docs.filter(col("doc_id") === 1).select(col("text"))
      val copies = spark.range(500).crossJoin(broadcast(one))
        .select((col("id") + 10000000L).as("doc_id"), col("text"))
      val corpus = base.unionByName(copies)
      def exploded = corpus
        .select(col("doc_id"), Text.tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          explode(Text.shinglesOfTokens(col("__toks"), 4)).as("tok"))
      val freq = exploded.groupBy(col("tok")).agg(count(lit(1)).as("f"))
      val grouped = exploded.join(freq, "tok").groupBy(col("doc_id"))
        .agg(transform(array_sort(collect_list(struct(col("f"), col("tok")))),
          x => x.getField("tok")).as("oset"))
        .withColumn("rep", min(col("doc_id")).over(
          Window.partitionBy(col("oset"))))
        .persist()
      def candRows(src: DataFrame): Long = {
        val pre = src.withColumn("s", size(col("oset")))
          .withColumn("p", col("s") - expr(s"(s * $t100 + ${dd - 1}) div $dd") + 1)
          .select(col("doc_id"), col("s"),
            explode(slice(col("oset"), lit(1), col("p"))).as("tok"))
        val a = pre.select(col("tok"), col("doc_id").as("id_a"), col("s").as("sa"))
        val b = pre.select(col("tok"), col("doc_id").as("id_b"), col("s").as("sb"))
        a.join(b, "tok").filter(col("id_a") < col("id_b")).count()
      }
      val noCollapse = candRows(grouped.select(col("doc_id"), col("oset")))
      val collapsed = candRows(
        grouped.filter(col("doc_id") === col("rep"))
          .select(col("doc_id"), col("oset")))
      println(s"[microbench] jaccard_dup: candidate join rows " +
        s"without collapse = $noCollapse, with collapse = $collapsed")
      bench("jaccard_dup: full op 500 copies")(
        graft.functions.Dedup.jaccardJoinExact(corpus, "doc_id", "text", 80, 4))
      grouped.unpersist()
    }

    if (which == "media" || which == "all") {
      // codec-chain parallelism check: the doc_id-only scan of documents
      // drives pack→decode/chunk; partition count tells whether the codec
      // work fans out across cores or serializes behind a narrow scan.
      implicit val sp: SparkSession = spark
      val ids = Tables.documents(spark, sfDir).select(col("doc_id"))
      println(s"[microbench] media: scan partitions = ${ids.rdd.getNumPartitions}")
      bench("media: audio pack+decode")(
        graft.multimodal.Multimodal.decodeAudio(
          graft.multimodal.Multimodal.packAudio(ids, "doc_id")).toDF())
      bench("media: audio pack+chunk")(
        graft.multimodal.Multimodal.chunkAudio(
          graft.multimodal.Multimodal.packAudio(ids, "doc_id"), 512, 384))
      val repart = ids.repartition(spark.sparkContext.defaultParallelism)
      bench("media: audio pack+decode repartitioned")(
        graft.multimodal.Multimodal.decodeAudio(
          graft.multimodal.Multimodal.packAudio(repart, "doc_id")).toDF())
      // orderBy on a non-cached chain = RangePartitioner SAMPLING pass +
      // the real pass: the whole codec chain computes twice. The gates
      // persist the decoded subtree across the two passes for this reason.
      bench("media: audio pack+decode+orderBy")(
        graft.multimodal.Multimodal.decodeAudio(
          graft.multimodal.Multimodal.packAudio(ids, "doc_id")).toDF()
          .orderBy(col("doc_id")))
    }

    if (which == "pack" || which == "all") {
      // sequence-packing anatomy: the operator's distributed two-pass
      // prefix sum vs the obvious global-window cumsum (identical output;
      // Window.orderBy with no partitionBy serializes the WHOLE corpus
      // through one task — the exact anti-pattern packSequences avoids).
      import graft.functions.{Corpus, Text}
      val docs = Tables.documents(spark, sfDir)
      bench("pack: two-pass prefix sum")(
        Corpus.packSequences(docs, "doc_id", "text", 1024))
      def windowPacked: DataFrame = {
        val toks = docs.select(col("doc_id"),
          concat(Text.tokens(col("text")), array(lit("<eos>"))).as("__toks"))
          .withColumn("__n", size(col("__toks")).cast("long"))
        val w = Window.orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val L = lit(1024L)
        toks.withColumn("__off", coalesce(sum(col("__n")).over(w), lit(0L)))
          .filter(col("__n") > 0)
          .withColumn("seq_idx", explode(sequence(
            expr("__off div 1024L"), expr("(__off + __n - 1) div 1024L"))))
          .withColumn("__fs", greatest(col("seq_idx") * L, col("__off")))
          .withColumn("__fe",
            least((col("seq_idx") + 1) * L, col("__off") + col("__n")))
          .withColumn("__frag", slice(col("__toks"),
            (col("__fs") - col("__off") + 1).cast("int"),
            (col("__fe") - col("__fs")).cast("int")))
          .groupBy(col("seq_idx"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("__fe") - col("__fs")).as("n_tokens"),
            concat_ws(" ", flatten(transform(
              array_sort(collect_list(struct(col("__fs"), col("__frag")))),
              x => x.getField("__frag")))).as("seq_text"))
      }
      bench("pack: global-window cumsum")(windowPacked)
    }

    if (which == "cdc" || which == "all") {
      // CDC boundary hashing: the oracle-reproducible md5-per-window
      // (one JDK digest + hex encode per token) vs the same chunking
      // shape on the codegen'd polynomial rolling_hash — identical
      // chunk STRUCTURE semantics (different boundary sets; both
      // p = 1/16), isolating pure hash-function cost.
      import graft.functions.{Corpus, RollingHash, Text}
      val docs = Tables.documents(spark, sfDir)
      bench("cdc: md5 window hash")(
        Corpus.cdcChunks(docs, "doc_id", "text", w = 4))
      def rollingCdc: DataFrame = {
        val withToks = docs
          .select(col("doc_id"), Text.tokens(col("text")).as("__toks"))
          .filter(size(col("__toks")) > 0)
        val n = size(col("__toks"))
        val bounds = when(n < 4, array().cast("array<int>")).otherwise(
          filter(sequence(lit(4), n), i => pmod(RollingHash.rolling_hash(
            concat_ws(" ", slice(col("__toks"), i - 3, lit(4)))), lit(16)) === 0))
        val ends = when(array_contains(bounds, n), bounds)
          .otherwise(concat(bounds, array(n)))
        withToks.withColumn("__ends", ends)
          .withColumn("__starts", concat(array(lit(1)),
            transform(slice(col("__ends"), lit(1), size(col("__ends")) - 1),
              _ + 1)))
          .select(col("doc_id"), col("__toks"),
            posexplode(arrays_zip(col("__starts"), col("__ends"))))
          .select(col("doc_id"), col("pos").as("chunk_idx"),
            RollingHash.rolling_hash(concat_ws(" ",
              slice(col("__toks"), col("col.__starts"),
                col("col.__ends") - col("col.__starts") + 1))).as("chunk_h"))
      }
      bench("cdc: rolling_hash window")(rollingCdc)
    }

    if (which == "bucketcap" || which == "all") {
      // Degenerate-bucket cap in the LSH front-end: aggregate oversized
      // buckets (tiny) + broadcast anti-join vs the pre-r8
      // count().over(Window.partitionBy(band,bucket)) — the latter
      // sort-shuffles the ENTIRE (id, band, bucket) table just to compute
      // group sizes. Same surviving rows (FunctionsSpec pins equality).
      import graft.functions.Dedup
      val docs = Tables.documents(spark, sfDir)
      def windowCapped: DataFrame = {
        val bt = Dedup.minhashBands(docs, "doc_id", "text", 96, 24)
        val kept = Dedup.dropOversizedBucketsWindow(bt, Seq("band", "bucket"), 1000)
        val a = kept.select(col("band"), col("bucket"), col("doc_id").as("id_a"))
        val b = kept.select(col("band"), col("bucket"), col("doc_id").as("id_b"))
        a.join(b, Seq("band", "bucket")).filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct()
      }
      bench("bucketcap: agg+anti (live)")(
        Dedup.lshCandidatePairs(docs, "doc_id", "text", 96, 24))
      bench("bucketcap: window sort")(windowCapped)
    }

    if (which == "minhash" || which == "all") {
      // LSH banding front-end: fused codegen'd MinHashBandsExpr (signature
      // lives in a long[96] inside the generated loop) vs the two-UDF
      // pipeline (two Tungsten<->GenericRow boundaries, signature boxed as
      // Seq[Long] between them). Same (id, band, bucket) rows.
      import graft.functions.Dedup
      val docs = Tables.documents(spark, sfDir)
      bench("minhash: fused codegen expr")(
        Dedup.minhashBands(docs, "doc_id", "text", 96, 24))
      bench("minhash: two-UDF pipeline")(
        Dedup.minhashBandsUdf(docs, "doc_id", "text", 96, 24))
    }

    spark.stop()
  }
}
