package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Operator micro-benchmarks that the open ROADMAP directions still
  * measure: `cc` (connected components at 1M edges, the round shape's
  * large-graph reading), `jaccard_gate` (the verification phase anatomy),
  * `spanappendc` (the census append against the legacy append) and
  * `spanappendchain` (chain growth). Each arm times alternative plans for
  * one result on the given SF dir (median of 3 runs after one warm-up,
  * noop-write materialization like Bench):
  * `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Tool micro cc"`. They print
  * readings for a direction's investigation; a speed-up is claimed only
  * through `tools/ab.py`. The closed A/B arms whose results SCALE.md
  * quotes were last at commit 9bcf67c
  * (`git show 9bcf67c:src/main/scala/graft/MicroBench.scala`).
  */
object MicroBench {

  /** The arms by name. */
  val arms: Map[String, (SparkSession, String) => Unit] = Map(
    "cc" -> ((spark, _) => cc(spark)),
    "jaccard_gate" -> jaccardGate,
    "spanappendc" -> spanAppendCensus,
    "spanappendchain" -> spanAppendChain)

  /** Delta shares of `spanappendc`, in percent of the corpus (doc_id % 100). */
  private val AppendDeltas = Seq(1, 10)

  /** Batches of `spanappendchain`, each ~2% of the corpus. */
  private val ChainBatches = 4

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

  private def cc(spark: SparkSession): Unit = {
    // connected components at 1M edges: 100k chains of length 10 (depth
    // stresses round count) + a 100k-edge star (degree stresses the
    // no-neighborhood-materialization property). Wall time ~log rounds
    // of 2 window minima and a distinct each.
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

  private def jaccardGate(spark: SparkSession, sfDir: String): Unit = {
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

  private def spanAppendCensus(spark: SparkSession, sfDir: String): Unit = {
    // CENSUS-SIDECAR append sweep (round 14): for each delta share, the
    // old corpus' census comes from the stored sidecar (prebuilt untimed,
    // like the index) — the timed append must shed the legacy path's
    // ~flat full-corpus census floor and become delta-proportional.
    // Reference arms: the full build and the legacy append at the same
    // delta.
    val cpus = spark.sparkContext.defaultParallelism
    val docs = Tables.documents(spark, sfDir)
    bench("spanappendc: full build f=8 c=24")(
      graft.functions.SpanIndex.buildDuplicateSpanIndex(docs,
        "doc_id", "text", floor = 8, cap = 24))
    for (dpc <- AppendDeltas) {
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
        idx0.repartition(cpus, col("doc_id"))
          .write.mode("overwrite").parquet(s"$p/idx")
        graft.functions.SpanIndex.writeSpanCensus(cen0, s"$p/cen")
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

  private def spanAppendChain(spark: SparkSession, sfDir: String): Unit = {
    // CHAINED census appends (round 15): the sidecar's selling point is
    // that batches CHAIN — each batch probes the stored sidecar and
    // appendSpanCensusStore lands its delta in the store, so k batches
    // never re-census the old text and lineage stays FLAT (the in-memory
    // census chain was measured at 1312 s for k=4 at sf10p — exponential
    // union re-evaluation; SCALE.md round 15). Arms: k store-chained
    // census appends (index append + store delta-append per batch, the
    // real pipeline's full bill) vs k legacy appends vs ONE rebuild over
    // everything at the end. Each arm is timed as the WHOLE chain —
    // chains are stateful, so `bench`'s median-of-3 would re-append the
    // same ids; one timed pass per arm, interleave by re-running the main
    // for medians.
    val cpus = spark.sparkContext.defaultParallelism
    val docs = Tables.documents(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    docs.count()
    val k = ChainBatches
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
      idx0.repartition(cpus, col("doc_id"))
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
          // store-growth profile: file accumulation (one per touched
          // bucket per batch — the compaction trigger) and bloom
          // occupancy (stored rows / expectedItems; fp holds its design
          // point while occupancy <= 1, the 2x write-time headroom)
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
}
