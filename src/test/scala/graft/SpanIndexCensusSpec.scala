package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Corpus, SpanIndex}

/** Census sidecar: append == rebuild, stored round trips, bloom/bucket
  * accelerators, staleness guards, and the single-exchange regroup pin.
  * Split from SpanIndexSpec (r17).
  */
class SpanIndexCensusSpec extends SpanIndexFixtures {
  import spark.implicits._

  test("census append == rebuild, all modes; updated census == fresh") {
    // same new-doc case coverage as the legacy append spec: new-new dup
    // pair, old-gram extension, identical-text merges into an old group,
    // within-doc-only repeat, unique doc
    val newbies = docs(
      (50L, "n1 n2 n3 n4 n5 end"),
      (51L, "n1 n2 n3 n4 n5 tail"),
      (52L, "p q r s t9"),
      (53L, "dup1 dup2 dup3 dup4"),
      (54L, "w1 e1 e2 e3"),
      (55L, "iq1 iq2 iq3 iq1 iq2 iq3"),
      (56L, "zz1 zz2 zz3"))
    val union = corpus.unionByName(newbies)
    for ((cross, c, d) <- Seq((false, 2, 2), (false, 3, 2),
        (true, 2, 2), (true, 2, 3))) {
      val (idx, cen) = SpanIndex.buildDuplicateSpanIndexWithCensus(corpus,
        "doc_id", "text", floor = 3, cap = 6, minCount = c,
        crossDoc = cross, minDocs = d)
      idx.persist()
      val full = SpanIndex.buildDuplicateSpanIndex(union, "doc_id",
        "text", floor = 3, cap = 6, minCount = c, crossDoc = cross,
        minDocs = d)
      val (app, upd) = SpanIndex.appendToSpanIndexWithCensus(idx, cen,
        corpus, newbies, "doc_id", "text", floor = 3, cap = 6,
        minCount = c, crossDoc = cross, minDocs = d,
        rebuildFraction = 10.0) // force the incremental path
      assert(indexSet(app) === indexSet(full),
        s"census append != rebuild (cross=$cross c=$c d=$d)")
      val fresh = SpanIndex.buildSpanCensus(union, "doc_id", "text", 3)
      assert(censusCounts(upd) === censusCounts(fresh),
        s"updated census counts diverge (cross=$cross c=$c d=$d)")
      assert(groupSets(upd) === groupSets(fresh),
        s"updated census groups diverge (cross=$cross c=$c d=$d)")
      idx.unpersist()
    }
  }
  test("census append: stored round trip, fallback, and guards") {
    val base = java.nio.file.Files.createTempDirectory("graft_cen_")
    try {
      val old = corpus
      val nw = docs((60L, "dup1 dup2 dup3 dup4"), (61L, "f1 f2 f3"),
        (62L, "f1 f2 f3"))
      val (idx, cen) = SpanIndex.buildDuplicateSpanIndexWithCensus(old,
        "doc_id", "text", floor = 3, cap = 6)
      SpanIndex.writeSpanCensus(cen, base.resolve("cen").toString)
      val stored = SpanIndex.readSpanCensus(spark,
        base.resolve("cen").toString)
      val full = SpanIndex.buildDuplicateSpanIndex(old.unionByName(nw),
        "doc_id", "text", floor = 3, cap = 6)
      val (app, _) = SpanIndex.appendToSpanIndexWithCensus(idx, stored,
        old, nw, "doc_id", "text", floor = 3, cap = 6,
        rebuildFraction = 10.0)
      assert(indexSet(app) === indexSet(full))
      // rebuildFraction = 0 forces the rebuild branch — result and
      // census must both still be the union's
      val oldP = base.resolve("old").toString
      val nwP = base.resolve("nw").toString
      old.write.parquet(oldP); nw.write.parquet(nwP)
      val (viaRebuild, cenR) = SpanIndex.appendToSpanIndexWithCensus(idx,
        stored, spark.read.parquet(oldP), spark.read.parquet(nwP),
        "doc_id", "text", floor = 3, cap = 6, rebuildFraction = 0.0)
      assert(indexSet(viaRebuild) === indexSet(full))
      assert(censusCounts(cenR) ===
        censusCounts(SpanIndex.buildSpanCensus(old.unionByName(nw),
          "doc_id", "text", 3)))
      // overlapping ids are a corrupt-index hazard — the members-based
      // check (scalar, always on) must refuse
      val eId = intercept[IllegalArgumentException] {
        SpanIndex.appendToSpanIndexWithCensus(idx, stored, old,
          docs((1L, "x y z")), "doc_id", "text", floor = 3, cap = 6,
          rebuildFraction = 10.0)
      }
      assert(eId.getMessage.contains("share document ids"))
      // a census cut at a different floor must refuse
      val cenWrong = SpanIndex.buildSpanCensus(old, "doc_id", "text", 2)
      val eFl = intercept[IllegalArgumentException] {
        SpanIndex.appendToSpanIndexWithCensus(idx, cenWrong, old, nw,
          "doc_id", "text", floor = 3, cap = 6, rebuildFraction = 10.0)
      }
      assert(eFl.getMessage.contains("floor"))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq
        .reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("stored census v2: bloom + bucket-pruned probe == rebuild, both modes") {
    // the round-15 store accelerators (counts frame, partitioned grams,
    // corpus bloom) change WHERE the probe reads, never what it finds:
    // an overlapping delta (survivors + pruned bucket read) and a novel
    // delta (bloom kills everything — zero buckets read) must both still
    // equal the full rebuild, and the updated census must keep the
    // accelerators live for the NEXT batch (chaining)
    val base = java.nio.file.Files.createTempDirectory("graft_cenv2_")
    try {
      for (cross <- Seq(false, true)) {
        val (idx, cen) = SpanIndex.buildDuplicateSpanIndexWithCensus(corpus,
          "doc_id", "text", floor = 3, cap = 6, crossDoc = cross)
        idx.persist()
        val p = base.resolve(s"cen_$cross").toString
        SpanIndex.writeSpanCensus(cen, p, buckets = 8)
        val stored = SpanIndex.readSpanCensus(spark, p)
        assert(stored.counts.nonEmpty && stored.gramsByBucket.nonEmpty &&
          stored.bloom.nonEmpty, "store must carry all three accelerators")
        assert(stored.bloom.get.buckets === 8)
        val nw = docs((70L, "dup1 dup2 dup3 dup4"), (71L, "a b c d e q9"))
        val full = SpanIndex.buildDuplicateSpanIndex(
          corpus.unionByName(nw), "doc_id", "text", floor = 3, cap = 6,
          crossDoc = cross)
        val (app, upd) = SpanIndex.appendToSpanIndexWithCensus(idx, stored,
          corpus, nw, "doc_id", "text", floor = 3, cap = 6,
          crossDoc = cross, rebuildFraction = 10.0)
        assert(indexSet(app) === indexSet(full), s"cross=$cross overlap")
        assert(upd.counts.nonEmpty && upd.gramsByBucket.nonEmpty &&
          upd.bloom.nonEmpty, "updated census must keep the accelerators")
        val novel = docs((80L, "nv1 nv2 nv3 nv4 nv5"),
          (81L, "nv1 nv2 nv3 nv4 nv5"))
        val fullN = SpanIndex.buildDuplicateSpanIndex(
          corpus.unionByName(nw).unionByName(novel), "doc_id", "text",
          floor = 3, cap = 6, crossDoc = cross)
        val (appN, _) = SpanIndex.appendToSpanIndexWithCensus(app, upd,
          corpus.unionByName(nw), novel, "doc_id", "text", floor = 3,
          cap = 6, crossDoc = cross, rebuildFraction = 10.0)
        assert(indexSet(appN) === indexSet(fullN), s"cross=$cross novel")
        idx.unpersist()
      }
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq
        .reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
  test("store append: merged bloom covers every appended gram") {
    // ADVICE r15 (high): the bloom was merged AFTER the store mutation,
    // and Spark's recacheByPath recomputed the persisted delta against
    // the already-mutated members store — the recomputed delta came
    // back EMPTY and the OLD bloom was silently written back, so later
    // chained batches bloom-rejected grams that really exist in the
    // store and dropped their duplicate spans. The merge now runs from
    // a staged pre-mutation snapshot and lands before any store write.
    val base = java.nio.file.Files.createTempDirectory("graft_cenbl_")
    try {
      val cenPath = base.resolve("cen").toString
      val old = docs(
        (1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "h i j k"))
      val (idx0, cen0) = SpanIndex.buildDuplicateSpanIndexWithCensus(
        old, "doc_id", "text", floor = 2, cap = 4)
      idx0.persist()
      SpanIndex.writeSpanCensus(cen0, cenPath, buckets = 4)
      // batch 1: NOVEL vocabulary — zero overlap with the stored bloom,
      // the exact shape whose delta the pre-fix recompute lost
      val b1 = docs((10L, "n1 n2 n3 n4 n5"))
      val cenS = SpanIndex.readSpanCensus(spark, cenPath)
      val (idxA, _) = SpanIndex.appendToSpanIndexWithCensus(idx0, cenS,
        old, b1, "doc_id", "text", floor = 2, cap = 4,
        rebuildFraction = 10.0)
      idxA.persist().count()
      val cen1 = SpanIndex.appendSpanCensusStore(spark, cenPath, b1,
        "doc_id", "text", floor = 2)
      // the STORED bloom must cover EVERY gram hash now in the store —
      // the no-false-negative invariant, asserted against the store
      // itself rather than the returned census
      val bloomRow = spark.read.parquet(s"$cenPath/bloom").collect().head
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(
          bloomRow.getAs[Array[Byte]]("__bloom")))
      val storedHashes = spark.read.parquet(s"$cenPath/grams")
        .select($"__fh").distinct().as[Long].collect()
      assert(storedHashes.nonEmpty)
      storedHashes.foreach(h => assert(bf.mightContainLong(h),
        s"stored bloom misses stored gram hash $h"))
      // batch 2 repeats batch 1's novel text ONCE: its spans exist only
      // because the store really contains batch 1's grams — a reverted
      // bloom rejects them at the probe and silently drops the spans
      val b2 = docs((20L, "n1 n2 n3 n4 n5"))
      val (idxB, _) = SpanIndex.appendToSpanIndexWithCensus(idxA, cen1,
        old.unionByName(b1), b2, "doc_id", "text", floor = 2, cap = 4,
        rebuildFraction = 10.0)
      val full = SpanIndex.buildDuplicateSpanIndex(
        old.unionByName(b1).unionByName(b2), "doc_id", "text",
        floor = 2, cap = 4)
      assert(indexSet(idxB) === indexSet(full))
      idx0.unpersist(); idxA.unpersist()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq
        .reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("store append cannot retroactively change earlier lineage") {
    // ADVICE r15 (medium): a census read as a live directory scan let a
    // later appendSpanCensusStore change an UNMATERIALIZED index's
    // lineage — the dense probe re-read the store post-mutation and
    // counted the batch's own appended rows as old corpus, emitting
    // spurious spans. readSpanCensus now pins concrete file lists, so
    // frames derived from a census are immune to later store appends.
    val base = java.nio.file.Files.createTempDirectory("graft_cenpin_")
    try {
      val cenPath = base.resolve("cen").toString
      // overlapping vocabulary + 2 buckets: the batch's survivors land
      // in both buckets, forcing the DENSE fallback that lazily reads
      // the whole grams store (the unshielded path)
      val old = docs((1L, "a b c d e"), (2L, "a b c f g"),
        (3L, "c d e h i"))
      val (idx0, cen0) = SpanIndex.buildDuplicateSpanIndexWithCensus(
        old, "doc_id", "text", floor = 2, cap = 4)
      idx0.persist()
      SpanIndex.writeSpanCensus(cen0, cenPath, buckets = 2)
      val cen = SpanIndex.readSpanCensus(spark, cenPath)
      val beforeMembers = cen.members.count()
      val beforeGrams = cen.grams.count()
      val b1 = docs((10L, "a b c d x"))
      // the returned index is deliberately NOT materialized before the
      // store mutates — the gate pattern (persist is lazy)
      val (idx1, _) = SpanIndex.appendToSpanIndexWithCensus(idx0, cen,
        old, b1, "doc_id", "text", floor = 2, cap = 4,
        rebuildFraction = 10.0)
      SpanIndex.appendSpanCensusStore(spark, cenPath, b1,
        "doc_id", "text", floor = 2)
      // snapshot semantics: the census read before the append still
      // reads the pre-append store
      assert(cen.members.count() === beforeMembers)
      assert(cen.grams.count() === beforeGrams)
      // and the deferred index evaluates to the exact rebuild
      val full = SpanIndex.buildDuplicateSpanIndex(old.unionByName(b1),
        "doc_id", "text", floor = 2, cap = 4)
      assert(indexSet(idx1) === indexSet(full))
      idx0.unpersist()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq
        .reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("auto bucket sizing and same-path compaction") {
    // VERDICT r15 #1: the 512-directory default must scale DOWN with
    // the store (a toy census pays the fan-out's fixed listing tax with
    // zero pruning gain), and a chained census must compact back to its
    // OWN path safely (ADVICE r15 low: overwrite-while-read)
    val base = java.nio.file.Files.createTempDirectory("graft_cencp_")
    try {
      val cenPath = base.resolve("cen").toString
      val cen0 = SpanIndex.buildSpanCensus(corpus, "doc_id", "text", 3)
      SpanIndex.writeSpanCensus(cen0, cenPath) // buckets = auto
      val cen = SpanIndex.readSpanCensus(spark, cenPath)
      // toy store sizes to the auto FLOOR, not the 512-directory cap
      assert(cen.bloom.get.buckets === 8)
      // one chained delta, then COMPACTION: write the store-backed
      // census back to its own path — staging materializes every
      // self-read input before the overwrite deletes its files
      val b1 = docs((90L, "k1 k2 k3 k4"))
      val cen1 = SpanIndex.appendSpanCensusStore(spark, cenPath, b1,
        "doc_id", "text", floor = 3)
      SpanIndex.writeSpanCensus(cen1, cenPath)
      val cen2 = SpanIndex.readSpanCensus(spark, cenPath)
      val fresh = SpanIndex.buildSpanCensus(corpus.unionByName(b1),
        "doc_id", "text", 3)
      assert(censusCounts(cen2) === censusCounts(fresh))
      assert(groupSets(cen2) === groupSets(fresh))
      assert(cen2.counts.nonEmpty && cen2.gramsByBucket.nonEmpty &&
        cen2.bloom.nonEmpty)
      // both staging dirs are cleaned up after their operations
      assert(!java.nio.file.Files.exists(
        base.resolve("cen").resolve("_staging_write")))
      assert(!java.nio.file.Files.exists(
        base.resolve("cen").resolve("_staging_append")))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq
        .reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("census staleness guards refuse covered-corpus drift") {
    // ADVICE r14: a census that no longer matches oldDocs would produce
    // an index that LOOKS exact while missing duplicates — every drift
    // direction must refuse up front (coverage, count, stored counts)
    val (idx, cen) = SpanIndex.buildDuplicateSpanIndexWithCensus(corpus,
      "doc_id", "text", floor = 3, cap = 6)
    val nw = docs((90L, "g1 g2 g3"))
    val grown = corpus.unionByName(docs((99L, "extra doc here")))
    val e1 = intercept[IllegalArgumentException] {
      SpanIndex.appendToSpanIndexWithCensus(idx, cen, grown, nw,
        "doc_id", "text", floor = 3, cap = 6, rebuildFraction = 10.0)
    }
    assert(e1.getMessage.contains("STALE"))
    val shrunk = corpus.filter($"doc_id" =!= 1L)
    val e2 = intercept[IllegalArgumentException] {
      SpanIndex.appendToSpanIndexWithCensus(idx, cen, shrunk, nw,
        "doc_id", "text", floor = 3, cap = 6, rebuildFraction = 10.0)
    }
    assert(e2.getMessage.contains("STALE"))
    val bad = cen.copy(counts = Some(cen.members.groupBy($"__gid")
      .agg((count(lit(1)) + 1).as("__mo"))))
    val e3 = intercept[IllegalArgumentException] {
      SpanIndex.appendToSpanIndexWithCensus(idx, bad, corpus, nw,
        "doc_id", "text", floor = 3, cap = 6, rebuildFraction = 10.0)
    }
    assert(e3.getMessage.contains("counts"))
  }

  test("append at minDocs = 3 == full rebuild over the union") {
    val rnd = new scala.util.Random(9)
    for (trial <- 1 to 2) {
      val base = (1 to 22).map { i =>
        val n = rnd.nextInt(22)
        (i.toLong, Seq.fill(n)("t" + rnd.nextInt(6)).mkString(" "))
      }
      val copies = base.take(4).map { case (id, t) => (id + 1000L, t) }
      val all = base ++ copies
      val (oldRows, newRows) = all.partition(_._1 % 5 != 0)
      val old = docs(oldRows: _*)
      val nw = docs(newRows: _*)
      val idx0 = SpanIndex.buildDuplicateSpanIndex(old, "doc_id", "text",
        floor = 2, cap = 4, crossDoc = true, minDocs = 3)
      idx0.persist()
      val full = SpanIndex.buildDuplicateSpanIndex(docs(all: _*), "doc_id",
        "text", floor = 2, cap = 4, crossDoc = true, minDocs = 3)
      val app = SpanIndex.appendToSpanIndex(idx0, old, nw, "doc_id",
        "text", floor = 2, cap = 4, crossDoc = true, minDocs = 3,
        rebuildFraction = 10.0) // force the incremental path
      assert(indexSet(app) === indexSet(full), s"trial $trial")
      idx0.unpersist()
    }
  }

  test("single-exchange regroup: append with pass-through rows == rebuild") {
    // the append path's regroup merges scan pairs with the stored rows of
    // touched docs while untouched docs pass through byte-identical;
    // build and append must both equal the rebuild over the union
    def build(df: DataFrame) = SpanIndex.buildDuplicateSpanIndex(df,
      "doc_id", "text", floor = 3, cap = 6)
    val full = indexSet(build(corpus))
    val old = corpus.filter($"doc_id" =!= 2L)
    val nw = corpus.filter($"doc_id" === 2L)
    val idx0 = build(old)
    idx0.persist()
    val app = indexSet(SpanIndex.appendToSpanIndex(idx0, old, nw,
      "doc_id", "text", floor = 3, cap = 6, rebuildFraction = 1000.0))
    idx0.unpersist()
    assert(app === full, "append != rebuild over the union")
  }

  test("regroupPairs == the two-exchange regroup on hand-built pairs") {
    // reference: the historical max -> floor cut -> collect chain
    def twoExchange(pairs: DataFrame, floor: Int): DataFrame = pairs
      .groupBy($"doc_id", $"__p").agg(max($"__r").as("__r"))
      .filter($"__r" >= floor)
      .groupBy($"doc_id")
      .agg(array_sort(collect_list(struct($"__p", $"__r"))).as("__pr"))
      .select($"doc_id", transform($"__pr", x => x("__p")).as("positions"),
        transform($"__pr", x => x("__r")).as("rlens"))
    // unsorted input; repeated positions with different __r (the max must
    // win, including a sub-floor repeat of an above-floor position);
    // sub-floor rows beside kept ones; doc 3 is entirely sub-floor and
    // must vanish; doc 4 is one row
    val pairs = Seq(
      (1L, 9, 3), (1L, 2, 5), (1L, 9, 7), (1L, 2, 1), (1L, 5, 2),
      (1L, 2, 4), (2L, 4, 3), (2L, 1, 6), (2L, 4, 2), (2L, 7, 1),
      (3L, 1, 2), (3L, 3, 1), (3L, 1, 1), (4L, 6, 3))
      .toDF("doc_id", "__p", "__r").repartition(3)
    val got = indexSet(SpanIndex.regroupPairs(pairs, "doc_id", 3))
    assert(got === indexSet(twoExchange(pairs, 3)))
    assert(got === Set((1L, Seq(2, 9), Seq(5, 7)), (2L, Seq(1, 4), Seq(6, 3)),
      (4L, Seq(6), Seq(3))))
  }
}
