package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dia.DIA
import graft.dia.DIA.PairDIAOps
import graft.operators.Positional

/** Queries driven through the typed `DIA[T]` facade, covering the operator
  * families that previously had tests but no correctness-gate entry:
  * ReducePair, GroupToIndex, SortStable, ExPrefixSum, ZipWindow, Rebalance,
  * exact-size Sample. Each runs the real facade implementation end-to-end
  * and is checked against a DuckDB oracle.
  */
object FacadeQueries {

  /** When set (by `graft.Tool plans` only — never on Bench or Verify paths),
    * [[collectEager]] appends each frame's formatted plan here BEFORE
    * collecting. The r16 plan dumps for collectEager gates were vacuous
    * 8-line LocalTableScans (the post-collect plan); this hook captures
    * the executed pre-collect plan instead (VERDICT r16 #7).
    */
  private[graft] val eagerPlanCapture =
    new java.util.concurrent.atomic.AtomicReference[StringBuilder](null)

  /** Materialize a small result eagerly so temp files it was computed from
    * can be deleted before the frame is handed to the driver (which executes
    * it lazily, later). Only for aggregates of a few rows.
    */
  private[queries] def collectEager(df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val cap = eagerPlanCapture.get()
    if (cap != null) cap.synchronized {
      cap.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        .append('\n')
    }
    df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }

  private[graft] def deleteRecursively(base: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(base))
      java.nio.file.Files.walk(base).iterator().asScala.toSeq
        .reverse.foreach(java.nio.file.Files.delete)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ReducePair (thrill/api/reduce_by_key.hpp:368-463): DIA[(K,V)]
    // reducing only V. l_quantity is integer-valued, so Double sums are
    // exact and FP-order-independent.
    "q_reduce_pair" -> ((s, d) => {
      import s.implicits._
      val pairs = Tables.lineitem(s, d)
        .select(($"l_orderkey" % 1000).as("k"), $"l_quantity").as[(Long, Double)]
      new DIA(pairs).reducePair(_ + _)
        .ds.toDF("k", "sum_qty").orderBy($"k")
    }),

    // GroupToIndex (thrill/api/group_to_index.hpp:42-291): dense-index
    // grouping with a non-associative group fn (median), neutral-padded to
    // the requested size.
    "q_group_to_index" -> ((s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d)
        .select($"l_linenumber".cast("long"), $"l_quantity").as[(Long, Double)]
      new DIA(li).groupToIndex[Double](_._1, 8L, 0.0) { (_, it) =>
        val v = it.map(_._2).toArray
        java.util.Arrays.sort(v)
        val n = v.length
        if (n % 2 == 1) v(n / 2) else (v(n / 2 - 1) + v(n / 2)) / 2.0
      }.zipWithIndex((m, i) => (i, m))
        .ds.toDF("idx", "median_qty").orderBy($"idx")
    }),

    // SortStable (thrill/api/sort.hpp:82-114): equal keys keep their
    // original (generation) order — verified by the explicit output index.
    "q_sort_stable" -> ((s, _) => {
      import s.implicits._
      val sorted = DIA.generate(s, 100000L, numSlices = 8)(i => (i % 7, i))
        .sortStableBy(_._1)
        .cache() // the trailing zipWithIndex takes two passes; don't re-sort
      graft.operators.Release.datasetAfterNextAction(sorted.ds)
      sorted.zipWithIndex((t, pos) => (pos, t._1, t._2))
        .ds.toDF("pos", "k", "id")
    }),

    // ExPrefixSum (thrill/api/ex_prefix_sum.hpp:24-61): exclusive running
    // total in key order; out(0) = initial.
    "q_ex_prefix_sum" -> ((s, d) => {
      import s.implicits._
      val cents = Tables.orders(s, d)
        .select($"o_orderkey", round($"o_totalprice" * 100, 0).cast("long"))
        .as[(Long, Long)].orderBy($"o_orderkey").map(_._2)
      new DIA(cents).exPrefixSum(0L)(_ + _)
        .zipWithIndex((v, i) => (i, v))
        .ds.toDF("pos", "ex_cents")
    }),

    // ZipWindow (thrill/api/zip_window.hpp:175-865): block-wise zip with
    // per-input window sizes (2, 3); only full blocks participate.
    "q_zip_window" -> ((s, _) => {
      import s.implicits._
      val a = DIA.generate(s, 1000L, numSlices = 4)(identity)
      val b = DIA.generate(s, 1500L, numSlices = 4)(identity)
      // block id is derivable from the leading element (sa.head / wThis) —
      // avoids a second zipWithIndex pass over the result
      a.zipWindow(b, 2, 3)((sa, sb) => (sa.head / 2, sa.sum + sb.sum))
        .ds.toDF("block", "s").orderBy($"block")
    }),

    // Rebalance (thrill/api/rebalance.hpp:30-133): even partitions, global
    // order preserved — the output position proves it.
    "q_rebalance" -> ((s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d).select($"o_orderkey").orderBy($"o_orderkey")
      Positional.zipWithIndex(Positional.rebalance(o, 8), "pos")
        .select($"pos", $"o_orderkey")
    }),

    // FlatWindow (thrill/api/window.hpp FlatWindowNode): 1→N emitter over
    // each sliding window — here every k=2 window emits both its elements.
    "q_flat_window" -> ((s, _) => {
      import s.implicits._
      DIA.generate(s, 1000L, numSlices = 4)(identity)
        .flatWindow(2) { (first, w) => w.map(v => (first, v)) }
        .ds.toDF("first_idx", "v").orderBy($"first_idx", $"v")
    }),

    // EqualToDIA (thrill/api/equal_to_dia.hpp:30-123): distribute a local
    // collection, then join it against a table like any other DIA.
    "q_equal_to_dia" -> ((s, d) => {
      import s.implicits._
      val keys = DIA.equalToDIA(s, (0L until 25L).filter(_ % 2 == 0))
      val n = Tables.nation(s, d)
      n.join(keys.ds.toDF("n_nationkey"), Seq("n_nationkey"))
        .select($"n_nationkey", $"n_name").orderBy($"n_nationkey")
    }),

    // WriteLines + ReadLines round trip (thrill/api/write_lines.hpp:33-212,
    // read_lines.hpp:41-523): orders flow through the sharded text sink and
    // back through the text source; the aggregate proves losslessness.
    "q_write_read_lines" -> ((s, d) => {
      import s.implicits._
      // per-run unique dir (two concurrent runners can't race each other),
      // deleted before returning — the small aggregate is materialized
      // eagerly so the returned frame no longer references the temp files
      val base = java.nio.file.Files.createTempDirectory("graft_lines_")
      val tmp = base.resolve("out").toString
      val lines = Tables.orders(s, d)
        .select(concat_ws("|", $"o_orderkey", $"o_orderpriority")).as[String]
      new DIA(lines).writeLines(tmp)
      val agg = DIA.readLines(s, tmp).ds.toDF("value")
        .select(split($"value", "\\|").getItem(0).cast("long").as("o_orderkey"),
          split($"value", "\\|").getItem(1).as("o_orderpriority"))
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"), sum($"o_orderkey").as("key_sum"))
        .orderBy($"o_orderpriority")
      val out = collectEager(agg)
      deleteRecursively(base)
      out
    }),

    // WriteLinesOne + ReadLines round trip (thrill/api/write_lines_one.hpp:
    // 31-145): the single-writer contract is asserted on disk — exactly one
    // part file — before the data round-trips back through the text source.
    "q_write_lines_one" -> ((s, d) => {
      import s.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft_lines1_")
      val tmp = base.resolve("out")
      val lines = Tables.nation(s, d)
        .select(concat_ws("|", $"n_nationkey", $"n_name")).as[String]
      new DIA(lines).writeLinesOne(tmp.toString)
      val nPartFiles = tmp.toFile.listFiles.count(_.getName.startsWith("part-"))
      require(nPartFiles == 1,
        s"writeLinesOne produced $nPartFiles part files, expected 1")
      val parsed = DIA.readLines(s, tmp.toString).ds.toDF("value")
        .select(split($"value", "\\|").getItem(0).cast("int").as("n_nationkey"),
          split($"value", "\\|").getItem(1).as("n_name"))
        .orderBy($"n_nationkey")
      val out = collectEager(parsed)
      deleteRecursively(base)
      out
    }),

    // ConcatToDIA (thrill/api/concat_to_dia.hpp:30-117): the workers'
    // local vectors concatenated into one DIA; with a driver-held seq the
    // distribution difference from EqualToDIA disappears, but the facade
    // path is exercised end-to-end (odd keys, complementing q_equal_to_dia).
    "q_concat_to_dia" -> ((s, d) => {
      import s.implicits._
      val keys = DIA.concatToDIA(s, (0L until 25L).filter(_ % 2 == 1))
      Tables.nation(s, d).join(keys.ds.toDF("n_nationkey"), Seq("n_nationkey"))
        .select($"n_nationkey", $"n_name").orderBy($"n_nationkey")
    }),

    // Distribute (thrill/api/distribute.hpp:33-126): scatter a driver-held
    // seq across workers, then use it like any DIA.
    "q_distribute" -> ((s, d) => {
      import s.implicits._
      val keys = DIA.distribute(s, Seq(0L, 2L, 4L))
      Tables.region(s, d).join(keys.ds.toDF("r_regionkey"), Seq("r_regionkey"))
        .select($"r_regionkey", $"r_name").orderBy($"r_regionkey")
    }),

    // Cache / Dispose (thrill/api/cache.hpp:32-114, dia.hpp:295-335): two
    // actions over the same cached DIA — the first populates the persisted
    // blocks, the second reads them — then the cache is disposed. The
    // oracle checks both action values.
    "q_cache" -> ((s, d) => {
      import s.implicits._
      val qty = Tables.lineitem(s, d).select($"l_quantity").as[Double]
      val c = new DIA(qty).cache().keep()
      val n = c.size      // action 1: materializes the cache
      val total = c.sum   // action 2: served from the cached blocks
      c.dispose()
      Seq((n, total)).toDF("n", "sum_qty")
    }),

    // AllGather / Gather (thrill/api/all_gather.hpp:28-161): the gathered
    // driver-side seq is re-distributed and aggregated, proving the gather
    // was lossless.
    "q_allgather" -> ((s, d) => {
      import s.implicits._
      val keys = Tables.nation(s, d)
        .select($"n_nationkey".cast("long")).as[Long]
      val gathered = new DIA(keys).allGather()
      DIA.equalToDIA(s, gathered).ds.toDF("k")
        .agg(count(lit(1)).as("n"), sum($"k").as("key_sum"))
    }),

    // Execute (thrill/api/dia.hpp:332-343): force evaluation without a
    // user-visible result, then act on the same DIA.
    "q_execute" -> ((s, d) => {
      import s.implicits._
      val o = new DIA(Tables.orders(s, d).select($"o_orderkey").as[Long])
      Seq(o.execute().size).toDF("n")
    }),

    // Triangle counting (examples/triangles/triangles.hpp:49-69): the
    // reference's InnerJoin-composition acceptance workload, on a
    // deterministic path-power graph (i → i+d, d ∈ {1,2,3}).
    "q_triangles" -> ((s, _) => {
      import s.implicits._
      val n = 10000L
      val edges = s.range(n).select($"id".as("i"))
        .crossJoin(s.range(1, 4).select($"id".as("d")))
        .filter($"i" + $"d" < n)
        .select($"i".as("src"), ($"i" + $"d").as("dst"))
      Seq(graft.examples.Examples.countTriangles(edges)).toDF("n_triangles")
    }),

    // PageRank (examples/page_rank/page_rank.hpp:80-206) on the same
    // deterministic path-power graph. The oracle unrolls the 3 fixed
    // iterations as plain CTE levels in DuckDB (dangling mass included);
    // ranks are rounded to 8 dp BEFORE the ordering/limit, so FP noise in
    // aggregation order (~1e-16) can't flip the top-20 selection.
    "q_pagerank" -> ((s, _) => {
      import s.implicits._
      // small graph + few rounds: each iteration costs a fixed number of
      // jobs regardless of data size, so the gate entry stays cheap; deep
      // convergence is asserted in ExamplesSpec (15 iterations)
      val n = 1000L
      val edges = s.range(0, n, 1, 4).select($"id".as("i"))
        .crossJoin(s.range(1, 4).select($"id".as("d")))
        .filter($"i" + $"d" < n)
        .select($"i".as("src"), ($"i" + $"d").as("dst"))
      graft.examples.Examples.pageRank(edges, iters = 3)
        .select($"node", round($"rank", 8).as("rank"))
        .orderBy($"rank".desc, $"node").limit(20)
    }),

    // Suffix sorting (examples/suffix_sorting/prefix_doubling.hpp) on a
    // deterministic 2000-char string generated identically in both
    // engines (cubic-residue chars — aperiodic, so ranks go
    // distinct after a few doubling rounds); DuckDB sorts the substr
    // suffixes directly.
    "q_suffix_array" -> ((s, _) => {
      import s.implicits._
      val text = (0 until 2000)
        .map(i => ('a' + ((i.toLong * i * i % 100003) % 26).toInt).toChar).mkString
      graft.examples.Examples.suffixArray(text, s).orderBy($"pos")
    }),

    // TeraSort (examples/terasort/terasort.cpp): sort records by an
    // opaque key — deterministic 'teragen' via md5 of the row id (same
    // construction both engines), order asserted by the explicit output
    // position. Keys are full 32-hex digests, so ties are impossible and
    // the position is well-defined.
    "q_terasort" -> ((s, _) => {
      import s.implicits._
      val recs = s.range(0, 100000, 1, 8)
        .select(md5($"id".cast("string")).as("key"), $"id".as("payload"))
      Positional.zipWithIndex(
        graft.examples.Examples.teraSort(recs, "key"), "pos")
        .select($"pos", $"key", $"payload")
    }),

    // Percentiles (examples/percentiles/percentiles.cpp): exact percentile
    // values via the distributed rank-k selection, one sketch pass for all
    // five probes.
    "q_percentiles" -> ((s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d)
        .select(round($"o_totalprice" * 100, 0).cast("long").as("cents"))
        .persist()
      val n = o.count()
      val ps = Seq(1L, 25L, 50L, 75L, 99L)
      val ranks = ps.map(p => ((n - 1) * p) / 100)
      val byRank = graft.operators.Selection.selectRanks(o, "cents", ranks.distinct).toMap
      o.unpersist()
      ps.zip(ranks).map { case (p, r) => (p, byRank(r)) }
        .toDF("p", "value").orderBy($"p")
    }),

    // BFS (examples/bfs/bfs.cpp): level-synchronous frontier expansion on
    // the binary-doubling graph (i → 2i, 2i+1 mod 200 — full reachability,
    // eccentricity 8, so 9 frontier rounds), source 0. The oracle is a
    // DuckDB recursive CTE bounded past the eccentricity.
    "q_bfs" -> ((s, _) => {
      import s.implicits._
      val n = 200L
      val ids = s.range(0, n, 1, 4)
      val edges = ids.select($"id".as("src"), (($"id" * 2) % n).as("dst"))
        .union(ids.select($"id".as("src"), (($"id" * 2 + 1) % n).as("dst")))
      graft.examples.Examples.bfs(edges, 0L, broadcastFrontier = true)
        .orderBy($"node")
    }),

    // Logistic regression (examples/logistic_regression/): 3 full-batch GD
    // iterations on an integer-valued separable point set; the gate checks
    // the final PREDICTIONS (sign of w·x — robust to last-ulp FP noise in
    // the gradient sums), with the whole computation unrolled in the
    // oracle.
    "q_logreg" -> ((s, _) => {
      import s.implicits._
      val pts = s.range(0, 300, 1, 4).select($"id",
        ($"id" % 2).cast("double").as("y"),
        (($"id" % 10) + ($"id" % 2) * 12).cast("double").as("x1"),
        (expr("(id div 2) % 7") + ($"id" % 2) * 9).cast("double").as("x2"))
      val w = graft.examples.Examples.logisticRegression(
        pts, Seq("x1", "x2"), "y", iters = 3, lr = 0.5)
      pts.select($"id",
          when(lit(w(0)) + lit(w(1)) * $"x1" + lit(w(2)) * $"x2" > 0, 1L)
            .otherwise(0L).as("pred"))
        .orderBy($"id")
    }),

    // Minibatch SGD (examples/stochastic_gradient_descent/): 3 steps on
    // rotating deterministic 1/10 slices of the q_logreg point set, gated
    // on the final predictions like q_logreg.
    "q_sgd" -> ((s, _) => {
      import s.implicits._
      val pts = s.range(0, 300, 1, 4).select($"id",
        ($"id" % 2).cast("double").as("y"),
        (($"id" % 10) + ($"id" % 2) * 12).cast("double").as("x1"),
        (expr("(id div 2) % 7") + ($"id" % 2) * 9).cast("double").as("x2"))
      val w = graft.examples.Examples.sgdLogistic(
        pts, "id", Seq("x1", "x2"), "y", steps = 3, lr = 0.5)
      pts.select($"id",
          when(lit(w(0)) + lit(w(1)) * $"x1" + lit(w(2)) * $"x2" > 0, 1L)
            .otherwise(0L).as("pred"))
        .orderBy($"id")
    }),

    // K-Means (examples/k-means/k-means.hpp) on a deterministic 2-D point
    // set (3 separated strips); init = 3 lowest ids, 2 Lloyd iterations.
    // All coordinates are integer-valued, so sums/averages are exact in
    // double and the DuckDB oracle (same iterations unrolled as CTEs)
    // reproduces the assignment bit-for-bit.
    "q_kmeans" -> ((s, _) => {
      import s.implicits._
      // integer division (div), matching the oracle's `//` — Column `/`
      // would be true division and make the coordinates fractional
      val pts = s.range(0, 300, 1, 4).select($"id",
        array((($"id" % 3) * 100 + expr("id div 3") % 10).cast("float"),
          expr("id div 30").cast("float")).as("vec"))
      graft.examples.Examples.kMeans(pts, "id", "vec", k = 3, iters = 2)
        .orderBy($"id")
    }),

    // Distributed rank-k selection (examples/select/select.hpp:54-188):
    // approxQuantile-bracketed exact TakeOrdered; five ranks incl. the
    // extremes, on integer cents so values are exact.
    "q_select" -> ((s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d)
        .select(round($"o_totalprice" * 100, 0).cast("long").as("cents"))
        .persist()
      val n = o.count()
      val ranks = Seq(0L, n / 4, n / 2, (3 * n) / 4, n - 1)
      val out = graft.operators.Selection.selectRanks(o, "cents", ranks)
      o.unpersist()
      out.toDF("rank", "value").orderBy($"rank")
    }),

    // Sliding window WITH trailing partial windows (thrill/api/window.hpp
    // PartialWindowFunction): idx 0..997 are full 3-windows, idx 998/999
    // come from the partial emitter (sizes 2 and 1).
    "q_window_partial" -> ((s, _) => {
      import s.implicits._
      val emit = (i: Long, w: Seq[Long]) => (i, w.size.toLong, w.sum)
      DIA.generate(s, 1000L, numSlices = 4)(identity)
        .windowPartial(3)(emit)(emit)
        .ds.toDF("idx", "n", "s").orderBy($"idx")
    }),

    // Zip with PadTag (thrill/api/zip.hpp:293-335): result has the longer
    // input's length, exhausted side padded with -1.
    "q_zip_pad" -> ((s, _) => {
      import s.implicits._
      val a = DIA.generate(s, 1000L, numSlices = 4)(identity)
      val b = DIA.generate(s, 1500L, numSlices = 3)(identity)
      a.zipPad(b, -1L, -1L)((x, y) => (x, y))
        .ds.toDF("a", "b").orderBy($"b")
    }),

    // Zip with NoRebalanceTag (thrill/api/zip.hpp:142-156): zero-shuffle
    // worker-local zip of two identically-distributed DIAs (both derive
    // from one generate through narrow maps).
    "q_zip_local" -> ((s, _) => {
      import s.implicits._
      val a = DIA.generate(s, 10000L, numSlices = 8)(identity)
      val sq = a.map(i => i * i)
      a.zipLocal(sq)((x, y) => (x, y))
        .ds.toDF("i", "sq").orderBy($"i")
    }),

    // Heterogeneous 3-ary Zip (thrill/api/zip.hpp variadic template pack):
    // Long x Double x String inputs of different lengths/slicings, CutTag
    // truncation to the shortest (900).
    "q_zip3" -> ((s, _) => {
      import s.implicits._
      val a = DIA.generate(s, 900L, numSlices = 4)(identity)
      val b = DIA.generate(s, 1000L, numSlices = 3)(i => i.toDouble / 2)
      val c = DIA.generate(s, 950L, numSlices = 5)(i => "s" + (i % 10))
      a.zip3(b, c)((x, y, z) => (x, y, z))
        .ds.toDF("i", "half", "tag").orderBy($"i")
    }),

    // k-ary Zip (thrill/api/zip.hpp variadic dias...): three inputs of
    // different lengths/slicings, CutTag truncation to the shortest (900).
    "q_zip_all" -> ((s, _) => {
      import s.implicits._
      val a = DIA.generate(s, 1000L, numSlices = 4)(identity)
      val b = DIA.generate(s, 1200L, numSlices = 3)(i => i * 2)
      val c = DIA.generate(s, 900L, numSlices = 5)(i => i % 7)
      a.zipAll(Seq(b, c))(seq => (seq.head, seq.sum))
        .ds.toDF("idx", "s").orderBy($"idx")
    }),

    // Heterogeneous 4-ary Zip WITHOUT nesting (zip.hpp's unbounded
    // variadic pack, DataFrame form via Positional.zipAllByIndex — the
    // typed facade covers arities 2-3): Long/Double/String/Long inputs of
    // four lengths/slicings, CutTag truncation to the shortest (900).
    "q_zip4h" -> ((s, _) => {
      import s.implicits._
      val a = DIA.generate(s, 1000L, numSlices = 4)(identity).ds.toDF("a")
      val b = DIA.generate(s, 900L, numSlices = 3)(i => i.toDouble / 2).ds.toDF("b")
      val c = DIA.generate(s, 950L, numSlices = 5)(i => "s" + (i % 10)).ds.toDF("c")
      val e = DIA.generate(s, 1100L, numSlices = 2)(i => i % 7).ds.toDF("e")
      graft.operators.Positional.zipAllByIndex(Seq(a, b, c, e), cut = true)
        .orderBy($"idx")
    }),

    // k-ary ZipWindow (thrill/api/zip_window.hpp variadic): block sizes
    // (2,3,4) over three inputs — block j sums to 29j+10 by construction.
    "q_zip_window3" -> ((s, _) => {
      import s.implicits._
      val a = DIA.generate(s, 600L, numSlices = 4)(identity)
      val b = DIA.generate(s, 900L, numSlices = 3)(identity)
      val c = DIA.generate(s, 1200L, numSlices = 5)(identity)
      a.zipWindowAll(Seq(b, c), Seq(2, 3, 4)) { seqs =>
        (seqs.head.head / 2, seqs.map(_.sum).sum)
      }.ds.toDF("block", "s").orderBy($"block")
    }),

    // Heterogeneous 3-ary ZipWindow (thrill/api/zip_window.hpp variadic,
    // mixed types): Long/Double/String inputs with window sizes 2/3/4,
    // CutTag truncation to the shortest block count (300). Double values
    // are multiples of 0.5, so the 3-term FP sum is exact.
    "q_zip_window3h" -> ((s, _) => {
      import s.implicits._
      val a = DIA.generate(s, 620L, numSlices = 4)(identity)
      val b = DIA.generate(s, 900L, numSlices = 3)(i => i.toDouble / 2)
      val c = DIA.generate(s, 1240L, numSlices = 5)(i => "s" + (i % 10))
      a.zipWindow3(b, c, 2, 3, 4) { (xs, ys, zs) =>
        (xs.head / 2, xs.sum, ys.sum, zs.mkString)
      }.ds.toDF("block", "sa", "sb", "tags").orderBy($"block")
    }),

    // BernoulliSample (thrill/api/bernoulli_sample.hpp:27-113): membership
    // is seeded-random, so the gate checks the binomial guarantee — the
    // sampled count lies within mean ± 5σ — as a Spark-computed boolean
    // the oracle pins TRUE, alongside the exact population count.
    "q_bernoulli" -> ((s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d).select($"l_orderkey").as[Long]
      val p = 0.1
      val total = li.count()
      val sampled = new DIA(li).bernoulliSample(p, seed = 7L).ds.count()
      val mean = total * p
      val sd = math.sqrt(total * p * (1 - p))
      Seq((total, math.abs(sampled - mean) <= 5 * sd))
        .toDF("n_total", "sample_ok")
    }),

    // Exact-size Sample (thrill/api/sample.hpp:50-263): the verifiable
    // property is the exact result size (membership is seeded-random;
    // uniformity is asserted in DIASpec).
    "q_sample_exact" -> ((s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d).select($"l_orderkey").as[Long]
      new DIA(li).sample(1000)
        .ds.toDF("l_orderkey").agg(count(lit(1)).as("n"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q_reduce_pair" ->
      """SELECT CAST(l_orderkey % 1000 AS BIGINT) AS k, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_group_to_index" ->
      """SELECT i AS idx, coalesce(m.med, 0.0) AS median_qty
        |FROM range(8) t(i) LEFT JOIN (
        | SELECT CAST(l_linenumber AS BIGINT) AS ln, median(l_quantity) AS med
        | FROM lineitem GROUP BY 1) m ON m.ln = t.i
        |ORDER BY idx""".stripMargin,
    "q_sort_stable" ->
      """SELECT CAST(row_number() OVER (ORDER BY range % 7, range) - 1 AS BIGINT) AS pos,
        | CAST(range % 7 AS BIGINT) AS k, CAST(range AS BIGINT) AS id
        |FROM range(100000) ORDER BY pos""".stripMargin,
    "q_ex_prefix_sum" ->
      """WITH t AS (
        | SELECT CAST(round(o_totalprice*100,0) AS BIGINT) AS cents,
        |  row_number() OVER (ORDER BY o_orderkey) - 1 AS rn
        | FROM orders)
        |SELECT CAST(rn AS BIGINT) AS pos,
        | CAST(coalesce(sum(cents) OVER (ORDER BY rn
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS ex_cents
        |FROM t ORDER BY pos""".stripMargin,
    "q_zip_window" ->
      """SELECT CAST(i AS BIGINT) AS block, CAST(13*i + 4 AS BIGINT) AS s
        |FROM range(500) t(i) ORDER BY block""".stripMargin,
    "q_rebalance" ->
      """SELECT CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS pos,
        | o_orderkey
        |FROM orders ORDER BY pos""".stripMargin,
    "q_sample_exact" -> "SELECT CAST(1000 AS BIGINT) AS n",
    "q_bernoulli" ->
      "SELECT count(*) AS n_total, TRUE AS sample_ok FROM lineitem",
    "q_terasort" ->
      """WITH r AS (SELECT md5(CAST(i AS VARCHAR)) AS key, i AS payload
        | FROM range(100000) t(i))
        |SELECT CAST(row_number() OVER (ORDER BY key) - 1 AS BIGINT) AS pos,
        | key, payload
        |FROM r ORDER BY pos""".stripMargin,
    "q_suffix_array" ->
      """WITH s AS (SELECT string_agg(chr(CAST(97 + (i*i*i % 100003) % 26 AS INT)), ''
        |   ORDER BY i) AS txt FROM range(2000) t(i)),
        |suf AS (SELECT i, substr(s.txt, CAST(i AS INT) + 1) AS suf
        | FROM range(2000) t(i), s)
        |SELECT CAST(row_number() OVER (ORDER BY suf) - 1 AS BIGINT) AS pos,
        | CAST(i AS BIGINT) AS suffix
        |FROM suf ORDER BY pos""".stripMargin,
    "q_percentiles" ->
      """WITH t AS (SELECT CAST(round(o_totalprice*100, 0) AS BIGINT) AS cents,
        |  row_number() OVER (ORDER BY round(o_totalprice*100, 0)) - 1 AS rn
        | FROM orders),
        |n AS (SELECT count(*) AS c FROM orders),
        |ps AS (SELECT unnest([1, 25, 50, 75, 99]) AS p)
        |SELECT CAST(ps.p AS BIGINT) AS p, t.cents AS value
        |FROM ps CROSS JOIN n JOIN t ON t.rn = ((n.c - 1) * ps.p) // 100
        |ORDER BY p""".stripMargin,
    "q_bfs" ->
      """WITH RECURSIVE e AS (
        | SELECT i AS src, (2*i) % 200 AS dst FROM range(200) t(i)
        | UNION ALL
        | SELECT i, (2*i + 1) % 200 FROM range(200) t(i)),
        |walk(node, dist) AS (
        | SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        | UNION
        | SELECT e.dst, w.dist + 1 FROM walk w JOIN e ON e.src = w.node
        | WHERE w.dist < 15)
        |SELECT node, min(dist) AS dist FROM walk GROUP BY 1 ORDER BY node""".stripMargin,
    // full-batch GD unrolled: i_t = weights after t steps (b, wa, wb);
    // gradient = Σ (σ(w·x) − y)·x / n, lr = 0.5 — exactly
    // Examples.logisticRegression
    "q_logreg" ->
      """WITH p AS (SELECT i AS id, CAST(i % 2 AS DOUBLE) AS y,
        |  CAST((i % 10) + (i % 2)*12 AS DOUBLE) AS x1,
        |  CAST(((i // 2) % 7) + (i % 2)*9 AS DOUBLE) AS x2
        | FROM range(300) t(i)),
        |i0 AS (SELECT 0.0::DOUBLE AS b, 0.0::DOUBLE AS wa, 0.0::DOUBLE AS wb),
        |g1 AS (SELECT sum(e) AS g0, sum(e*x1) AS ga, sum(e*x2) AS gb FROM (
        |  SELECT (1/(1 + exp(-(i0.b + i0.wa*p.x1 + i0.wb*p.x2))) - p.y) AS e,
        |   p.x1, p.x2 FROM p CROSS JOIN i0)),
        |i1 AS (SELECT i0.b - 0.5*g1.g0/300 AS b, i0.wa - 0.5*g1.ga/300 AS wa,
        |  i0.wb - 0.5*g1.gb/300 AS wb FROM i0 CROSS JOIN g1),
        |g2 AS (SELECT sum(e) AS g0, sum(e*x1) AS ga, sum(e*x2) AS gb FROM (
        |  SELECT (1/(1 + exp(-(i1.b + i1.wa*p.x1 + i1.wb*p.x2))) - p.y) AS e,
        |   p.x1, p.x2 FROM p CROSS JOIN i1)),
        |i2 AS (SELECT i1.b - 0.5*g2.g0/300 AS b, i1.wa - 0.5*g2.ga/300 AS wa,
        |  i1.wb - 0.5*g2.gb/300 AS wb FROM i1 CROSS JOIN g2),
        |g3 AS (SELECT sum(e) AS g0, sum(e*x1) AS ga, sum(e*x2) AS gb FROM (
        |  SELECT (1/(1 + exp(-(i2.b + i2.wa*p.x1 + i2.wb*p.x2))) - p.y) AS e,
        |   p.x1, p.x2 FROM p CROSS JOIN i2)),
        |i3 AS (SELECT i2.b - 0.5*g3.g0/300 AS b, i2.wa - 0.5*g3.ga/300 AS wa,
        |  i2.wb - 0.5*g3.gb/300 AS wb FROM i2 CROSS JOIN g3)
        |SELECT p.id, CAST(CASE WHEN i3.b + i3.wa*p.x1 + i3.wb*p.x2 > 0
        |  THEN 1 ELSE 0 END AS BIGINT) AS pred
        |FROM p CROSS JOIN i3 ORDER BY id""".stripMargin,
    // SGD unrolled like q_logreg, with step t's gradient over the
    // (id + t) % 10 = 0 slice and normalized by the batch count
    "q_sgd" ->
      """WITH p AS (SELECT i AS id, CAST(i % 2 AS DOUBLE) AS y,
        |  CAST((i % 10) + (i % 2)*12 AS DOUBLE) AS x1,
        |  CAST(((i // 2) % 7) + (i % 2)*9 AS DOUBLE) AS x2
        | FROM range(300) t(i)),
        |i0 AS (SELECT 0.0::DOUBLE AS b, 0.0::DOUBLE AS wa, 0.0::DOUBLE AS wb),
        |g1 AS (SELECT sum(e) AS g0, sum(e*x1) AS ga, sum(e*x2) AS gb,
        |  count(*) AS bn FROM (
        |  SELECT (1/(1 + exp(-(i0.b + i0.wa*p.x1 + i0.wb*p.x2))) - p.y) AS e,
        |   p.x1, p.x2 FROM p CROSS JOIN i0 WHERE (p.id + 0) % 10 = 0)),
        |i1 AS (SELECT i0.b - 0.5*g1.g0/g1.bn AS b, i0.wa - 0.5*g1.ga/g1.bn AS wa,
        |  i0.wb - 0.5*g1.gb/g1.bn AS wb FROM i0 CROSS JOIN g1),
        |g2 AS (SELECT sum(e) AS g0, sum(e*x1) AS ga, sum(e*x2) AS gb,
        |  count(*) AS bn FROM (
        |  SELECT (1/(1 + exp(-(i1.b + i1.wa*p.x1 + i1.wb*p.x2))) - p.y) AS e,
        |   p.x1, p.x2 FROM p CROSS JOIN i1 WHERE (p.id + 1) % 10 = 0)),
        |i2 AS (SELECT i1.b - 0.5*g2.g0/g2.bn AS b, i1.wa - 0.5*g2.ga/g2.bn AS wa,
        |  i1.wb - 0.5*g2.gb/g2.bn AS wb FROM i1 CROSS JOIN g2),
        |g3 AS (SELECT sum(e) AS g0, sum(e*x1) AS ga, sum(e*x2) AS gb,
        |  count(*) AS bn FROM (
        |  SELECT (1/(1 + exp(-(i2.b + i2.wa*p.x1 + i2.wb*p.x2))) - p.y) AS e,
        |   p.x1, p.x2 FROM p CROSS JOIN i2 WHERE (p.id + 2) % 10 = 0)),
        |i3 AS (SELECT i2.b - 0.5*g3.g0/g3.bn AS b, i2.wa - 0.5*g3.ga/g3.bn AS wa,
        |  i2.wb - 0.5*g3.gb/g3.bn AS wb FROM i2 CROSS JOIN g3)
        |SELECT p.id, CAST(CASE WHEN i3.b + i3.wa*p.x1 + i3.wb*p.x2 > 0
        |  THEN 1 ELSE 0 END AS BIGINT) AS pred
        |FROM p CROSS JOIN i3 ORDER BY id""".stripMargin,
    // Lloyd's unrolled: c0 = ids 0..2; assign via row_number over squared
    // distance (lowest cid on the impossible tie); update via exact
    // sum/count. Two iterations, then the final assignment.
    "q_kmeans" ->
      """WITH p AS (SELECT i AS id,
        |  CAST((i % 3) * 100 + (i // 3) % 10 AS DOUBLE) AS x,
        |  CAST(i // 30 AS DOUBLE) AS y FROM range(300) t(i)),
        |c0 AS (SELECT id AS cid, x AS cx, y AS cy FROM p WHERE id < 3),
        |a0 AS (SELECT id, cid FROM (
        |  SELECT p.id, c0.cid, row_number() OVER (PARTITION BY p.id
        |   ORDER BY (p.x-c0.cx)*(p.x-c0.cx)+(p.y-c0.cy)*(p.y-c0.cy), c0.cid) AS rn
        |  FROM p CROSS JOIN c0) WHERE rn = 1),
        |c1 AS (SELECT a0.cid, sum(p.x)/count(*) AS cx, sum(p.y)/count(*) AS cy
        | FROM a0 JOIN p USING (id) GROUP BY 1),
        |a1 AS (SELECT id, cid FROM (
        |  SELECT p.id, c1.cid, row_number() OVER (PARTITION BY p.id
        |   ORDER BY (p.x-c1.cx)*(p.x-c1.cx)+(p.y-c1.cy)*(p.y-c1.cy), c1.cid) AS rn
        |  FROM p CROSS JOIN c1) WHERE rn = 1),
        |c2 AS (SELECT a1.cid, sum(p.x)/count(*) AS cx, sum(p.y)/count(*) AS cy
        | FROM a1 JOIN p USING (id) GROUP BY 1),
        |a2 AS (SELECT id, cid FROM (
        |  SELECT p.id, c2.cid, row_number() OVER (PARTITION BY p.id
        |   ORDER BY (p.x-c2.cx)*(p.x-c2.cx)+(p.y-c2.cy)*(p.y-c2.cy), c2.cid) AS rn
        |  FROM p CROSS JOIN c2) WHERE rn = 1)
        |SELECT id, CAST(cid AS INTEGER) AS cluster FROM a2 ORDER BY id""".stripMargin,
    "q_select" ->
      """WITH t AS (SELECT CAST(round(o_totalprice*100, 0) AS BIGINT) AS cents,
        |  row_number() OVER (ORDER BY round(o_totalprice*100, 0)) - 1 AS rn
        | FROM orders),
        |n AS (SELECT count(*) AS c FROM orders)
        |SELECT CAST(rn AS BIGINT) AS rank, cents AS value FROM t, n
        |WHERE rn IN (0, c // 4, c // 2, (3 * c) // 4, c - 1)
        |ORDER BY rank""".stripMargin,
    // window starting at i covers [i, j] with j = min(i+2, 999); the sum of
    // consecutive integers (i+j)(j-i+1)/2 is exact in BIGINT
    "q_window_partial" ->
      """SELECT CAST(i AS BIGINT) AS idx,
        | CAST(least(1000 - i, 3) AS BIGINT) AS n,
        | CAST((i + least(i + 2, 999)) * (least(i + 2, 999) - i + 1) // 2 AS BIGINT) AS s
        |FROM range(1000) t(i) ORDER BY idx""".stripMargin,
    "q_zip_pad" ->
      """SELECT CAST(CASE WHEN i < 1000 THEN i ELSE -1 END AS BIGINT) AS a,
        | CAST(i AS BIGINT) AS b
        |FROM range(1500) t(i) ORDER BY b""".stripMargin,
    "q_zip_all" ->
      """SELECT CAST(i AS BIGINT) AS idx, CAST(i + 2*i + i % 7 AS BIGINT) AS s
        |FROM range(900) t(i) ORDER BY idx""".stripMargin,
    "q_zip_local" ->
      """SELECT CAST(i AS BIGINT) AS i, CAST(i * i AS BIGINT) AS sq
        |FROM range(10000) t(i) ORDER BY i""".stripMargin,
    "q_zip3" ->
      """SELECT CAST(i AS BIGINT) AS i, CAST(i AS DOUBLE) / 2 AS half,
        | 's' || CAST(i % 10 AS VARCHAR) AS tag
        |FROM range(900) t(i) ORDER BY i""".stripMargin,
    "q_zip4h" ->
      """SELECT CAST(i AS BIGINT) AS idx, CAST(i AS BIGINT) AS a,
        | CAST(i AS DOUBLE) / 2 AS b, 's' || CAST(i % 10 AS VARCHAR) AS c,
        | CAST(i % 7 AS BIGINT) AS e
        |FROM range(900) t(i) ORDER BY idx""".stripMargin,
    "q_zip_window3" ->
      """SELECT CAST(j AS BIGINT) AS block, CAST(29*j + 10 AS BIGINT) AS s
        |FROM range(300) t(j) ORDER BY block""".stripMargin,
    "q_zip_window3h" ->
      """SELECT CAST(j AS BIGINT) AS block, CAST(4*j+1 AS BIGINT) AS sa,
        | CAST(9*j+3 AS DOUBLE)/2 AS sb,
        | 's' || CAST((4*j)%10 AS VARCHAR) || 's' || CAST((4*j+1)%10 AS VARCHAR)
        |   || 's' || CAST((4*j+2)%10 AS VARCHAR)
        |   || 's' || CAST((4*j+3)%10 AS VARCHAR) AS tags
        |FROM range(300) t(j) ORDER BY block""".stripMargin,
    "q_flat_window" ->
      """SELECT CAST(i AS BIGINT) AS first_idx, CAST(v AS BIGINT) AS v FROM (
        | SELECT i, i AS v FROM range(999) t(i)
        | UNION ALL
        | SELECT i, i + 1 AS v FROM range(999) t(i))
        |ORDER BY first_idx, v""".stripMargin,
    "q_equal_to_dia" ->
      """SELECT n_nationkey, n_name FROM nation
        |WHERE n_nationkey % 2 = 0 AND n_nationkey < 25
        |ORDER BY n_nationkey""".stripMargin,
    "q_write_read_lines" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_write_lines_one" ->
      "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey",
    "q_concat_to_dia" ->
      """SELECT n_nationkey, n_name FROM nation
        |WHERE n_nationkey % 2 = 1 AND n_nationkey < 25
        |ORDER BY n_nationkey""".stripMargin,
    "q_distribute" ->
      """SELECT r_regionkey, r_name FROM region
        |WHERE r_regionkey IN (0, 2, 4) ORDER BY r_regionkey""".stripMargin,
    "q_cache" ->
      "SELECT count(*) AS n, sum(l_quantity) AS sum_qty FROM lineitem",
    "q_allgather" ->
      """SELECT count(*) AS n,
        | CAST(sum(n_nationkey) AS BIGINT) AS key_sum FROM nation""".stripMargin,
    "q_execute" -> "SELECT count(*) AS n FROM orders",
    "q_triangles" ->
      """WITH e AS (
        | SELECT i AS src, i + d AS dst
        | FROM range(10000) t(i), range(1, 4) u(d) WHERE i + d < 10000)
        |SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |FROM e ab JOIN e bc ON ab.dst = bc.src
        | JOIN e ac ON ac.src = ab.src AND ac.dst = bc.dst""".stripMargin,
    // PageRank unrolled: r_{t+1}(v) = 0.15/n + 0.85·dm_t/n + 0.85·Σ r_t(u)/deg(u)
    // over in-edges u→v, dm_t = Σ ranks of nodes with no out-edges — the
    // exact formulation of Examples.pageRank, 3 fixed iterations.
    "q_pagerank" ->
      """WITH e AS (
        | SELECT i AS src, i + d AS dst
        | FROM range(1000) t(i), range(1, 4) u(d) WHERE i + d < 1000),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |r0 AS (SELECT node, 1.0::DOUBLE/1000 AS rank FROM nodes),
        |r1 AS (
        | SELECT n.node, 0.15::DOUBLE/1000
        |  + 0.85::DOUBLE*(SELECT coalesce(sum(r.rank), 0) FROM r0 r
        |          WHERE r.node NOT IN (SELECT src FROM deg))/1000
        |  + 0.85::DOUBLE*coalesce(c.c, 0) AS rank
        | FROM nodes n LEFT JOIN (
        |  SELECT e.dst AS node, sum(r.rank / d.deg) AS c
        |  FROM e JOIN r0 r ON r.node = e.src JOIN deg d ON d.src = e.src
        |  GROUP BY 1) c ON c.node = n.node),
        |r2 AS (
        | SELECT n.node, 0.15::DOUBLE/1000
        |  + 0.85::DOUBLE*(SELECT coalesce(sum(r.rank), 0) FROM r1 r
        |          WHERE r.node NOT IN (SELECT src FROM deg))/1000
        |  + 0.85::DOUBLE*coalesce(c.c, 0) AS rank
        | FROM nodes n LEFT JOIN (
        |  SELECT e.dst AS node, sum(r.rank / d.deg) AS c
        |  FROM e JOIN r1 r ON r.node = e.src JOIN deg d ON d.src = e.src
        |  GROUP BY 1) c ON c.node = n.node),
        |r3 AS (
        | SELECT n.node, 0.15::DOUBLE/1000
        |  + 0.85::DOUBLE*(SELECT coalesce(sum(r.rank), 0) FROM r2 r
        |          WHERE r.node NOT IN (SELECT src FROM deg))/1000
        |  + 0.85::DOUBLE*coalesce(c.c, 0) AS rank
        | FROM nodes n LEFT JOIN (
        |  SELECT e.dst AS node, sum(r.rank / d.deg) AS c
        |  FROM e JOIN r2 r ON r.node = e.src JOIN deg d ON d.src = e.src
        |  GROUP BY 1) c ON c.node = n.node)
        |SELECT node, rank FROM (
        | SELECT CAST(node AS BIGINT) AS node, round(rank, 8) AS rank FROM r3)
        |ORDER BY rank DESC, node LIMIT 20""".stripMargin
  )
}
