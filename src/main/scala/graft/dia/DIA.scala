package graft.dia

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{BoundaryExchange, Positional}

import scala.collection.immutable.ArraySeq
import scala.reflect.ClassTag

/** Typed facade over `Dataset[T]` giving a 1:1 named equivalent for every
  * operator of the reference's DIA — Distributed Immutable Array
  * (thrill/api/dia.hpp:127-141) — so a user of the reference can port a
  * pipeline mechanically. Each method delegates to the idiomatic Spark
  * construct (SURVEY.md §1.4 mapping table); nothing here re-implements an
  * execution engine.
  *
  * Order semantics: thrill DIAs are globally ordered. Here, order-dependent
  * operators (zip/window/prefixSum/concat/zipWithIndex) operate on the
  * dataset's current partition order — establish it with `sortBy` first,
  * exactly as the reference requires a deliberate `Sort` for meaningful
  * positional work on unordered inputs. Driver-side traffic in those
  * operators is O(#partitions), mirroring thrill's flow-control collectives
  * (thrill/net/flow_control_channel.hpp:236-405). The positional methods
  * are thin wrappers over the ordered kernels of
  * [[graft.operators.Positional]] (metadata pass, scan, aligned scatter),
  * which the DataFrame ops share.
  */
class DIA[T](val ds: Dataset[T])(implicit val enc: Encoder[T]) extends Serializable {

  private implicit val longEnc: Encoder[Long] = Encoders.scalaLong

  private implicit def ct: ClassTag[T] = enc.clsTag
  private def spark: SparkSession = ds.sparkSession

  /** Runs an eager step of a DIA operator as jobs named `dia:<phase>`.
    * A step's `ds.rdd` goes inside: with AQE on, it runs the input plan's
    * exchanges as jobs.
    */
  private def named[A](phase: String)(body: => A): A =
    graft.operators.Jobs.named(spark.sparkContext, s"dia:$phase")(body)

  // ===== LOps (thrill/api/dia.hpp:358-482) — narrow, fused by Catalyst ====

  def map[U: Encoder](f: T => U): DIA[U] = new DIA(ds.map(f))

  def filter(p: T => Boolean): DIA[T] = new DIA(ds.filter(p))

  def flatMap[U: Encoder](f: T => IterableOnce[U]): DIA[U] =
    new DIA(ds.flatMap(f))

  /** BernoulliSample (thrill/api/bernoulli_sample.hpp:27-113). */
  def bernoulliSample(p: Double, seed: Long = 42L): DIA[T] =
    new DIA(ds.sample(withReplacement = false, p, seed))

  /** Union (thrill/api/union.hpp:53-366): bag union, no order guarantee. */
  def union(other: DIA[T]): DIA[T] = new DIA(ds.union(other.ds))

  /** Collapse (thrill/api/collapse.hpp:29-168) is a C++ type-erasure point;
    * Spark plans are first-class values, so it is the identity.
    */
  def collapse(): DIA[T] = this

  /** Cache (thrill/api/cache.hpp:32-114). */
  def cache(): DIA[T] = { ds.persist(); this }

  /** Keep/Dispose (thrill/api/dia.hpp:295-335) — consume-counter management;
    * Spark equivalent is persist/unpersist.
    */
  def keep(): DIA[T] = this
  def dispose(): Unit = { ds.unpersist(); () }

  /** Rebalance (thrill/api/rebalance.hpp:30-133): even partitions, keep
    * global order. The index space is dense and its size known, so the
    * one-input aligned scatter ([[aligned]]) computes the range split
    * arithmetically — exactly even partitions, one shuffle, no sortBy
    * sampling pass.
    */
  def rebalance(numPartitions: Int): DIA[T] =
    aligned(Nil, Seq(1), None, numPartitions)(_(0)(0).asInstanceOf[T])

  // ===== Aggregations (SURVEY.md §2.3) ====================================

  /** ReduceByKey (thrill/api/reduce_by_key.hpp:64-239): one reduced value
    * per key; Catalyst plans partial+final aggregation around one shuffle.
    */
  def reduceByKey[K: Encoder](key: T => K)(f: (T, T) => T): DIA[T] = {
    implicit val tupleEnc: Encoder[(K, T)] = Encoders.tuple(implicitly[Encoder[K]], enc)
    new DIA(ds.groupByKey(key).reduceGroups(f).map(_._2))
  }

  /** GroupByKey (thrill/api/group_by_key.hpp:47-435): UDF over the full
    * iterator of each key's values (non-associative allowed).
    */
  def groupByKey[K: Encoder, U: Encoder](key: T => K)(f: (K, Iterator[T]) => U): DIA[U] =
    new DIA(ds.groupByKey(key).mapGroups(f))

  /** ReduceToIndex (thrill/api/reduce_to_index.hpp:60-391): key IS a dense
    * index in [0, size); result is a dense, index-ordered DIA padded with
    * `neutral`. Aggregate + left join against range + coalesce, then order
    * by index.
    */
  def reduceToIndex(key: T => Long, size: Long, neutral: T)(f: (T, T) => T): DIA[T] = {
    implicit val kvEnc: Encoder[(Long, T)] = Encoders.tuple(Encoders.scalaLong, enc)
    val reduced = ds.groupByKey(key).reduceGroups(f)
      .map { case (k, v) => (k, v) }
    val idx = spark.range(size)
    val joined = idx.joinWith(reduced, idx("id") === reduced("_1"), "left_outer")
    val dense = joined.map { case (i, kv) =>
      (i.longValue(), if (kv == null) neutral else kv._2)
    }
    new DIA(dense.orderBy(col("_1")).map(_._2))
  }

  /** GroupToIndex (thrill/api/group_to_index.hpp:42-291). */
  def groupToIndex[U: Encoder](key: T => Long, size: Long, neutral: U)(
      f: (Long, Iterator[T]) => U): DIA[U] = {
    implicit val kvEnc: Encoder[(Long, U)] = Encoders.tuple(Encoders.scalaLong, implicitly[Encoder[U]])
    val grouped = ds.groupByKey(key).mapGroups { (k, it) => (k, f(k, it)) }
    val idx = spark.range(size)
    val joined = idx.joinWith(grouped, idx("id") === grouped("_1"), "left_outer")
    val dense = joined.map { case (i, kv) =>
      (i.longValue(), if (kv == null) neutral else kv._2)
    }
    new DIA(dense.orderBy(col("_1")).map(_._2))
  }

  /** HyperLogLog action (thrill/api/hyperloglog.hpp:26-79) → Spark HLL++. */
  def hyperloglog(rsd: Double = 0.05): Long = named("hyperloglog") {
    ds.toDF().select(approx_count_distinct(struct(ds.toDF().columns.map(col): _*), rsd))
      .head().getLong(0)
  }

  // ===== Join (thrill/api/inner_join.hpp:61-827) ==========================

  /** InnerJoin: equi-join via key extractors. Catalyst picks the physical
    * strategy (broadcast/SMJ/shuffled-hash) — the reference hand-builds a
    * shuffled sort-merge (inner_join.hpp:226-296).
    */
  def innerJoin[U, K: Encoder, R: Encoder](other: DIA[U], keyA: T => K, keyB: U => K)(
      f: (T, U) => R): DIA[R] = {
    implicit val uEnc: Encoder[U] = other.enc
    implicit val ktEnc: Encoder[(K, T)] = Encoders.tuple(implicitly[Encoder[K]], enc)
    implicit val kuEnc: Encoder[(K, U)] = Encoders.tuple(implicitly[Encoder[K]], uEnc)
    val l = ds.map(t => (keyA(t), t))
    val r = other.ds.map(u => (keyB(u), u))
    new DIA(l.joinWith(r, l("_1") === r("_1"), "inner")
      .map { case (lt, rt) => f(lt._2, rt._2) })
  }

  // ===== Sort / merge (SURVEY.md §2.5) ====================================

  /** Sort (thrill/api/sort.hpp:64-944): sample-based range partition +
    * per-partition external sort ≡ Spark's orderBy; opaque comparators go
    * through RDD sortBy on an extracted key.
    */
  def sortBy[K: Ordering: ClassTag](key: T => K, numPartitions: Int = 0): DIA[T] =
    // the range partitioner samples the input in a job of its own
    named("sort_sample") {
      val n = if (numPartitions > 0) numPartitions else ds.rdd.getNumPartitions
      new DIA(spark.createDataset(ds.rdd.sortBy(key, ascending = true, n)))
    }

  /** SortStable (thrill/api/sort.hpp:82-114): stability via index tiebreak. */
  def sortStableBy[K: Ordering: ClassTag](key: T => K): DIA[T] =
    // the index counts the partitions and the range partitioner samples
    // its cache, each in a job of its own
    named("sort_stable") {
      val indexed = withIndex("sort_stable")((t, i) => (t, i))
      new DIA(spark.createDataset(
        indexed.sortBy { case (t, i) => (key(t), i) }.map(_._1)))
    }

  /** Merge of sorted DIAs (thrill/api/merge.hpp:43-66) WITHOUT re-sorting —
    * the reference's defining multi-sequence-selection property. The
    * binary form of the k-ary [[merge]].
    */
  def merge[K: Ordering: ClassTag](other: DIA[T])(key: T => K): DIA[T] =
    merge(Seq(other))(key)

  /** k-ary Merge — the reference's `Merge(less, dia0, dias...)` is variadic
    * (thrill/api/merge.hpp:674). Every input is keyed by `key` and merged
    * by [[graft.operators.RunMerge.mergeSorted]]: one range scatter without
    * a sort step, a spill-safe run merge per reducer (heap O(budget)
    * however skewed a partition, as the reference buffers spillable
    * per-worker Files, thrill/api/sort.hpp:672-694), and a lazy fold of
    * two-way head merges across inputs.
    */
  def merge[K: Ordering: ClassTag](others: Seq[DIA[T]])(key: T => K): DIA[T] = {
    require(others.nonEmpty, "k-ary merge needs at least two inputs")
    val keyed = named("merge_inputs")((this +: others).map(_.ds.rdd.map(t => (key(t), t))))
    val merged = graft.operators.RunMerge
      .mergeSorted(keyed, keyed.map(_.getNumPartitions).max)
    new DIA(spark.createDataset(merged.map(_._2)))
  }

  // ===== Positional ops (SURVEY.md §2.6) ==================================

  /** ZipWithIndex (thrill/api/zip_with_index.hpp:38-179). */
  def zipWithIndex[U: Encoder](f: (T, Long) => U): DIA[U] =
    new DIA(spark.createDataset(withIndex("zip_with_index")(f)(implicitly[Encoder[U]].clsTag)))

  /** Every element through `f` with its global index: the
    * [[graft.operators.Positional.withIndex]] kernel, its jobs named
    * `dia:<phase>`.
    */
  private def withIndex[U: ClassTag](phase: String)(f: (T, Long) => U): RDD[U] =
    Positional.withIndex(spark, s"dia:$phase")(named(phase)(ds.rdd))(f)

  /** Zip by global index (thrill/api/zip.hpp:77-724). CutTag semantics:
    * truncates to the shorter input. One count job and one shuffle per
    * side through the aligned-scatter kernel ([[aligned]]): partition i of
    * each side holds exactly the same index interval and the result is a
    * partition-local 1:1 iterator zip — no join, no global re-sort. The
    * inputs are cached by the count job, which the shuffle reads, and
    * released once the consuming action ends.
    */
  def zip[U, R: Encoder](other: DIA[U])(f: (T, U) => R): DIA[R] =
    aligned(Seq(other), Seq(1, 1), None) { b =>
      f(b(0)(0).asInstanceOf[T], b(1)(0).asInstanceOf[U])
    }

  /** Zip with PadTag semantics (thrill/api/zip.hpp:293-335): the result has
    * the length of the LONGER input; the exhausted side is padded with the
    * given value. Same single-shuffle-per-side plan as [[zip]] — within a
    * partition both sides cover the same index interval from its start, so
    * the shorter side is a prefix and padding is the iterator remainder.
    */
  def zipPad[U, R: Encoder](other: DIA[U], padThis: T, padOther: U)(
      f: (T, U) => R): DIA[R] =
    aligned(Seq(other), Seq(1, 1), Some(Seq(padThis, padOther))) { b =>
      f(b(0)(0).asInstanceOf[T], b(1)(0).asInstanceOf[U])
    }

  /** Zip with NoRebalanceTag (thrill/api/zip.hpp:142-156): ZERO-shuffle
    * worker-local zip. Precondition, exactly as the reference documents
    * for the tag: both DIAs are identically distributed — same partition
    * count (checked by zipPartitions) and same per-partition sizes
    * (checked element-wise at runtime, failing loudly rather than
    * silently misaligning). Holds e.g. when both sides derive from one
    * source through narrow ops. The cheapest zip: no alignment pass, no
    * shuffle, no index materialization.
    */
  def zipLocal[U, R: Encoder](other: DIA[U])(f: (T, U) => R): DIA[R] = {
    implicit val uct: ClassTag[U] = other.enc.clsTag
    implicit val rct: ClassTag[R] = implicitly[Encoder[R]].clsTag
    val zipped = named("zip_local_inputs")(ds.rdd.zipPartitions(other.ds.rdd) { (ia, ib) =>
      new Iterator[R] {
        def hasNext: Boolean = {
          val a = ia.hasNext; val b = ib.hasNext
          require(a == b, "zipLocal(NoRebalance): per-partition sizes " +
            "differ — use zip() (alignment shuffle) for unaligned inputs")
          a
        }
        def next(): R = f(ia.next(), ib.next())
      }
    })
    new DIA(spark.createDataset(zipped)(implicitly[Encoder[R]]))
  }

  /** Heterogeneous 3-ary Zip — the reference's variadic zip takes
    * differently-typed DIAs (thrill/api/zip.hpp template parameter pack);
    * [[zipAll]] covers homogeneous k, this covers the mixed-type arity-3
    * case directly (higher mixed arities nest). Same one-shuffle-per-input
    * plan as [[zip]].
    */
  def zip3[U, V, R: Encoder](db: DIA[U], dc: DIA[V])(f: (T, U, V) => R): DIA[R] =
    aligned(Seq(db, dc), Seq(1, 1, 1), None) { b =>
      f(b(0)(0).asInstanceOf[T], b(1)(0).asInstanceOf[U], b(2)(0).asInstanceOf[V])
    }

  /** k-ary Zip (thrill/api/zip.hpp takes `dias...`), homogeneous element
    * type, CutTag semantics. One shuffle per input, then the k aligned
    * iterators are zipped partition-locally (no joins).
    */
  def zipAll[R: Encoder](others: Seq[DIA[T]])(f: Seq[T] => R): DIA[R] =
    aligned(others, Seq.fill(others.length + 1)(1), None) { b =>
      f(DIA.elems[T](b.map(_(0))))
    }

  /** ZipWindow (thrill/api/zip_window.hpp:175-865): zip two DIAs in blocks
    * of (wThis, wOther) elements — block j of each input feeds one fn call.
    * CutTag semantics: stops at the shorter *full*-block sequence. One
    * shuffle per side: rows keep their global index as key, every row of
    * block j lands in the partition of block j, and the within-partition
    * index sort delivers each block contiguously and offset-ordered, so
    * blocks assemble streaming. The shuffle payload is (index, element),
    * never a materialized block.
    */
  def zipWindow[U, R: Encoder](other: DIA[U], wThis: Int, wOther: Int)(
      f: (Seq[T], Seq[U]) => R): DIA[R] =
    aligned(Seq(other), Seq(wThis, wOther), None) { b =>
      f(DIA.elems[T](b(0)), DIA.elems[U](b(1)))
    }

  /** Heterogeneous 3-ary ZipWindow — the reference's variadic zip_window
    * takes differently-typed DIAs (thrill/api/zip_window.hpp template
    * parameter pack); [[zipWindowAll]] covers homogeneous k, this covers
    * the mixed-type arity-3 case directly (higher mixed arities nest).
    * Block j is `w` consecutive elements of each input at that input's own
    * window size; only full blocks of every input participate (CutTag).
    * Same one-shuffle-per-input plan as [[zipWindow]].
    */
  def zipWindow3[U, V, R: Encoder](db: DIA[U], dc: DIA[V],
      wThis: Int, wB: Int, wC: Int)(
      f: (Seq[T], Seq[U], Seq[V]) => R): DIA[R] =
    aligned(Seq(db, dc), Seq(wThis, wB, wC), None) { b =>
      f(DIA.elems[T](b(0)), DIA.elems[U](b(1)), DIA.elems[V](b(2)))
    }

  /** k-ary ZipWindow (thrill/api/zip_window.hpp takes `dias...`),
    * homogeneous element type: block j is (sizes(i)) consecutive elements
    * of input i; only full blocks of every input participate (CutTag).
    * Same one-shuffle-per-input plan as [[zipWindow]].
    */
  def zipWindowAll[R: Encoder](others: Seq[DIA[T]], sizes: Seq[Int])(
      f: Seq[Seq[T]] => R): DIA[R] = {
    require(sizes.length == others.length + 1,
      s"zipWindowAll: ${others.length + 1} inputs but ${sizes.length} window sizes")
    aligned(others, sizes, None) { b =>
      f(ArraySeq.unsafeWrapArray(b).map(DIA.elems[T]))
    }
  }

  /** [[graft.operators.Positional.alignedBlocks]] over this DIA followed
    * by `others`, as a DIA: the kernel under every shuffling zip and
    * [[rebalance]].
    */
  private def aligned[R: Encoder](others: Seq[DIA[_]], windows: Seq[Int],
      pads: Option[Seq[Any]], numPartitions: Int = 0)(
      emit: Array[Array[Any]] => R): DIA[R] =
    new DIA(spark.createDataset(Positional.alignedBlocks(spark, "dia:align_counts",
      (this +: others).map(d => () => d.ds.rdd), windows, pads, numPartitions)(
      (_, b) => emit(b))(implicitly[Encoder[R]].clsTag)))

  /** PrefixSum (thrill/api/prefix_sum.hpp:28-171): two-pass — per-partition
    * fold, an ExPrefixSum of the ≤#partitions partials, re-scan
    * ([[graft.operators.Positional.scan]]).
    */
  def prefixSum(f: (T, T) => T): DIA[T] = new DIA(spark.createDataset(
    Positional.scan(spark, "dia:scan_partials")(ds.rdd)(identity[T], None, inclusive = true)(f)(
      (_, v) => v)))

  /** ExPrefixSum (thrill/api/ex_prefix_sum.hpp:24-61): exclusive scan —
    * out(0) = initial, out(i) = f(out(i-1), x(i-1)). Same two-pass shape
    * as prefixSum.
    */
  def exPrefixSum(initial: T)(f: (T, T) => T): DIA[T] = new DIA(spark.createDataset(
    Positional.scan(spark, "dia:scan_partials")(ds.rdd)(identity[T], Some(initial),
      inclusive = false)(f)((_, v) => v)))

  /** Sliding Window (thrill/api/window.hpp:32-571): fn over every k
    * consecutive elements; partitions fetch their k-1 predecessor rows
    * (mirrors net.Predecessor, window.hpp:170-186). Emits one result per
    * full window, keyed by the index of the window's first element.
    */
  def window[U: Encoder](k: Int)(f: (Long, Seq[T]) => U): DIA[U] =
    windowImpl(k, f, None)

  /** Sliding Window with a partial-window emitter
    * (thrill/api/window.hpp PartialWindowFunction, decls
    * dia.hpp:1884-1936): after the full windows, the trailing suffixes of
    * the last min(n, k-1) elements are emitted through `partial` with
    * increasing first-element rank — exactly the reference's last-worker
    * drain loop (window.hpp:225-236).
    */
  def windowPartial[U: Encoder](k: Int)(f: (Long, Seq[T]) => U)(
      partial: (Long, Seq[T]) => U): DIA[U] =
    windowImpl(k, f, Some(partial))

  private def windowImpl[U: Encoder](k: Int, f: (Long, Seq[T]) => U,
      partialFn: Option[(Long, Seq[T]) => U]): DIA[U] = {
    require(k >= 1, s"window size must be >= 1, got $k")
    val (rdd, counts) = Positional.summarize(spark, "dia:window_counts")(ds.rdd)(_.size.toLong)
    // peer-to-peer predecessor rows (net.Predecessor topology): the
    // driver folds only per-partition COUNTS; the <=k-1 boundary rows
    // per partition move executor-to-executor through a keyed shuffle
    val starts = Positional.starts(counts)
    val boundary = BoundaryExchange.predecessors(rdd, starts, k)
    val nParts = counts.length
    implicit val uct: ClassTag[U] = implicitly[Encoder[U]].clsTag
    val out = rdd.zipPartitions(boundary) { (it, bit) =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      // circular buffer of the last <=k elements: push is O(1) — no
      // shifting, the head index just advances. The O(k) copy happens
      // only at emission, where it is inherent — the user fn consumes
      // the whole window as a Seq. Mirrors the reference's RingBuffer
      // reuse (thrill/api/window.hpp:170-197).
      val buf = new Array[Any](k)
      var size = 0 // live values, < k until warm
      var head = 0 // slot of the oldest value
      def push(t: T): Unit =
        if (size == k) { buf(head) = t; head = (head + 1) % k }
        else { buf((head + size) % k) = t; size += 1 }
      def snapshot(): Seq[T] = {
        val a = new Array[Any](size)
        var i = 0
        while (i < size) { a(i) = buf((head + i) % k); i += 1 }
        ArraySeq.unsafeWrapArray(a)
          .asInstanceOf[Seq[T]]
      }
      bit.foreach(push)
      var globalIdx = starts(pid) - 1 // index of current element
      val full = it.flatMap { t =>
        globalIdx += 1
        push(t)
        if (size == k) Some(f(globalIdx - k + 1, snapshot())) else None
      }
      // trailing partial windows: suffixes of the global tail, emitted by
      // the last partition once `full` is drained (`++` is by-name, so
      // the buffer is read only after the main pass mutated it)
      def partials: Iterator[U] = partialFn match {
        case Some(pf) if pid == nParts - 1 =>
          val n = starts(nParts) // total element count
          val tail = snapshot().takeRight(math.min(size, k - 1))
          val start = n - tail.size
          tail.indices.iterator.map(i => pf(start + i, tail.drop(i)))
        case _ => Iterator.empty
      }
      full ++ partials
    }
    new DIA(spark.createDataset(out)(implicitly[Encoder[U]]))
  }

  /** FlatWindow (thrill/api/window.hpp FlatWindowNode). */
  def flatWindow[U: Encoder](k: Int)(f: (Long, Seq[T]) => IterableOnce[U]): DIA[U] = {
    implicit val seqEnc: Encoder[(Long, Seq[T])] = Encoders.kryo[(Long, Seq[T])]
    window(k) { (i, w) => (i, w) }.flatMap { case (i, w) => f(i, w) }
  }

  /** Disjoint/tumbling Window (thrill/api/window.hpp DisjointWindowNode):
    * fn over consecutive non-overlapping blocks of k (last block partial).
    */
  def windowDisjoint[U: Encoder](k: Int)(f: (Long, Seq[T]) => U): DIA[U] = {
    implicit val kvEnc: Encoder[(Long, Long, T)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, enc)
    // within-block offset carried for the same straddling-fragment reason
    // as zipWindow: mapGroups iterates values in unspecified order
    val indexed = spark.createDataset(
      withIndex("window_disjoint_index")((t, i) => (i / k, i % k, t)))
    new DIA(indexed.groupByKey(_._1).mapGroups { (b, it) =>
      f(b, it.toArray.sortBy(_._2).toSeq.map(_._3))
    })
  }

  /** Ordered Concat (thrill/api/concat.hpp:35-402): this-then-other. An
    * RDD union is structurally ordered — the result's partitions are this
    * DIA's partitions followed by the other's — which is exactly the
    * positional contract every operator here uses, so concatenation is
    * zero shuffles, zero passes (the reference likewise only renumbers,
    * concat.hpp:242-295; even the offset arithmetic disappears because
    * Spark partition order carries the position implicitly).
    */
  def concat(other: DIA[T]): DIA[T] =
    new DIA(spark.createDataset(named("concat_inputs")(ds.rdd.union(other.ds.rdd))))

  /** Exact-size uniform Sample without replacement
    * (thrill/api/sample.hpp:50-263). Fully distributed, the reference's
    * own construction: the driver draws only the per-partition ALLOCATION
    * via a sequential hypergeometric split
    * ([[graft.operators.Hypergeometric]] ≡
    * common/hypergeometric_distribution.hpp) — O(#partitions) driver
    * state at any k — and each partition then selects its quota of local
    * indices with Floyd's algorithm (O(quota) memory, seeded
    * deterministically per partition). Data never moves to the driver;
    * the result stays distributed.
    */
  def sample(k: Int, seed: Long = 42L): DIA[T] = {
    val (rdd, counts) = Positional.summarize(spark, "dia:sample_counts")(ds.rdd)(_.size.toLong)
    val total = counts.sum
    require(k <= total, s"sample($k) from $total elements")
    val quotas = counts.zip(graft.operators.Hypergeometric
      .split(new scala.util.Random(seed), counts, k.toLong))
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      val (n, quota) = quotas(pid)
      if (quota == 0L) Iterator.empty
      else {
        // Floyd's sampling: `quota` distinct locals out of n, O(quota)
        // memory, no O(n) shuffle of candidate indices
        val prng = new scala.util.Random(seed ^ (0x9E3779B97F4A7C15L * (pid + 1)))
        val sel = new java.util.HashSet[Long]()
        var j = n - quota
        while (j < n) {
          val t = math.floorMod(prng.nextLong(), j + 1)
          if (!sel.add(t)) sel.add(j)
          j += 1
        }
        val want = sel.toArray(new Array[java.lang.Long](sel.size))
          .map(_.longValue).sorted
        var wi = 0
        it.zipWithIndex.flatMap { case (t, i) =>
          if (wi < want.length && want(wi) == i.toLong) { wi += 1; Some(t) }
          else None
        }
      }
    }
    new DIA(spark.createDataset(out))
  }

  // ===== Actions (SURVEY.md §2.7) =========================================

  /** Size (thrill/api/size.hpp:28-110). */
  def size: Long = ds.count()

  /** AllGather (thrill/api/all_gather.hpp:28-161) — collect to driver;
    * Spark centralizes on the driver, the SPMD aspect disappears.
    */
  def allGather(): Seq[T] = ds.collect().toIndexedSeq

  /** Gather (thrill/api/gather.hpp:28-126). */
  def gather(): Seq[T] = allGather()

  /** Print (thrill/api/print.hpp:1-59). */
  def print(name: String): Unit = { println(s"== $name =="); ds.show(20, truncate = false) }

  /** AllReduce (thrill/api/all_reduce.hpp:28-228). */
  def allReduce(f: (T, T) => T): T = ds.reduce(f)

  /** Sum / Min / Max (thrill/api/{sum,min,max}.hpp). */
  def sum(implicit num: Numeric[T]): T = ds.reduce(num.plus)
  def min(implicit ord: Ordering[T]): T = ds.reduce(ord.min)
  def max(implicit ord: Ordering[T]): T = ds.reduce(ord.max)

  /** Execute (thrill/api/dia.hpp:332-343): force evaluation. */
  def execute(): DIA[T] = { ds.count(); this }

  /** WriteLines (thrill/api/write_lines.hpp:33-212). */
  def writeLines(path: String)(implicit ev: T <:< String): Unit =
    ds.map(ev(_))(Encoders.STRING).write.text(path)

  /** WriteLinesOne (thrill/api/write_lines_one.hpp:31-145): single output
    * file (the reference coordinates offsets via prefix sum; here a
    * coalesce(1) funnels through one task — same single-writer contract).
    */
  def writeLinesOne(path: String)(implicit ev: T <:< String): Unit =
    ds.map(ev(_))(Encoders.STRING).coalesce(1).write.text(path)

  /** WriteBinary (thrill/api/write_binary.hpp:36-219) → parquet is the
    * re-readable serialized form.
    */
  def writeBinary(path: String): Unit = ds.write.parquet(path)
}

/** Source factories (SURVEY.md §2.1). */
object DIA {

  def apply[T: Encoder](ds: Dataset[T]): DIA[T] = new DIA(ds)

  /** One aligned block as the user-facing Seq, without a copy. */
  private def elems[T](block: Array[Any]): Seq[T] =
    ArraySeq.unsafeWrapArray(block).asInstanceOf[Seq[T]]

  /** ReducePair (thrill/api/reduce_by_key.hpp:368-463): ReduceByKey
    * specialization for DIA[(K,V)] reducing only the value.
    */
  implicit class PairDIAOps[K, V](private val d: DIA[(K, V)]) extends AnyVal {
    def reducePair(f: (V, V) => V)(implicit kEnc: Encoder[K]): DIA[(K, V)] = {
      implicit val kvEnc: Encoder[(K, V)] = d.enc
      new DIA(d.ds.groupByKey(_._1)
        .reduceGroups((a, b) => (a._1, f(a._2, b._2)))
        .map(_._2))
    }
  }

  /** Generate (thrill/api/generate.hpp:36-139). `numSlices <= 0` uses the
    * session default parallelism; small generated inputs should pass an
    * explicit small slice count so downstream jobs don't pay a 32-task
    * launch per stage for a few thousand rows.
    */
  def generate[T: Encoder](spark: SparkSession, size: Long, numSlices: Int = 0)(
      f: Long => T): DIA[T] = {
    val base = if (numSlices > 0) spark.range(0L, size, 1L, numSlices)
               else spark.range(size)
    new DIA(base.map(r => f(r))(implicitly[Encoder[T]]))
  }

  /** ReadLines (thrill/api/read_lines.hpp:41-523). */
  def readLines(spark: SparkSession, glob: String): DIA[String] =
    new DIA(spark.read.textFile(glob))(Encoders.STRING)

  /** ReadBinary (thrill/api/read_binary.hpp:45-430) → parquet. */
  def readBinary[T: Encoder](spark: SparkSession, path: String): DIA[T] =
    new DIA(spark.read.parquet(path).as[T])

  /** EqualToDIA / ConcatToDIA / Distribute
    * (thrill/api/{equal_to_dia,concat_to_dia,distribute}.hpp): in Spark the
    * driver holds the seq; distribution differences between the three
    * disappear.
    */
  def equalToDIA[T: Encoder](spark: SparkSession, data: Seq[T]): DIA[T] =
    new DIA(spark.createDataset(data))
  def concatToDIA[T: Encoder](spark: SparkSession, data: Seq[T]): DIA[T] =
    equalToDIA(spark, data)
  def distribute[T: Encoder](spark: SparkSession, data: Seq[T]): DIA[T] =
    equalToDIA(spark, data)
}
