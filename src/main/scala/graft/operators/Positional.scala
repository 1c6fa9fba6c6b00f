package graft.operators

import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.Serializer
import org.apache.spark.sql.{DataFrame, GraftRowShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, GenericInternalRow,
  InterpretedOrdering, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.reflect.ClassTag

/** Order-indexed operators — the part of the reference surface Spark has no
  * declarative equivalent for (SURVEY.md §2.6) — and the kernels under
  * them. The reference exploits the DIA's stable global order
  * (thrill/api/dia.hpp:127-141); here order is the dataset's current
  * partition order (valid after a range-partitioned sort).
  *
  * Every order-dependent operator has the reference's shape: one
  * local-size collective, then at most one data exchange
  * (thrill/net/flow_control_channel.hpp:236-405, 644-653). One kernel per
  * job builds that shape, for `graft.dia.DIA` and for the DataFrame ops
  * below alike:
  *  - [[summarize]] is the collective: it caches the input, folds every
  *    partition to a summary in ONE job, and holds the cache for the
  *    consuming action;
  *  - [[withIndex]] is the global index on its counts, under zipWithIndex,
  *    the stable sort and the disjoint window;
  *  - [[scan]] is the two-pass prefix sum on its partials;
  *  - [[alignedBlocks]] is the aligned scatter under every shuffling zip,
  *    zipWindow and rebalance, keyed from its per-partition counts;
  *  - the sliding windows hand its counts to
  *    [[BoundaryExchange.predecessors]]; sample and concat use them
  *    as is.
  * The DataFrame ops read, cache and shuffle Catalyst's binary rows
  * ([[rowsOf]], [[IndexedRowSerializer]]) and build their output from
  * them, so no row is converted to an external `Row` and back.
  *
  * Scale posture: every driver-side collect here is O(#partitions) scalars
  * (one Long or one partial per partition), NOT O(rows) — the same volume
  * thrill moves through its flow-control channel. Data never leaves the
  * executors.
  */
object Positional {

  /** The ordered layer's metadata pass. Evaluates `input` under the job
    * name `name` (with AQE on, building a Dataset's RDD runs the plan's
    * exchanges as jobs, which then carry the name too), persists it, and
    * runs one job that folds each partition to an `S` while it fills the
    * cache. Returns the cached RDD, which the operator's later passes read,
    * and the summaries in partition order. The cache is a [[Release.hold]]:
    * outside a scope it goes at the next Dataset action, the one that
    * consumes the operator's output (no positional op runs a Dataset
    * action after it); inside one, at the first after the scope returns.
    * Building the next operator's input with `Dataset.rdd` is not such an
    * action, so a chain of positional ops reads each cache, not its
    * lineage, until the chain's output action.
    */
  private[graft] def summarize[T, S: ClassTag](spark: SparkSession, name: String)(
      input: => RDD[T])(fold: Iterator[T] => S): (RDD[T], Array[S]) =
    Jobs.named(spark.sparkContext, name) {
      val rdd = input.persist(StorageLevel.MEMORY_AND_DISK)
      val summaries = rdd.mapPartitions(it => Iterator(fold(it))).collect()
      Release.hold(spark, rdd)
      (rdd, summaries)
    }

  /** Exclusive start offsets of the partitions (length #partitions + 1;
    * the last entry is the total).
    */
  private[graft] def starts(counts: Array[Long]): Array[Long] = counts.scanLeft(0L)(_ + _)

  /** Every row with its global index, given its partition's start offset. */
  private def indexed[T, U: ClassTag](rdd: RDD[T], starts: Array[Long])(
      f: (T, Long) => U): RDD[U] =
    rdd.mapPartitionsWithIndex { (pid, it) =>
      var i = starts(pid) - 1
      it.map { t => i += 1; f(t, i) }
    }

  /** Every element of `rdd` with its global index, through `f`:
    * [[summarize]] counts each partition while it caches it, and the
    * output pass re-reads the cache from each partition's start offset
    * (thrill/api/zip_with_index.hpp:38-179). A one-partition input has the
    * one start offset 0, so it runs no count job and caches nothing
    * (Spark's `RDD.zipWithIndex` likewise counts only the first n−1
    * partitions).
    */
  private[graft] def withIndex[T, U: ClassTag](spark: SparkSession, name: String)(
      rdd: RDD[T])(f: (T, Long) => U): RDD[U] =
    if (rdd.getNumPartitions == 1) indexed(rdd, Array(0L))(f)
    else {
      val (cached, counts) = summarize(spark, name)(rdd)(_.size.toLong)
      indexed(cached, starts(counts))(f)
    }

  /** The two passes under every prefix sum (thrill/api/prefix_sum.hpp:
    * 28-171, ex_prefix_sum.hpp:24-61): [[summarize]] folds each partition's
    * `value`s to a partial, the ≤#partitions partials fold (seeded with
    * `initial`) into per-partition starting values, and the output pass
    * re-scans each partition from its start, handing `out` every row with
    * the running value after (inclusive) or before (exclusive) it.
    */
  private[graft] def scan[T, A, O: ClassTag](spark: SparkSession, name: String)(
      input: => RDD[T])(value: T => A, initial: Option[A], inclusive: Boolean)(
      f: (A, A) => A)(out: (T, A) => O): RDD[O] = {
    val (rdd, partials) = summarize(spark, name)(input)(_.map(value).reduceOption(f))
    val firsts = partials.scanLeft(initial)((a, b) => b.map(y => a.fold(y)(f(_, y))).orElse(a))
    rdd.mapPartitionsWithIndex { (pid, it) =>
      // the running value sits in a plain var, not an Option per row
      var started = firsts(pid).isDefined
      var running = firsts(pid).getOrElse(null.asInstanceOf[A])
      it.map { t =>
        val v = value(t)
        val before = running
        running = if (started) f(running, v) else v
        started = true
        out(t, if (inclusive) running else before)
      }
    }
  }

  /** The aligned scatter under every shuffling zip and rebalance: Zip
    * with Cut or Pad (thrill/api/zip.hpp:77-724) and ZipWindow
    * (zip_window.hpp:175-865) over `inputs`. Block j is `windows(i)`
    * consecutive elements of input i.
    *
    * One job per input ([[summarize]]'s counts) gives each input's
    * partition offsets and total; each row is keyed by its offset plus its
    * local index. Each input then shuffles ONCE through a
    * [[DenseIndexPartitioner]] over the common block range (the reference's
    * scatter of aligned index ranges, zip.hpp:259-291), with no sort step:
    * every mapper sends an index-ordered run, and [[RunMerge.mergeRuns]]
    * merges a reducer's runs back into index order. Partition p of every
    * input holds the same block interval, and blocks assemble by streaming
    * `w` rows per input. Cut mode (`pads` empty) keeps the blocks that are
    * full in every input; pad mode runs to the last, possibly partial,
    * block of the longest input and fills exhausted inputs with their pad
    * value. `checkSizes` sees the input sizes before the scatter;
    * `serializer` replaces the session's for the scatter's (index, element)
    * records. `emit` sees each block's global index and one array per
    * input, in block order.
    */
  private[graft] def alignedBlocks[R: ClassTag](spark: SparkSession, name: String,
      inputs: Seq[() => RDD[_]], windows: Seq[Int], pads: Option[Seq[Any]],
      numPartitions: Int = 0, checkSizes: Seq[Long] => Unit = _ => (),
      serializer: Option[Serializer] = None)(
      emit: (Long, Array[Array[Any]]) => R): RDD[R] = {
    require(windows.forall(_ >= 1), "window sizes must be >= 1")
    val counted = inputs.map(in =>
      summarize(spark, name)(in().asInstanceOf[RDD[Any]])(_.size.toLong))
    val sizes = counted.map(_._2.sum)
    checkSizes(sizes)
    val blocks = sizes.zip(windows).map { case (n, w) => if (pads.isEmpty) n / w else (n + w - 1) / w }
    val len = if (pads.isEmpty) blocks.min else blocks.max
    val parts =
      if (numPartitions > 0) numPartitions else math.max(1, counted.map(_._2.length).max)
    val range = new DenseIndexPartitioner(parts, len)
    val scattered = counted.zip(windows).map { case ((rdd, counts), w) =>
      val keyed = indexed(rdd, starts(counts))((t, i) => (i, t)).filter(_._1 / w < len)
      new ShuffledRDD[Long, Any, Any](keyed, new DenseIndexPartitioner(parts, len, w))
        .setSerializer(serializer.orNull)
        .mapPartitions(RunMerge.mergeRuns(_, byIndex))
    }
    val k = inputs.length
    val (w0, pad0) = (windows.head, pads.map(_.head))
    val init = scattered.head.mapPartitionsWithIndex { (pid, it) =>
      val first = range.first(pid)
      (first until first + range.blocks(pid)).iterator.map { j =>
        val b = new Array[Array[Any]](k)
        b(0) = block(it, w0, pad0)
        (j, b)
      }
    }
    val aligned = scattered.indices.tail.foldLeft(init) { (acc, i) =>
      val (w, pad) = (windows(i), pads.map(_(i)))
      acc.zipPartitions(scattered(i)) { (ia, ib) =>
        ia.map { jb => jb._2(i) = block(ib, w, pad); jb }
      }
    }
    aligned.map { case (j, b) => emit(j, b) }
  }

  private val byIndex: Ordering[(Long, Any)] = Ordering.by(_._1)

  /** The next `w` rows of one input's sorted partition stream; a present
    * `pad` fills the rows past its end.
    */
  private def block(it: Iterator[(Long, Any)], w: Int, pad: Option[Any]): Array[Any] = {
    val b = new Array[Any](w)
    var j = 0
    while (j < w) { b(j) = if (pad.isEmpty || it.hasNext) it.next()._2 else pad.get; j += 1 }
    b
  }

  /** Runs an eager step of a DataFrame op as jobs named `positional:<phase>`;
    * a step's [[rowsOf]] goes inside, as it runs the plan's exchanges.
    */
  private def named[A](df: DataFrame, phase: String)(body: => A): A =
    Jobs.named(df.sparkSession.sparkContext, s"positional:$phase")(body)

  /** The DataFrame's rows in Catalyst's binary form. Each row is copied,
    * as the scan reuses its row buffer and the kernels cache and shuffle
    * the rows. Building the RDD runs the plan's exchanges, so call it
    * inside a named step ([[summarize]]'s `input` is one).
    */
  private[graft] def rowsOf(df: DataFrame): RDD[InternalRow] = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      lazy val toUnsafe = UnsafeProjection.create(schema)
      it.map { case r: UnsafeRow => r.copy(); case r => toUnsafe(r).copy() }
    }
  }

  /** `r` followed by one Long column. */
  private def appendLong(r: InternalRow, v: Long): InternalRow =
    new JoinedRow(r, new GenericInternalRow(Array[Any](v)))

  /** `rows` as a DataFrame of `schema`. */
  private def frame(df: DataFrame, rows: RDD[InternalRow], schema: StructType): DataFrame =
    GraftRowShim.createFrame(df.sparkSession, rows, schema)

  /** Attach a stable global index to the DataFrame's current row order:
    * the [[withIndex]] kernel, emitting (row, offset + local index). Order
    * is only meaningful if the input is range-partitioned+sorted (e.g.
    * after orderBy).
    */
  def zipWithIndex(df: DataFrame, idxName: String = "idx"): DataFrame = {
    val rows = named(df, "zip_with_index")(rowsOf(df))
    frame(df, withIndex(df.sparkSession, "positional:zip_with_index")(rows)(appendLong),
      df.schema.add(idxName, LongType, nullable = false))
  }

  /** Inclusive running sum of a Long column in the DataFrame's current row
    * order: the [[scan]] kernel over the column, appended as `outCol`.
    */
  def prefixSumLong(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
    val vIdx = df.schema.fieldIndex(valueCol)
    val out = scan(df.sparkSession, "positional:prefix_sum_partials")(rowsOf(df))(
      (r: InternalRow) => r.getLong(vIdx), Some(0L), inclusive = true)(_ + _)(appendLong)
    frame(df, out, df.schema.add(outCol, LongType, nullable = false))
  }

  /** Sliding-window sum over the last `k` rows (current + k-1 preceding) of
    * a Long column, in the DataFrame's current row order. Mirrors Window
    * (thrill/api/window.hpp:32-571): each partition needs the k-1 values
    * preceding its first row, fetched peer-to-peer via
    * [[BoundaryExchange.predecessors]] from [[summarize]]'s counts —
    * thrill's net.Predecessor topology (window.hpp:170-186). Windows at the
    * global start are partial, matching SQL `ROWS BETWEEN k-1 PRECEDING
    * AND CURRENT ROW`.
    */
  def slidingSumLong(df: DataFrame, valueCol: String, k: Int, outCol: String): DataFrame = {
    require(k >= 1, s"window size must be >= 1, got $k")
    val vIdx = df.schema.fieldIndex(valueCol)
    val (rdd, counts) =
      summarize(df.sparkSession, "positional:window_counts")(rowsOf(df))(_.size.toLong)
    val boundary =
      BoundaryExchange.predecessors(rdd.map(_.getLong(vIdx)), starts(counts), k)
    val schema = df.schema.add(outCol, LongType, nullable = false)
    val out = rdd.zipPartitions(boundary) { (it, bit) =>
      // circular buffer + incremental add/evict running sum: O(1) per row
      // at any k (an ArrayBuffer remove(0) + ring.sum would pay O(k) per
      // row — a 10^5x constant at k=10^5). Mirrors the reference's
      // RingBuffer reuse (thrill/api/window.hpp:170-197).
      val buf = new Array[Long](k)
      var size = 0 // live values, < k until warm
      var head = 0 // slot of the oldest value
      var running = 0L
      def push(v: Long): Unit =
        if (size == k) {
          running += v - buf(head); buf(head) = v; head = (head + 1) % k
        } else {
          buf((head + size) % k) = v; running += v; size += 1
        }
      bit.foreach(push)
      it.map { r =>
        push(r.getLong(vIdx))
        appendLong(r, running)
      }
    }
    frame(df, out, schema)
  }

  /** Element-wise zip of two DataFrames by global index, mirroring Zip
    * (thrill/api/zip.hpp:77-724). `pad=false` ≡ CutTag (truncate to the
    * shorter input); `pad=true` ≡ PadTag (the longer input's length, the
    * exhausted side's columns null). Runs on the [[alignedBlocks]]
    * scatter, one shuffle per input; see [[zipRows]] for the schema.
    */
  def zipByIndex(a: DataFrame, b: DataFrame, idxName: String = "idx",
      pad: Boolean = false): DataFrame =
    zipRows(Seq(a, b), idxName, pad)

  /** k-ary heterogeneous positional zip: element-wise zip of ANY number
    * of DataFrames with arbitrary schemas by global index — the DataFrame
    * form of Zip's unbounded variadic pack (thrill/api/zip.hpp:77-724,
    * `zip_function(dias...)`); the typed facade covers arities 2–3 and
    * homogeneous k, this closes heterogeneous k>3 without nesting.
    * `cut=true` ≡ CutTag (truncate to the shortest); `cut=false` ≡ default
    * Zip: sizes must match, checked loudly before the scatter
    * (zip.hpp:293-335's MainOp check). Column names must be disjoint.
    * Runs on the [[alignedBlocks]] scatter, one shuffle per input.
    */
  def zipAllByIndex(inputs: Seq[DataFrame], idxName: String = "idx",
      cut: Boolean = false): DataFrame = {
    require(inputs.size >= 2, "zipAllByIndex needs >= 2 inputs")
    val allCols = inputs.flatMap(_.columns) :+ idxName
    require(allCols.distinct.size == allCols.size,
      s"column names (and $idxName) must be disjoint: ${allCols.mkString(",")}")
    zipRows(inputs, idxName, pad = false, checkSizes = sizes =>
      require(cut || sizes.distinct.size == 1,
        s"Zip of unequal sizes ${sizes.mkString("/")} — pass cut=true (CutTag)"))
  }

  /** Row zip on [[alignedBlocks]]: `idxName` first (non-null), then every
    * input's columns in input order. In pad mode every input column is
    * nullable and an exhausted input's columns are null.
    */
  private def zipRows(inputs: Seq[DataFrame], idxName: String, pad: Boolean,
      checkSizes: Seq[Long] => Unit = _ => ()): DataFrame = {
    val fields = inputs.flatMap(_.schema.fields).map(f => if (pad) f.copy(nullable = true) else f)
    // an exhausted input contributes a row of nulls of its width
    val nulls = inputs.map(df => new GenericInternalRow(df.schema.length): InternalRow).toArray
    val rows = alignedBlocks(inputs.head.sparkSession, "positional:zip_counts",
        inputs.map(df => () => rowsOf(df)), inputs.map(_ => 1),
        if (pad) Some(inputs.map(_ => null)) else None, checkSizes = checkSizes,
        serializer = Some(new IndexedRowSerializer)) { (j, b) =>
      b.indices.foldLeft(new GenericInternalRow(Array[Any](j)): InternalRow) { (row, i) =>
        val r = b(i)(0).asInstanceOf[InternalRow]
        new JoinedRow(row, if (r == null) nulls(i) else r)
      }
    }
    frame(inputs.head, rows, StructType(StructField(idxName, LongType, nullable = false) +: fields))
  }

  /** Ordered concatenation of already-ordered inputs, mirroring Concat
    * (thrill/api/concat.hpp:35-402): the global position of a row is its
    * local index plus the total size of all preceding inputs (thrill gets
    * the sizes via ExPrefixSumTotal; here [[summarize]]'s per-partition
    * counts give every partition its offset). One job per input, no
    * re-sort — the result carries an explicit `pos` column.
    */
  def concatOrdered(inputs: Seq[DataFrame], posName: String = "pos"): DataFrame = {
    require(inputs.nonEmpty, "concatOrdered of zero inputs")
    val counted = inputs.map(df =>
      summarize(df.sparkSession, "positional:concat_counts")(rowsOf(df))(_.size.toLong))
    val bases = counted.map(_._2.sum).scanLeft(0L)(_ + _)
    inputs.lazyZip(counted).lazyZip(bases).map { (df, rc, base) =>
      val rows = indexed(rc._1, starts(rc._2).map(_ + base))(appendLong)
      frame(df, rows, df.schema.add(posName, LongType, nullable = false))
    }.reduce(_ unionByName _)
  }

  /** Merge k sorted inputs into one globally sorted result, mirroring Merge
    * (thrill/api/merge.hpp:76-732). v1 strategy: bag-union + range-
    * partitioned sort — semantically identical (the reference's multi-
    * sequence selection is an optimization to avoid re-sorting; Spark's
    * sample-based RangePartitioner + per-partition merge of pre-sorted runs
    * achieves the same O(n log n) with better pipelining at scale).
    */
  def mergeSorted(inputs: Seq[DataFrame], sortCols: Seq[String]): DataFrame = {
    require(inputs.nonEmpty, "mergeSorted of zero inputs")
    inputs.reduce(_ unionByName _).orderBy(sortCols.map(col): _*)
  }

  /** Merge WITHOUT re-sorting, exploiting that every input is already
    * globally sorted — the reference's defining Merge property
    * (merge.hpp:43-66 multi-sequence selection), through
    * [[RunMerge.mergeSorted]]: one range scatter with no sort step, then a
    * lazy merge of each reducer's sorted runs. No TimSort/ExternalSorter
    * pass anywhere.
    *
    * Memory: bounded at `budgetRows` (+ one chunk) rows per partition —
    * completed runs past the budget spill to local disk, mirroring the
    * reference's spillable per-worker `data::File` runs
    * (thrill/api/sort.hpp:672-694). Correct for ANY shuffle block order:
    * run detection re-establishes sortedness of each run, and the k-way
    * merge tolerates overlapping runs (see RunMerge's scaladoc).
    */
  def mergeSortedNoResort(inputs: Seq[DataFrame], sortCols: Seq[String],
      numPartitions: Int = 0,
      budgetRows: Int = RunMerge.DefaultBudgetRows): DataFrame = {
    require(inputs.nonEmpty, "mergeSortedNoResort of zero inputs")
    val schema = inputs.head.schema
    // Spark's own ascending order over the sort columns, nulls first
    implicit val rowOrd: Ordering[InternalRow] = new InterpretedOrdering(sortCols.map { c =>
      SortOrder(BoundReference(schema.fieldIndex(c), schema(c).dataType, schema(c).nullable), Ascending)
    })
    val keyed = named(inputs.head, "merge_inputs")(inputs.map(rowsOf(_).map(r => (r, ()))))
    val parts =
      if (numPartitions > 0) numPartitions
      else math.max(1, keyed.map(_.getNumPartitions).max)
    frame(inputs.head, RunMerge.mergeSorted(keyed, parts, budgetRows).map(_._1), schema)
  }

  /** Rebalance (thrill/api/rebalance.hpp:30-133): even out per-partition row
    * counts while keeping global order. The one-input [[alignedBlocks]]
    * scatter splits the dense index range arithmetically — exactly even
    * partitions, one shuffle, no sampling pass, no index column (so
    * `idxName` is unused; it stays for source compatibility).
    */
  def rebalance(df: DataFrame, numPartitions: Int, idxName: String = "__rebalance_idx"): DataFrame = {
    require(numPartitions >= 1, s"Number of partitions must be positive, got $numPartitions")
    frame(df, alignedBlocks(df.sparkSession, "positional:rebalance_counts", Seq(() => rowsOf(df)),
        Seq(1), None, numPartitions, serializer = Some(new IndexedRowSerializer))(
        (_, b) => b(0)(0).asInstanceOf[InternalRow]),
      df.schema)
  }
}

/** Range partitioner for `totalBlocks` blocks of `window` consecutive
  * DENSE Long indices: index i belongs to block i / window, and partition p
  * covers an equal contiguous block interval. No sampling pass (unlike
  * RangePartitioner) — the key space is known exactly, so the split is
  * computed arithmetically, mirroring the reference's equal-range scatter
  * plan (thrill/api/zip.hpp:259-291).
  */
private[graft] class DenseIndexPartitioner(parts: Int, totalBlocks: Long, window: Int = 1)
    extends org.apache.spark.Partitioner {
  require(parts >= 1 && totalBlocks >= 0 && window >= 1)
  private val per = math.max(1L, (totalBlocks + parts - 1) / parts)
  override def numPartitions: Int = parts
  override def getPartition(key: Any): Int =
    math.min(key.asInstanceOf[Long] / window / per, parts - 1L).toInt
  /** First block of partition `p`. */
  def first(p: Int): Long = p * per
  /** Number of blocks partition `p` covers. */
  def blocks(p: Int): Long = math.max(0L, math.min(per, totalBlocks - p * per))
}
