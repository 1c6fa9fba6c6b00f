package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType


/** Order-indexed operators — the part of the reference surface Spark has no
  * declarative equivalent for (SURVEY.md §2.6). The reference exploits the
  * DIA's stable global order (thrill/api/dia.hpp:127-141); Spark shuffles
  * destroy order, so these ops are built on one shared primitive:
  * RDD `zipWithIndex` over the DataFrame's current partition order (valid
  * after a range-partitioned sort), plus small driver-side collectives that
  * mirror thrill's `net.ExPrefixSum` / `net.Predecessor`
  * (thrill/net/flow_control_channel.hpp:236-405, 644-653).
  *
  * Scale posture: every driver-side collect here is O(#partitions) scalars
  * (one Long or ≤k-1 boundary values per partition), NOT O(rows) — the same
  * volume thrill moves through its flow-control channel. Data never leaves
  * the executors.
  */
object Positional {

  /** Attach a stable global index to the DataFrame's current row order.
    * Mirrors ZipWithIndex (thrill/api/zip_with_index.hpp:38-179): a first
    * pass counts per-partition rows, an exclusive prefix sum gives each
    * partition its offset (done inside RDD.zipWithIndex), a second pass
    * emits (row, offset + local index). Order is only meaningful if the
    * input is range-partitioned+sorted (e.g. after orderBy).
    */
  def zipWithIndex(df: DataFrame, idxName: String = "idx"): DataFrame = {
    val schema = df.schema.add(idxName, LongType, nullable = false)
    val rdd = df.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Inclusive running sum of a Long column in the DataFrame's current row
    * order. Two-pass, mirroring PrefixSum (thrill/api/prefix_sum.hpp:58-108):
    * pass 1 computes per-partition sums; the driver scan-folds them into
    * exclusive per-partition offsets (≡ net.ExPrefixSum of worker sums);
    * pass 2 re-scans each partition starting from its offset.
    */
  def prefixSumLong(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
    val spark = df.sparkSession
    val vIdx = df.schema.fieldIndex(valueCol)
    val rdd = df.rdd
    rdd.cache()
    val partSums = rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var s = 0L; it.foreach(r => s += r.getLong(vIdx)); Iterator((pid, s))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _) // exclusive
    val bc = spark.sparkContext.broadcast(offsets)
    val schema = df.schema.add(outCol, LongType, nullable = false)
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      var acc = bc.value(pid)
      it.map { r => acc += r.getLong(vIdx); Row.fromSeq(r.toSeq :+ acc) }
    }
    Release.afterNextAction(spark, rdd)
    spark.createDataFrame(out, schema)
  }

  /** Sliding-window sum over the last `k` rows (current + k-1 preceding) of
    * a Long column, in the DataFrame's current row order. Mirrors Window
    * (thrill/api/window.hpp:32-571): each partition needs the k-1 values
    * preceding its first row, fetched peer-to-peer via
    * [[BoundaryExchange.predecessors]] — thrill's net.Predecessor topology
    * (window.hpp:170-186); the driver folds only per-partition counts.
    * Windows at the global start are partial, matching SQL `ROWS BETWEEN
    * k-1 PRECEDING AND CURRENT ROW`.
    */
  def slidingSumLong(df: DataFrame, valueCol: String, k: Int, outCol: String): DataFrame = {
    require(k >= 1, s"window size must be >= 1, got $k")
    val spark = df.sparkSession
    val vIdx = df.schema.fieldIndex(valueCol)
    val rdd = df.rdd
    rdd.cache()
    val (_, boundary) =
      BoundaryExchange.predecessors(rdd.map(_.getLong(vIdx)), k)
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
        Row.fromSeq(r.toSeq :+ running)
      }
    }
    Release.afterNextAction(spark, rdd)
    spark.createDataFrame(out, schema)
  }

  /** Element-wise zip of two DataFrames by global index, mirroring Zip
    * (thrill/api/zip.hpp:77-724). `pad=false` ≡ CutTag (truncate to the
    * shorter input, inner join on index); `pad=true` ≡ PadTag (full outer
    * join, missing side null). Both inputs are indexed in their current
    * order; the join is a co-partitioned sort-merge on the dense index, so
    * it scales without any single-node materialization.
    */
  def zipByIndex(a: DataFrame, b: DataFrame, idxName: String = "idx",
      pad: Boolean = false): DataFrame = {
    val ai = zipWithIndex(a, idxName)
    val bi = zipWithIndex(b, idxName)
    ai.join(bi, Seq(idxName), if (pad) "full_outer" else "inner")
  }

  /** k-ary heterogeneous positional zip: element-wise zip of ANY number
    * of DataFrames with arbitrary schemas by global index — the DataFrame
    * form of Zip's unbounded variadic pack (thrill/api/zip.hpp:77-724,
    * `zip_function(dias...)`); the typed facade covers arities 2–3 and
    * homogeneous k, this closes heterogeneous k>3 without nesting.
    * `cut=true` ≡ CutTag (truncate to the shortest via the inner index
    * join); `cut=false` ≡ default Zip: sizes must match, checked loudly
    * (zip.hpp:293-335's MainOp check). Column names must be disjoint.
    * Each input is indexed in its current order; the joins are
    * co-partitioned sort-merges on the dense index — no single-node
    * materialization. Inputs are persisted across the count + index +
    * emit passes and released after the consuming action.
    */
  def zipAllByIndex(inputs: Seq[DataFrame], idxName: String = "idx",
      cut: Boolean = false): DataFrame = {
    require(inputs.size >= 2, "zipAllByIndex needs >= 2 inputs")
    val allCols = inputs.flatMap(_.columns) :+ idxName
    require(allCols.distinct.size == allCols.size,
      s"column names (and $idxName) must be disjoint: ${allCols.mkString(",")}")
    val cached = inputs.map(_.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    if (!cut) {
      val sizes = cached.map(_.count())
      require(sizes.distinct.size == 1,
        s"Zip of unequal sizes ${sizes.mkString("/")} — pass cut=true (CutTag)")
    }
    val res = cached.map(zipWithIndex(_, idxName))
      .reduce(_.join(_, Seq(idxName), "inner"))
    cached.foreach(Release.datasetAfterNextAction)
    res
  }

  /** Ordered concatenation of already-ordered inputs, mirroring Concat
    * (thrill/api/concat.hpp:35-402): the global position of a row is its
    * local index plus the total size of all preceding inputs (thrill gets
    * the sizes via ExPrefixSumTotal; here a count() per input). No global
    * re-sort happens — the result carries an explicit `pos` column.
    *
    * Each input is read three times (offset count, zipWithIndex's
    * per-partition count, emit), so inputs are persisted across the passes
    * — one real scan each — and released after the consuming action.
    */
  def concatOrdered(inputs: Seq[DataFrame], posName: String = "pos"): DataFrame = {
    require(inputs.nonEmpty, "concatOrdered of zero inputs")
    val cached = inputs.map(_.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sizes = cached.map(_.count()) // fills the cache
    val offsets = sizes.scanLeft(0L)(_ + _)
    val res = cached.zip(offsets).map { case (df, off) =>
      zipWithIndex(df, posName).withColumn(posName, col(posName) + lit(off))
    }.reduce(_ unionByName _)
    cached.foreach(Release.datasetAfterNextAction)
    res
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

  /** Serializable row ordering over the named columns; values must be
    * runtime-Comparable (all Spark atomic types are), nulls sort first.
    */
  private class RowKeyOrdering(fieldIdx: Seq[Int])
      extends Ordering[Row] with Serializable {
    override def compare(a: Row, b: Row): Int = {
      var i = 0
      while (i < fieldIdx.length) {
        val x = a.get(fieldIdx(i)); val y = b.get(fieldIdx(i))
        val c =
          if (x == null && y == null) 0
          else if (x == null) -1
          else if (y == null) 1
          else x.asInstanceOf[Comparable[Any]].compareTo(y)
        if (c != 0) return c
        i += 1
      }
      0
    }
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
    implicit val rowOrd: Ordering[Row] = new RowKeyOrdering(sortCols.map(schema.fieldIndex))
    val keyed = inputs.map(_.rdd.map(r => (r, ())))
    val parts =
      if (numPartitions > 0) numPartitions
      else math.max(1, keyed.map(_.getNumPartitions).max)
    val merged = RunMerge.mergeSorted(keyed, parts, budgetRows).map(_._1)
    inputs.head.sparkSession.createDataFrame(merged, schema)
  }

  /** Rebalance (thrill/api/rebalance.hpp:30-133): even out per-partition row
    * counts while keeping global order — repartitionByRange over an explicit
    * index column.
    */
  def rebalance(df: DataFrame, numPartitions: Int, idxName: String = "__rebalance_idx"): DataFrame = {
    val indexed = zipWithIndex(df, idxName)
    indexed.repartitionByRange(numPartitions, col(idxName))
      .sortWithinPartitions(col(idxName))
      .drop(idxName)
  }
}
