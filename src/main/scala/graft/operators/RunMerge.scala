package graft.operators

import org.apache.spark.{RangePartitioner, SparkEnv, TaskContext}
import org.apache.spark.rdd.RDD

import scala.collection.mutable.{ArrayBuffer, PriorityQueue}
import scala.reflect.ClassTag

/** Spill-safe streaming merge of the sorted runs inside one shuffle-read
  * partition, and the no-re-sort merge of sorted inputs built on it.
  *
  * A `partitionBy` shuffle (no sort step) delivers each mapper's records
  * contiguously, so a reducer partition of a globally-sorted input is a
  * concatenation of sorted runs. This helper (1) detects runs by watching
  * for key decreases, (2) buffers them up to a row budget and spills
  * completed runs past it to ONE local temp file (the reference buffers the
  * same working set as spillable per-worker `data::File`s,
  * /root/reference/thrill/api/sort.hpp:672-694), and (3) lazily k-way
  * merges the runs by head element through a binary heap — the reference's
  * multiway merge of Files.
  *
  * Robustness (beyond the old reorder-whole-runs-by-head-key): run
  * detection guarantees every run is individually non-decreasing REGARDLESS
  * of how the shuffle interleaved mapper blocks, and a k-way merge of
  * individually-sorted runs is order-correct even when runs overlap — so a
  * Spark version that stopped keeping mapper blocks contiguous would only
  * produce more (finer) runs, never wrong order. Oversized runs are split
  * into `chunkRows` chunks (consecutive chunks of one run are themselves
  * non-overlapping sorted runs), so heap usage is O(budgetRows + chunkRows)
  * rows however skewed the partition.
  */
object RunMerge {

  /** Default in-heap budget before completed runs spill (rows). */
  val DefaultBudgetRows: Int = 1 << 20

  /** Directory for spill files: the executor's configured scratch space
    * (`SPARK_LOCAL_DIRS` on a cluster, `spark.local.dir` in conf), falling
    * back to the JVM tmpdir. On a real cluster the local dirs sit on the
    * fast ephemeral disks shuffle uses, while `java.io.tmpdir` is often a
    * small root volume — spilling to the wrong one fills `/` under load.
    * (Same resolution order as Spark's own `Utils.getLocalDir`, which is
    * `private[spark]`; YARN container dirs export SPARK_LOCAL_DIRS, so the
    * env branch covers that deployment too.)
    */
  private def spillDir(): java.io.File = {
    val configured = sys.env.get("SPARK_LOCAL_DIRS")
      .map(_.split(',').head.trim).filter(_.nonEmpty)
      .orElse(Option(SparkEnv.get)
        .flatMap(e => Option(e.conf.get("spark.local.dir", null)))
        .map(_.split(',').head.trim).filter(_.nonEmpty))
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val d = new java.io.File(configured)
    if (d.isDirectory) d else new java.io.File(System.getProperty("java.io.tmpdir"))
  }

  private final class SpillFile[T: ClassTag] {
    private val file =
      java.io.File.createTempFile("graft-run-spill-", ".bin", spillDir())
    file.deleteOnExit()
    // executor-task-scoped lifetime: delete when the task completes, like
    // shuffle spill files (also deleteOnExit above for non-task use)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
      file.delete(); ()
    })
    private val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(file), 1 << 16)
    private var pos = 0L
    private var closed = false

    /** Append one run; returns its (byteOffset, rowCount) descriptor. */
    def write(run: ArrayBuffer[T]): (Long, Int) = {
      val start = pos
      val target = out
      val counting = new java.io.OutputStream {
        override def write(b: Int): Unit = { target.write(b); pos += 1 }
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          target.write(b, off, len); pos += len
        }
      }
      val ser = SparkEnv.get.serializer.newInstance().serializeStream(counting)
      run.foreach(ser.writeObject(_))
      ser.flush()
      // close() the serialize stream would close `out`; flush is enough —
      // each run is read back with its own deserialize stream at `start`
      (start, run.length)
    }

    def finishWrites(): Unit = { out.flush(); out.close(); closed = true }

    def read(offset: Long, rows: Int): Iterator[T] = {
      require(closed, "reading a spill file still being written")
      val in = new java.io.FileInputStream(file)
      in.getChannel.position(offset)
      val des = SparkEnv.get.serializer.newInstance()
        .deserializeStream(new java.io.BufferedInputStream(in, 1 << 16))
      new Iterator[T] {
        private var remaining = rows
        def hasNext: Boolean = remaining > 0
        def next(): T = {
          remaining -= 1
          val v = des.readObject[T]()
          if (remaining == 0) des.close()
          v
        }
      }
    }
  }

  /** Restore sorted order over a partition made of concatenated sorted
    * runs. Single input pass; lazy output; heap bounded by
    * budgetRows + chunkRows rows.
    */
  def mergeRuns[T: ClassTag](it: Iterator[T], ord: Ordering[T],
      budgetRows: Int = DefaultBudgetRows): Iterator[T] = {
    val chunkRows = math.max(1, math.min(budgetRows, 1 << 18))
    val memRuns = new ArrayBuffer[ArrayBuffer[T]]()
    var memRows = 0L
    var spill: SpillFile[T] = null
    val spilled = new ArrayBuffer[(Long, Int)]()

    var cur = new ArrayBuffer[T]()
    def closeRun(): Unit = if (cur.nonEmpty) {
      if (memRows + cur.length <= budgetRows) {
        memRuns += cur
        memRows += cur.length
      } else {
        if (spill == null) spill = new SpillFile[T]
        spilled += spill.write(cur)
      }
      cur = new ArrayBuffer[T]()
    }

    var prev: Option[T] = None
    it.foreach { t =>
      if (prev.exists(p => ord.lt(t, p)) || cur.length >= chunkRows) closeRun()
      cur += t
      prev = Some(t)
    }
    closeRun()
    if (spill != null) spill.finishWrites()

    val runIters: Seq[Iterator[T]] =
      memRuns.iterator.map(_.iterator).toSeq ++
        spilled.iterator.map { case (off, n) => spill.read(off, n) }

    kWayMerge(runIters, ord)
  }

  /** Merge globally sorted keyed inputs WITHOUT re-sorting — the engine
    * under `DIA.merge` and `Positional.mergeSortedNoResort`, realizing the
    * reference's multi-sequence-selection Merge (thrill/api/merge.hpp:43-66).
    * ONE RangePartitioner sampled over the union scatters every input with
    * `partitionBy` (a shuffle with NO sort step), [[mergeRuns]] restores
    * each input's per-reducer run concatenation, and the k restored streams
    * fold into a lazy chain of two-way head merges — each link an
    * O(1)-memory iterator, ≤ k−1 comparisons per emitted row; equal keys
    * keep input order.
    */
  def mergeSorted[K: Ordering: ClassTag, V: ClassTag](inputs: Seq[RDD[(K, V)]],
      numPartitions: Int, budgetRows: Int = DefaultBudgetRows): RDD[(K, V)] = {
    val ord: Ordering[(K, V)] = Ordering.by[(K, V), K](_._1)
    val part = new RangePartitioner(numPartitions, inputs.reduce(_ union _))
    inputs.map(_.partitionBy(part)
      .mapPartitions(mergeRuns(_, ord, budgetRows), preservesPartitioning = true))
      .reduce((ra, rb) => ra.zipPartitions(rb)((ia, ib) => kWayMerge(Seq(ia, ib), ord)))
  }

  /** Lazy k-way merge of individually-sorted iterators; ties broken by
    * input index, so the result is deterministic and stable w.r.t. the
    * input sequence order.
    */
  def kWayMerge[T](inputs: Seq[Iterator[T]], ord: Ordering[T]): Iterator[T] = {
    val nonEmpty = inputs.map(_.buffered).zipWithIndex.filter(_._1.hasNext)
    // PriorityQueue is a max-heap; reverse to pop the smallest head first
    val heapOrd = new Ordering[(BufferedIterator[T], Int)] {
      def compare(a: (BufferedIterator[T], Int), b: (BufferedIterator[T], Int)): Int = {
        val c = ord.compare(a._1.head, b._1.head)
        if (c != 0) -c else b._2 - a._2
      }
    }
    val heap = PriorityQueue.empty(heapOrd)
    nonEmpty.foreach(heap.enqueue(_))
    new Iterator[T] {
      def hasNext: Boolean = heap.nonEmpty
      def next(): T = {
        val top = heap.dequeue()
        val v = top._1.next()
        if (top._1.hasNext) heap.enqueue(top)
        v
      }
    }
  }
}
