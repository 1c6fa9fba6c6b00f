package graft.operators

import org.apache.spark.rdd.RDD

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

/** Peer-to-peer predecessor exchange for sliding-window operators —
  * the Spark realization of the reference's `net.Predecessor` collective
  * (/root/reference/thrill/net/flow_control_channel.hpp:644-653), which
  * hands each worker the k-1 elements preceding its first one.
  *
  * The driver sees ONLY the per-partition row counts (O(#partitions)
  * scalars, the same volume thrill's ExPrefixSum moves); the boundary ROWS
  * travel executor-to-executor through a small keyed shuffle of at most
  * (k-1) rows per partition boundary — so `window(k)` with k ~ 10^5 over
  * 10^3 partitions never routes data through the driver.
  */
private[graft] object BoundaryExchange {

  /** For every partition p of `rdd`, deliver the min(k-1, starts(p)) rows
    * immediately preceding p's first row in global order, as an RDD
    * aligned with `rdd`'s partitioning (partition p holds p's predecessor
    * rows, ascending). `starts` are the exclusive per-partition start
    * offsets (length #partitions + 1; last entry = total row count), from
    * the caller's own metadata pass.
    *
    * One tail pass feeds the keyed shuffle; no job runs here. Rows can be
    * needed by several successors when intermediate partitions hold fewer
    * than k-1 rows; the emit loop walks the start-offset array, so that
    * case costs exactly the extra copies it requires and nothing more.
    */
  def predecessors[T: ClassTag](rdd: RDD[T], starts: Array[Long], k: Int): RDD[T] = {
    require(k >= 1, s"window size must be >= 1, got $k")
    val parts = starts.length - 1
    if (parts == 0) return rdd // zero-partition RDD: nothing to ship
    val km1 = (k - 1).toLong
    val emitted: RDD[((Int, Long), T)] = rdd.mapPartitionsWithIndex { (pid, it) =>
      val cnt = starts(pid + 1) - starts(pid)
      // only the last k-1 rows of a partition can precede any successor's
      // first row — skip the rest without touching them
      val from = math.max(0L, cnt - km1)
      var li = -1L
      it.flatMap { t =>
        li += 1
        if (li < from) Iterator.empty
        else {
          val g = starts(pid) + li
          // successors q need global indices [starts(q) - (k-1), starts(q))
          val buf = new ArrayBuffer[((Int, Long), T)](2)
          var q = pid + 1
          while (q < parts && starts(q) <= g + km1) {
            buf += (((q, g), t))
            q += 1
          }
          buf.iterator
        }
      }
    }
    val byTarget = new org.apache.spark.Partitioner {
      def numPartitions: Int = parts
      def getPartition(key: Any): Int = key.asInstanceOf[(Int, Long)]._1
    }
    emitted.repartitionAndSortWithinPartitions(byTarget).map(_._2)
  }

  /** [[predecessors]] for a caller without a metadata pass of its own:
    * counts the partitions in one job first and returns their start
    * offsets with the boundary rows.
    */
  def predecessors[T: ClassTag](rdd: RDD[T], k: Int): (Array[Long], RDD[T]) = {
    val starts = rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().scanLeft(0L)(_ + _)
    (starts, predecessors(rdd, starts, k))
  }
}
