package thrillbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dia.DIA

/** The ordered-DIA chain: sortBy -> zipWithIndex -> prefixSum -> window ->
  * merge (with a second sorted input) -> zip -> sum over distinct 64-bit
  * (key, value) records. Runs the RDD positional path and its op-local
  * caches; calls no `graft.functions` code.
  */
final class DiaOrdered(rowsA: Int = 120000, rowsB: Int = 40000) extends Workload {
  import DiaOrdered._

  val name = "dia_ordered"
  private var in: Gen.Ordered = _

  def generate(seed: Long): Unit = in = Gen.ordered(seed, rowsA, rowsB)

  def pass(spark: SparkSession, t: Tracer): PassOut = {
    import spark.implicits._
    val a = DIA.distribute(spark, in.a.toSeq)
    val b = DIA.distribute(spark, in.b.toSeq)
    val sorted = t.span("dia.sort")(a.sortBy(_._1))
    val sortedB = t.span("dia.sort")(b.sortBy(_._1))
    val indexed = t.span("dia.zip_with_index")(
      sorted.zipWithIndex((r, i) => (r._1, r._2, i)))
    // running (key, prefix sum of values, rank)
    val prefix = t.span("dia.prefix_sum")(
      indexed.prefixSum((x, y) => (y._1, x._2 + y._2, y._3)))
    // (first key, sum of the values after the first in the window)
    val windowed = t.span("dia.window")(
      prefix.window(Window_)((_, w) => (w.head._1, w.last._2 - w.head._2)))
    val merged = t.span("dia.merge")(windowed.merge(sortedB)(_._1))
    val zipped = t.span("dia.zip")(
      merged.zip(prefix)((m, p) => m._2 + (p._2 & 0xfffffL)))
    val total = t.span("dia.sum")(zipped.sum)
    PassOut(total.toString, Map.empty,
      Outputs(prefix, windowed, merged, total))
  }

  def check(spark: SparkSession, out: PassOut): Seq[(String, Option[String])] = {
    import spark.implicits._
    import Workload.expect
    val o = out.outputs.asInstanceOf[Outputs]
    // Spark SQL reference: rank, running sum and bounded window sum by key
    val w = Window.orderBy("k")
    val ref = in.a.toSeq.toDF("k", "v")
      .withColumn("i", row_number().over(w) - 1)
      .withColumn("p", sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("ws", sum("v").over(w.rowsBetween(1, Window_ - 1)))
      .withColumn("wn", count(lit(1)).over(w.rowsBetween(0, Window_ - 1)))
      .cache()
    val refWin = ref.filter(col("wn") === Window_).select(col("k"), col("ws").as("v"))
    val refMerged = refWin.union(in.b.toSeq.toDF("k", "v"))
      .withColumn("m", row_number().over(w) - 1).cache()
    val refTotal = refMerged.join(ref.select(col("i").as("m"), col("p")), "m")
      .agg(sum(col("v") + col("p").bitwiseAND(0xfffffL))).as[Long].head()
    val refPrefix = ref.orderBy("i").select("k", "p", "i").as[(Long, Long, Long)].collect().toSeq
    val refWindowed = refWin.orderBy("k").as[(Long, Long)].collect().toSeq
    val refMergedRows = refMerged.orderBy("m").select("k", "v").as[(Long, Long)].collect().toSeq
    ref.unpersist(); refMerged.unpersist()

    // prefix rows (key, running sum, rank) carry the sort, the index and
    // the scan at once
    val prefix = o.prefix.allGather()
    val keys = prefix.map(_._1)
    val total = in.a.map(_._2).sum
    Seq(
      expect("sorted", keys.sliding(2).forall(p => p(0) < p(1)) &&
        keys.sorted == in.a.map(_._1).toSeq.sorted, "sortBy output is not the sorted keys"),
      expect("zip_with_index", prefix.map(_._3) == prefix.indices.map(_.toLong),
        "zipWithIndex ranks are not 0..n-1 in order"),
      expect("prefix_sum", prefix == refPrefix, "prefixSum differs from the running window sum"),
      expect("last_prefix_is_total", prefix.lastOption.exists(_._2 == total),
        s"last prefix ${prefix.lastOption.map(_._2)} != total $total"),
      expect("window", o.windowed.allGather() == refWindowed,
        "window differs from the bounded window sum"),
      expect("merge", o.merged.allGather() == refMergedRows,
        "merge differs from orderBy over the union"),
      expect("zip_sum", o.total == refTotal, s"sum ${o.total} != reference $refTotal"))
  }
}

object DiaOrdered {
  val Window_ = 8

  final case class Outputs(prefix: DIA[(Long, Long, Long)],
      windowed: DIA[(Long, Long)], merged: DIA[(Long, Long)], total: Long)
}
