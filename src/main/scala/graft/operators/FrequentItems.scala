package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Bounded-memory frequent-items sketch (Misra–Gries with batch
  * decrements) as a mergeable typed [[Aggregator]].
  *
  * [[graft.functions.Corpus.heavyHitters]] is exact but shuffles the full
  * distinct vocabulary — right for word tokens, impossible for n-grams at
  * corpus scale (the distinct 5-gram set of a 100 TB corpus is itself
  * TB-sized). This sketch keeps at most `capacity` counters per partition
  * and merges them associatively, so the job is ONE pass, O(capacity)
  * memory anywhere, and nothing but summaries crosses the shuffle.
  *
  * Guarantees (classic Misra–Gries, preserved by the summed-merge of
  * Agarwal et al., "Mergeable Summaries", PODS'12):
  *   - reported count ∈ [true − N/capacity, true] (undercount only),
  *     where N = total item count;
  *   - every item with true frequency > N/capacity is in the summary —
  *     no false negatives above the error floor;
  *   - with capacity ≥ #distinct items no decrement ever fires and counts
  *     are EXACT (the regime the oracle gate pins).
  *
  * Implementation note: instead of the textbook decrement-all-on-miss
  * (O(capacity) per new key, quadratic on all-distinct input) the buffer
  * grows to 2×capacity and then subtracts the (capacity+1)-th largest
  * count from everything — the same bound, amortized O(1) map ops per
  * element.
  */
object FrequentItems {

  private type JMap = java.util.HashMap[String, Long]

  /** Subtract the (cap+1)-th largest count from every entry, dropping the
    * non-positive — the batch-decrement MG step. Mutates `m` in place.
    */
  private def trim(m: JMap, cap: Int): JMap = {
    if (m.size <= cap) return m
    val counts = new Array[Long](m.size)
    var i = 0
    val vit = m.values().iterator()
    while (vit.hasNext) { counts(i) = vit.next(); i += 1 }
    java.util.Arrays.sort(counts)
    val kth = counts(m.size - 1 - cap) // (cap+1)-th largest
    val eit = m.entrySet().iterator()
    while (eit.hasNext) {
      val e = eit.next()
      if (e.getValue > kth) e.setValue(e.getValue - kth) else eit.remove()
    }
    m
  }

  // Buffer is a MUTABLE java HashMap via the kryo encoder: the buffer
  // lives as a live object inside ObjectHashAggregate and is serialized
  // only at partial-output boundaries, so reduce() is one O(1) map update
  // per row instead of a persistent-structure copy — measured 2.0 -> 1.4 s
  // on the sf1 trigram A/B (SCALE.md, "MG sketch buffer") vs the immutable
  // Map buffer this replaced.
  private final class MGAgg(capacity: Int)
      extends Aggregator[String, JMap, Map[String, Long]] {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    private val soft = capacity * 2

    def zero: JMap = new JMap()
    def reduce(buf: JMap, tok: String): JMap = {
      // nulls are ignored like built-in aggregates — a null key would
      // otherwise crash the Map output encoder at finish()
      if (tok != null) {
        buf.merge(tok, 1L, (a, b) => a + b)
        if (buf.size > soft) return trim(buf, capacity)
      }
      buf
    }
    def merge(b1: JMap, b2: JMap): JMap = {
      val it = b2.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        b1.merge(e.getKey, e.getValue, (a, b) => a + b)
      }
      trim(b1, capacity)
    }
    def finish(r: JMap): Map[String, Long] = {
      trim(r, capacity)
      val b = Map.newBuilder[String, Long]
      val it = r.entrySet().iterator()
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[JMap] =
      org.apache.spark.sql.Encoders.kryo[JMap]
    def outputEncoder: ExpressionEncoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
  }

  /** The sketch as an aggregate Column (item → approx count map), usable
    * in batch and streaming aggregations alike — the buffer is a
    * TypedImperativeAggregate, so Structured Streaming persists and merges
    * it across micro-batches in the state store.
    */
  def sketch(itemCol: Column, capacity: Int): Column = {
    val agg = udaf(new MGAgg(capacity), ExpressionEncoder[String]())
    agg(itemCol.cast("string"))
  }

  /** Aggregate an exploded item column into a frequency summary, then
    * return the top `k` by sketched count (count desc, item asc —
    * deterministic whenever the counts themselves are, i.e. always in the
    * exact regime). Output: item, approx_n, err_floor.
    *
    * `err_floor` = ⌊N/capacity⌋ is the Misra–Gries undercount bound: every
    * reported count is within [true − err_floor, true]. It is 0 exactly in
    * the exact regime, and in the approximate regime it tells consumers
    * how unstable the k-boundary may be (two items whose counts differ by
    * less than the floor can swap order across partitionings).
    */
  def topKSketch(df: DataFrame, itemCol: Column, capacity: Int, k: Int): DataFrame =
    df.select(itemCol.cast("string").as("__item"))
      .filter(col("__item").isNotNull)
      .agg(sketch(col("__item"), capacity).as("__summary"),
        count(lit(1)).as("__n"))
      .select(explode(col("__summary")).as(Seq("item", "approx_n")),
        floor(col("__n") / capacity).cast("long").as("err_floor"))
      .orderBy(col("approx_n").desc, col("item").asc)
      .limit(k)
}
