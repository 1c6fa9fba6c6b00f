package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Per-key top-k as a bounded-buffer typed [[Aggregator]] — the scale
  * answer to "top k rows per group".
  *
  * The naive form (`row_number() OVER (PARTITION BY key ORDER BY score)`
  * then `rank <= k`) sorts EVERY group's full row set; at 100 TB that is a
  * shuffle of the whole table followed by a per-group sort of millions of
  * rows to keep three of them. This aggregator keeps an O(k) bounded heap
  * per (key, partition): Spark plans it as a partial ObjectHashAggregate
  * before the shuffle, so only k rows per key per map partition cross the
  * wire, and no sort of the full data ever happens. (The global top-k
  * sibling is Catalyst's own TakeOrderedAndProject, used by q_topk_orders;
  * the reference has no grouped variant — superset capability.)
  *
  * Determinism: ordering is (score desc, id asc), so ties at the k-boundary
  * resolve identically on any partitioning — required for the DuckDB
  * oracle hash-match and asserted by the partition-invariance test.
  *
  * Null scores/ids are dropped (documented contract, mirroring
  * `Selection.selectRanks`): a null score has no place in a ranking and
  * would otherwise poison the tuple encoder with a silent 0.0.
  */
object TopK {

  private type Item = (Double, Long) // (score, id)

  /** score desc, id asc — SQL double semantics (the exact comparison
    * Spark's SQLOrderingUtil uses): `==` first so -0.0 ties 0.0 like both
    * engines' sorts, then `Double.compare` so the order stays TOTAL under
    * NaN (plain `>` returns false against NaN, which would make the
    * buffer arrival-order-dependent; Double.compare ranks NaN above +Inf,
    * matching Spark's and DuckDB's sort order, and NaN-vs-NaN falls
    * through to the id tie-break).
    */
  private def before(a: Item, b: Item): Boolean = {
    val c = if (a._1 == b._1) 0 else java.lang.Double.compare(a._1, b._1)
    c > 0 || (c == 0 && a._2 < b._2)
  }

  /** Bounded worst-first binary heap over two PRIMITIVE arrays: no per-row
    * tuple boxing on insert (the PriorityQueue[(Double, Long)] it replaces
    * boxed every candidate and compared through the tuple comparator), and
    * the kryo buffer encoder serializes two flat arrays + two ints instead
    * of a boxed-object graph at partial-output boundaries. O(1) reject
    * against the root / O(log k) insert, flat in k.
    */
  // public (not private) solely because Encoders.kryo refuses non-public
  // classes; not part of the operator's API surface
  final class TopKHeap(val k: Int) extends Serializable {
    var n = 0
    val scores = new Array[Double](k)
    val ids = new Array[Long](k)

    /** strict "ranks ahead of" — same total order as [[before]]. */
    @inline private def ahead(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
      val c = if (s1 == s2) 0 else java.lang.Double.compare(s1, s2)
      c > 0 || (c == 0 && i1 < i2)
    }
    /** slot a holds a WORSE item than slot b (heap keeps worst at root 0) */
    @inline private def worse(a: Int, b: Int): Boolean =
      ahead(scores(b), ids(b), scores(a), ids(a))

    private def swap(a: Int, b: Int): Unit = {
      val s = scores(a); scores(a) = scores(b); scores(b) = s
      val i = ids(a); ids(a) = ids(b); ids(b) = i
    }
    def insert(s: Double, i: Long): Unit =
      if (n < k) {
        scores(n) = s; ids(n) = i; n += 1
        var idx = n - 1
        while (idx > 0 && worse(idx, (idx - 1) / 2)) {
          swap(idx, (idx - 1) / 2); idx = (idx - 1) / 2
        }
      } else if (ahead(s, i, scores(0), ids(0))) {
        scores(0) = s; ids(0) = i
        var idx = 0
        var done = false
        while (!done) {
          val l = 2 * idx + 1
          val r = l + 1
          var m = idx
          if (l < n && worse(l, m)) m = l
          if (r < n && worse(r, m)) m = r
          if (m == idx) done = true else { swap(idx, m); idx = m }
        }
      }
  }

  // Buffer is the primitive-array heap behind the kryo encoder (live
  // object inside ObjectHashAggregate, serialized only at partial-output
  // boundaries). The sorted-List buffer of round 3 was O(k) per insert —
  // 2.9 s vs the window's 0.6 s at k=1000 on 6M rows (SCALE.md, "Grouped
  // top-k buffer"); round 4's tuple heap fixed the asymptotics, round 5's
  // primitive arrays cut the remaining boxing constant.
  private final class TopKAgg(k: Int)
      extends Aggregator[Item, TopKHeap, Seq[Item]] {
    require(k >= 1, s"k must be >= 1, got $k")

    def zero: TopKHeap = new TopKHeap(k)
    def reduce(buf: TopKHeap, a: Item): TopKHeap = {
      buf.insert(a._1, a._2)
      buf
    }
    def merge(b1: TopKHeap, b2: TopKHeap): TopKHeap = {
      val (into, from) = if (b1.n >= b2.n) (b1, b2) else (b2, b1)
      var j = 0
      while (j < from.n) { into.insert(from.scores(j), from.ids(j)); j += 1 }
      into
    }
    def finish(r: TopKHeap): Seq[Item] = {
      val arr = new Array[Item](r.n)
      var j = 0
      while (j < r.n) { arr(j) = (r.scores(j), r.ids(j)); j += 1 }
      arr.sortWith(before).toSeq
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[TopKHeap] =
      org.apache.spark.sql.Encoders.kryo[TopKHeap]
    def outputEncoder: ExpressionEncoder[Seq[Item]] =
      ExpressionEncoder[Seq[Item]]()
  }

  /** Top `k` rows per distinct value of `keyCols`, ranked by `scoreCol`
    * descending with `idCol` ascending as tie-break. Output columns:
    * keyCols…, rank (1-based int), idCol (long), scoreCol (double).
    */
  def topKPerKey(df: DataFrame, keyCols: Seq[String], scoreCol: String,
      idCol: String, k: Int): DataFrame = {
    val agg = udaf(new TopKAgg(k), ExpressionEncoder[Item]())
    df.filter(col(scoreCol).isNotNull && col(idCol).isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(agg(col(scoreCol).cast("double"), col(idCol).cast("long"))
        .as("__topk"))
      .select(keyCols.map(col) :+ posexplode(col("__topk")): _*)
      .select(keyCols.map(col) ++ Seq(
        (col("pos") + 1).cast("int").as("rank"),
        col("col._2").as(idCol),
        col("col._1").as(scoreCol)): _*)
  }

  private type SItem = (String, Long) // (order key, id)

  /** Bounded worst-at-root heap keeping the k SMALLEST (key, id) pairs in
    * ascending (key asc, id asc) order — the [[TopKHeap]] shape with the
    * comparison inverted and the score a STRING. Keys are expected to be
    * fixed-width ASCII (md5 hex in the sampling use): there Java
    * `String.compareTo` (UTF-16 code units) agrees with Spark's UTF8String
    * binary order and DuckDB's collation, so the heap reproduces exactly
    * the order `ORDER BY key, id` yields in either engine.
    */
  // public solely because Encoders.kryo refuses non-public classes
  final class BottomKHeap(val k: Int) extends Serializable {
    var n = 0
    val keys = new Array[String](k)
    val ids = new Array[Long](k)

    /** strict "ranks ahead of" — ascending total order. */
    @inline private def ahead(k1: String, i1: Long, k2: String, i2: Long): Boolean = {
      val c = k1.compareTo(k2)
      c < 0 || (c == 0 && i1 < i2)
    }
    /** slot a holds a WORSE (larger) item than slot b */
    @inline private def worse(a: Int, b: Int): Boolean =
      ahead(keys(b), ids(b), keys(a), ids(a))

    private def swap(a: Int, b: Int): Unit = {
      val s = keys(a); keys(a) = keys(b); keys(b) = s
      val i = ids(a); ids(a) = ids(b); ids(b) = i
    }
    def insert(s: String, i: Long): Unit =
      if (n < k) {
        keys(n) = s; ids(n) = i; n += 1
        var idx = n - 1
        while (idx > 0 && worse(idx, (idx - 1) / 2)) {
          swap(idx, (idx - 1) / 2); idx = (idx - 1) / 2
        }
      } else if (ahead(s, i, keys(0), ids(0))) {
        keys(0) = s; ids(0) = i
        var idx = 0
        var done = false
        while (!done) {
          val l = 2 * idx + 1
          val r = l + 1
          var m = idx
          if (l < n && worse(l, m)) m = l
          if (r < n && worse(r, m)) m = r
          if (m == idx) done = true else { swap(idx, m); idx = m }
        }
      }
  }

  private final class BottomKAgg(k: Int)
      extends Aggregator[SItem, BottomKHeap, Seq[SItem]] {
    require(k >= 1, s"k must be >= 1, got $k")

    def zero: BottomKHeap = new BottomKHeap(k)
    def reduce(buf: BottomKHeap, a: SItem): BottomKHeap = {
      buf.insert(a._1, a._2)
      buf
    }
    def merge(b1: BottomKHeap, b2: BottomKHeap): BottomKHeap = {
      val (into, from) = if (b1.n >= b2.n) (b1, b2) else (b2, b1)
      var j = 0
      while (j < from.n) { into.insert(from.keys(j), from.ids(j)); j += 1 }
      into
    }
    def finish(r: BottomKHeap): Seq[SItem] = {
      val arr = new Array[SItem](r.n)
      var j = 0
      while (j < r.n) { arr(j) = (r.keys(j), r.ids(j)); j += 1 }
      arr.sortWith { (a, b) =>
        val c = a._1.compareTo(b._1)
        c < 0 || (c == 0 && a._2 < b._2)
      }.toSeq
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[BottomKHeap] =
      org.apache.spark.sql.Encoders.kryo[BottomKHeap]
    def outputEncoder: ExpressionEncoder[Seq[SItem]] =
      ExpressionEncoder[Seq[SItem]]()
  }

  /** FIRST `k` rows per distinct value of `keyCols` in ascending
    * (`orderCol`, `idCol`) order — the deterministic-sampling sibling of
    * [[topKPerKey]] (`row_number() OVER (PARTITION BY key ORDER BY ord,
    * id) <= k` without the per-group sort). Output columns: keyCols…,
    * rank (1-based int), idCol (long), orderCol (string).
    *
    * Null order keys / ids are dropped (same contract as [[topKPerKey]]).
    *
    * 100 TB posture: the input shrinks to (key, order, id) scalars before
    * any shuffle, the partial ObjectHashAggregate caps each map
    * partition's contribution at k rows per key, and no corpus-sized sort
    * or shuffle exists — where the window form must shuffle EVERY input
    * row (text and all) into #keys reducer partitions and sort them.
    */
  def bottomKPerKey(df: DataFrame, keyCols: Seq[String], orderCol: String,
      idCol: String, k: Int): DataFrame = {
    val agg = udaf(new BottomKAgg(k), ExpressionEncoder[SItem]())
    df.filter(col(orderCol).isNotNull && col(idCol).isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(agg(col(orderCol).cast("string"), col(idCol).cast("long"))
        .as("__botk"))
      .select(keyCols.map(col) :+ posexplode(col("__botk")): _*)
      .select(keyCols.map(col) ++ Seq(
        (col("pos") + 1).cast("int").as("rank"),
        col("col._2").as(idCol),
        col("col._1").as(orderCol)): _*)
  }
}
