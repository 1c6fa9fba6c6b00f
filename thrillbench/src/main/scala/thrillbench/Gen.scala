package thrillbench

/** Seeded input generators. The seed changes content only: ids and keys,
  * row counts, cluster sizes and their chain shape are fixed, so every
  * seed asks the program for the same amount of work.
  */
object Gen {

  /** murmur3 finalizer: a bijection on 64-bit words. */
  def mix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  def hash(seed: Long, parts: Long*): Long =
    parts.foldLeft(mix(seed ^ 0x9e3779b97f4a7c15L))((h, p) => mix(h ^ mix(p)))

  /** A token from a 2^24-word vocabulary: unrelated texts share no
    * bigram and no floor-length span in practice.
    */
  def token(seed: Long, parts: Long*): String =
    f"w${hash(seed, parts: _*) & 0xffffffL}%06x"

  // ---- dia_ordered ------------------------------------------------------

  /** Two inputs of distinct (key, value) records. Keys and their input
    * order are fixed, like ids, so the sort's sampled range bounds and
    * partition sizes are the same for every seed; the seed draws the
    * values. Keys are distinct across both inputs (`mix` is a bijection);
    * values are 20-bit, so every sum stays far from overflow.
    */
  final case class Ordered(a: Array[(Long, Long)], b: Array[(Long, Long)])

  def ordered(seed: Long, rowsA: Int, rowsB: Int): Ordered = {
    def row(i: Long): (Long, Long) = {
      val k = mix(i ^ 0x5bd1e995L)
      (k, hash(seed, 2, k) >>> 44)
    }
    Ordered(Array.tabulate(rowsA)(i => row(i.toLong)),
      Array.tabulate(rowsB)(i => row(rowsA.toLong + i)))
  }

  // ---- dedup_clusters ---------------------------------------------------

  val DocTokens = 50
  val ClusterSize = 5
  /** Chain order of a cluster's members: member `ChainOrder(j)` is step j
    * of the chain, so the chain runs 2-0-4-1-3 and labels need several
    * connected-components rounds.
    */
  val ChainOrder: Array[Int] = Array(2, 0, 4, 1, 3)
  /** Token positions replaced at chain step j (1-based): three interior
    * positions, two apart from every other step's, so each step changes
    * exactly 6 of the 49 bigrams. Adjacent members share 43 of 55 bigrams
    * (Jaccard 0.78); members two steps apart share 37 of 61 (0.61).
    */
  def stepPositions(j: Int): Seq[Int] = Seq(5 + 2 * j, 20 + 2 * j, 35 + 2 * j)
  val Threshold = 0.7

  final case class Corpus(docs: Array[(Long, String)],
      planted: Set[(Long, Long)], clusters: Int)

  /** `clusters` chains of [[ClusterSize]] near-duplicates plus `singletons`
    * unrelated documents. Member m of cluster c has id `c + m * clusters`;
    * singletons follow.
    */
  def clusters(seed: Long, clusters: Int, singletons: Int): Corpus = {
    val docs = Array.newBuilder[(Long, String)]
    val planted = Set.newBuilder[(Long, Long)]
    for (c <- 0 until clusters) {
      val toks = Array.tabulate(DocTokens)(p => token(seed, 3, c, p))
      var prev = -1L
      for (j <- 0 until ClusterSize) {
        if (j > 0) stepPositions(j).foreach(p => toks(p) = token(seed, 4, c, j, p))
        val id = c.toLong + ChainOrder(j).toLong * clusters
        docs += ((id, toks.mkString(" ")))
        if (prev >= 0) planted += ((math.min(prev, id), math.max(prev, id)))
        prev = id
      }
    }
    val base = clusters.toLong * ClusterSize
    for (s <- 0 until singletons)
      docs += ((base + s,
        Array.tabulate(DocTokens)(p => token(seed, 5, s, p)).mkString(" ")))
    Corpus(docs.result(), planted.result(), clusters)
  }

  /** Exact bigram-set Jaccard, the definition the program verifies. */
  def jaccard(a: String, b: String): Double = {
    def bigrams(s: String): Set[(String, String)] = {
      val t = s.split(" ").filter(_.nonEmpty)
      t.iterator.sliding(2).withPartial(false).map(w => (w(0), w(1))).toSet
    }
    val (x, y) = (bigrams(a), bigrams(b))
    val inter = (x intersect y).size
    val union = x.size + y.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}
