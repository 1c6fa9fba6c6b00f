package thrillbench

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.functions.Dedup
import graft.operators.ConnectedComponents

/** Near-duplicate clustering: minhashBands -> lshCandidatePairs ->
  * verifiedNearDupPairs -> ConnectedComponents.labelsWithRounds over a
  * corpus of planted near-duplicate chains and unrelated singletons. The
  * text-and-shuffle family with a data-dependent iterative loop; touches
  * no DIA or span-index code.
  */
final class DedupClusters(clusters: Int = 100, singletons: Int = 500)
    extends Workload {
  import DedupClusters._

  val name = "dedup_clusters"
  private var in: Gen.Corpus = _

  def generate(seed: Long): Unit = in = Gen.clusters(seed, clusters, singletons)

  def pass(spark: SparkSession, t: Tracer): PassOut = {
    import spark.implicits._
    val docs = in.docs.toSeq.toDF("id", "text")
    t.span("functions.dedup.sign")(
      Dedup.minhashBands(docs, "id", "text").count())
    val candidates = t.span("functions.dedup.candidates")(
      Dedup.lshCandidatePairs(docs, "id", "text").count())
    val (verified, pairs) = t.span("functions.dedup.verify") {
      val v = Dedup.verifiedNearDupPairs(docs, "id", "text", Gen.Threshold)
        .persist(StorageLevel.MEMORY_AND_DISK)
      (v, v.as[(Long, Long, Double)].collect().toSeq)
    }
    val (labels, rounds) = t.span("operators.cc.labels") {
      val (lab, r) = ConnectedComponents.labelsWithRounds(verified, "id_a", "id_b")
      (lab.as[(Long, Long)].collect().toMap, r)
    }
    verified.unpersist(blocking = true)
    val found = pairs.count(p => in.planted((p._1, p._2)))
    PassOut(Workload.digest(pairs.map(p => (p._1, p._2)) ++ labels ++ Seq(rounds)),
      Map("functions.dedup.candidate_pairs" -> candidates.toDouble,
        "functions.dedup.verified_pairs" -> pairs.size.toDouble,
        "functions.dedup.verify_yield" ->
          (if (candidates == 0) 0.0 else pairs.size.toDouble / candidates),
        "functions.dedup.pair_recall" -> found.toDouble / in.planted.size,
        "operators.cc.rounds" -> rounds.toDouble),
      Outputs(pairs, labels))
  }

  def check(spark: SparkSession, out: PassOut): Seq[(String, Option[String])] = {
    import Workload.expect
    val o = out.outputs.asInstanceOf[Outputs]
    val text = in.docs.toMap
    val wrongJ = o.pairs.filterNot { case (a, b, j) =>
      val exact = Gen.jaccard(text(a), text(b))
      math.abs(exact - j) < 1e-9 && exact >= Gen.Threshold && a < b
    }
    val recall = out.figures("functions.dedup.pair_recall")
    val edges = spark.sparkContext.parallelize(
      o.pairs.map { case (a, b, _) => Edge(a, b, 1) }, 4)
    val ref = Graph.fromEdges(edges, 0).connectedComponents()
      .vertices.collect().toMap
    Seq(
      expect("verified_jaccard", wrongJ.isEmpty,
        s"${wrongJ.size} verified pairs disagree with the exact Jaccard, e.g. ${wrongJ.take(3)}"),
      expect("pair_recall", recall >= MinRecall,
        s"pair recall $recall below $MinRecall"),
      expect("labels_graphx", o.labels == ref,
        s"labels differ from GraphX connectedComponents on " +
          s"${(o.labels.keySet ++ ref.keySet).count(k => o.labels.get(k) != ref.get(k))} nodes"))
  }
}

object DedupClusters {
  /** LSH misses a planted pair (Jaccard 0.78) with probability ~1.3e-5,
    * so a floor below 1 keeps a rare miss from failing a run.
    */
  val MinRecall = 0.99

  final case class Outputs(pairs: Seq[(Long, Long, Double)],
      labels: Map[Long, Long])
}
