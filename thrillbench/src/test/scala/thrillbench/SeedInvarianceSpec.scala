package thrillbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The seed may change content only: planted structure and the work the
  * program is asked to do must be identical under any two seeds.
  */
class SeedInvarianceSpec extends AnyFunSuite {

  private def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  test("ordered inputs: same keys in the same order, different values") {
    val (x, y) = (Gen.ordered(1, 500, 200), Gen.ordered(2, 500, 200))
    assert(x.a.map(_._1).toSeq == y.a.map(_._1).toSeq)
    assert(x.b.map(_._1).toSeq == y.b.map(_._1).toSeq)
    for (g <- Seq(x, y)) {
      val keys = (g.a ++ g.b).map(_._1)
      assert(keys.distinct.length == keys.length)
      assert((g.a ++ g.b).forall { case (_, v) => v >= 0 && v < (1L << 20) })
    }
    assert(x.a.toSeq != y.a.toSeq)
  }

  test("near-dup corpus: same ids, planted pairs and similarities") {
    val (x, y) = (Gen.clusters(1, 20, 30), Gen.clusters(2, 20, 30))
    assert(x.docs.map(_._1).toSeq == y.docs.map(_._1).toSeq)
    assert(x.planted == y.planted)
    assert(x.planted.size == 20 * (Gen.ClusterSize - 1))
    assert(x.docs.map(_._2).toSeq != y.docs.map(_._2).toSeq)
    for (g <- Seq(x, y)) {
      val text = g.docs.toMap
      for ((a, b) <- g.planted) assert(Gen.jaccard(text(a), text(b)) == 43.0 / 55)
      // members two chain steps apart stay below the threshold
      val c0 = Gen.ChainOrder.map(m => m.toLong * g.clusters)
      assert(Gen.jaccard(text(c0(0)), text(c0(2))) == 37.0 / 61)
      assert(37.0 / 61 < Gen.Threshold && Gen.Threshold < 43.0 / 55)
    }
  }

  test("traced passes: same jobs, stages, tasks and CC rounds under two seeds") {
    val work = Files.createTempDirectory("thrillbench-spec").toFile
    val spark = Main.session(work)
    try {
      def counts(wl: Workload, seed: Long): Map[String, Double] = {
        wl.generate(seed)
        Main.reset(spark)
        val warm = Main.measure(spark, wl, traced = false)
        assert(wl.check(spark, warm.out).forall(_._2.isEmpty))
        Main.reset(spark)
        val m = Main.measure(spark, wl, traced = true)
        val layers = m.layers.get
        assert(layers("trace.selftime_err") < 0.1)
        (layers ++ m.out.figures).filter { case (k, _) =>
          Seq("spark.jobs", "spark.stages", "spark.tasks", "operators.cc.rounds",
            "functions.dedup.verified_pairs").contains(k)
        }
      }
      for (mk <- Seq(() => new DiaOrdered(3000, 1000), () => new DedupClusters(20, 60))) {
        assert(counts(mk(), 1) == counts(mk(), 2))
      }
    } finally {
      spark.stop()
      delete(work)
    }
  }
}
