package thrillbench

import org.apache.spark.sql.SparkSession

/** One pass's outcome: a digest every timed pass must reproduce, the
  * workload's own per-pass figures, and the outputs the oracle checks.
  */
final case class PassOut(digest: String, figures: Map[String, Double],
    outputs: AnyRef)

/** A seeded workload that drives the program only through its public
  * functions.
  */
trait Workload {
  def name: String
  /** Builds the driver-side inputs for `seed` (part of set-up). */
  def generate(seed: Long): Unit
  /** One pass over the inputs. */
  def pass(spark: SparkSession, t: Tracer): PassOut
  /** Untimed oracle over a pass' outputs: one entry per check, with the
    * failure message if it failed.
    */
  def check(spark: SparkSession, out: PassOut): Seq[(String, Option[String])]
}

object Workload {
  val all: Map[String, () => Workload] = Map(
    "dia_ordered" -> (() => new DiaOrdered),
    "dedup_clusters" -> (() => new DedupClusters))

  /** Order-independent digest of a collection of rows. */
  def digest(rows: Iterable[Any]): String =
    f"${rows.size}:${rows.iterator.map(r => Gen.mix(r.##.toLong)).sum}%016x"

  def expect(name: String, ok: Boolean, msg: => String): (String, Option[String]) =
    (name, if (ok) None else Some(msg))
}
