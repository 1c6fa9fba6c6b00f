package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: the bench's [[GraftSession]],
  * deliberately multi-partition (local[4], 7 shuffle partitions) so
  * order/boundary bugs in positional operators can't hide in a
  * single-partition run — the Spark analog of the reference's
  * multi-worker test matrix (api::RunLocalTests,
  * thrill/api/context.hpp:485-499).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.get(cpus = 4)
    s.conf.set("spark.sql.shuffle.partitions", "7")
    s
  }
}
