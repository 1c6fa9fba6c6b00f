package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The one owner of operator-local caches — Thrill's consume counter
  * (`Keep`/`Dispose`, thrill/api/dia.hpp:295-335) for a lazy engine.
  *
  * An operator persists an intermediate that its internal passes and its
  * deferred output both read, so it cannot unpersist before it returns.
  * It [[hold]]s the cache instead, and one rule decides when it goes:
  *
  *  - a hold made while a [[scope]] is open on the thread belongs to the
  *    OUTERMOST scope; when that scope returns, its holds pass to the
  *    session's first Dataset action that completes or fails and whose
  *    `QueryExecution` is newer than the return — the caller's action on
  *    the returned frame. That action unpersists every hold with
  *    `blocking = true`, on the listener-bus thread, so draining the bus
  *    waits for the release. If the body throws, the holds go at once;
  *  - a hold with no open scope is its own scope and hands off at once.
  *
  * So no Dataset action the operator (or a callee) runs INSIDE its scope
  * can release its holds: an operator that runs a Dataset action after it
  * or a callee has held something opens a scope around its body, and
  * every gate builder runs inside one (`SparkEntry.queries`). RDD actions
  * never release: they do not reach `QueryExecutionListener`s. Nor does
  * `Dataset.rdd`: Spark 4.1 runs it as an execution named `"rdd"` and
  * reports it to the listeners, but it only builds the RDD (running at most
  * the plan's exchanges) and consumes nothing. Every positional operator
  * converts its input with it, so counting it would drop an operator's
  * cache as soon as the next operator is built, before anything read it.
  *
  * Caveat of the id filter: `collect()` on the returned frame itself runs
  * that frame's own `QueryExecution`, which predates the return, so the
  * release waits for the caller's next action. Every consumer here
  * (write, count, agg/head, isEmpty, a derived frame) builds a fresh one.
  */
object Release {

  /** Releases held by the scope open on this thread (null: none open). */
  private val open = new ThreadLocal[ArrayBuffer[() => Unit]]

  /** Run `body`, handing every hold made inside it (callees included) to
    * the first Dataset action after it returns. Nested scopes join the
    * outermost one.
    */
  def scope[T](spark: SparkSession)(body: => T): T =
    if (open.get != null) body
    else {
      val holds = ArrayBuffer.empty[() => Unit]
      open.set(holds)
      val out = try body catch { case e: Throwable => holds.foreach(_()); throw e }
        finally open.remove()
      handOff(spark, holds.toSeq)
      out
    }

  def hold(spark: SparkSession, rdd: RDD[_]): Unit =
    add(spark, () => rdd.unpersist(blocking = true))

  def hold(spark: SparkSession, bc: Broadcast[_]): Unit =
    add(spark, () => bc.unpersist(blocking = true))

  def hold(dfs: Dataset[_]*): Unit =
    dfs.foreach(df => add(df.sparkSession, () => df.unpersist(blocking = true)))

  private def add(spark: SparkSession, release: () => Unit): Unit =
    open.get match {
      case null => handOff(spark, Seq(release))
      case holds => holds += release
    }

  private def handOff(spark: SparkSession, holds: Seq[() => Unit]): Unit =
    if (holds.nonEmpty) {
      val lm = spark.listenerManager
      // The bus delivers each queued event to the listeners registered at
      // DELIVERY time, so actions that completed before this point could
      // still reach the listener. QueryExecution ids are monotone, and this
      // throwaway one (analysis only, no job) is the high-water mark.
      val baselineId = spark.range(0).queryExecution.id
      lm.register(new QueryExecutionListener {
        private def fire(funcName: String, qe: QueryExecution): Unit =
          if (funcName != "rdd" && qe.id > baselineId) {
            lm.unregister(this); holds.foreach(_())
          }
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit = fire(funcName, qe)
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit = fire(funcName, qe)
      })
    }
}
