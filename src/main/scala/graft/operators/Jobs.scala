package graft.operators

import org.apache.spark.SparkContext

/** Names the Spark jobs an operator runs eagerly, as `<operator>:<phase>`,
  * so the event log and a listener attribute them to the operator and
  * phase that started them instead of to the caller's action.
  */
object Jobs {

  /** The local property Spark reads a job's description from. */
  private[graft] val Description = "spark.job.description"

  /** Runs `body` with the job description `name`, then restores the
    * caller's description (none, if it had none). Only the description is
    * touched: a caller's job group stays in force for the body's jobs.
    */
  def named[A](sc: SparkContext, name: String)(body: => A): A = {
    val caller = sc.getLocalProperty(Description)
    sc.setLocalProperty(Description, name)
    try body
    finally sc.setLocalProperty(Description, caller)
  }
}
