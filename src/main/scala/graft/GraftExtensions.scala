package graft

import org.apache.spark.sql.{GraftColumnShim, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.expressions.UserDefinedFunction

import graft.functions.{CosineSim, RollingHash, SimHash64Expr, Text, TokenCount}

/** Session extensions exposing graft's SQL functions. Activate with
  * `--conf spark.sql.extensions=graft.GraftExtensions`, or call
  * `GraftExtensions.register(spark)` on a live session ([[GraftSession]]
  * does). Both install exactly [[GraftExtensions.functions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, builder) =>
      e.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
}

object GraftExtensions {
  /** A Scala UDF as a Catalyst builder, named `name` in SQL output. */
  private def viaUdf(name: String, f: UserDefinedFunction): Seq[Expression] => Expression = {
    val named = f.withName(name)
    exprs => GraftColumnShim.udfExpression(named, exprs)
  }

  /** Every graft SQL function: name -> Catalyst builder. (The pure Column
    * combinators in graft.functions.Text need no registration — they
    * compile to built-in expressions usable from SQL already.)
    */
  private[graft] val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "rolling_hash" -> (exprs => RollingHash(exprs.head)),
    "token_count" -> (exprs => TokenCount(exprs.head)),
    "cosine_sim" -> (exprs => CosineSim(exprs(0), exprs(1))),
    "simhash64" -> (exprs => SimHash64Expr(exprs.head)),
    "lang_id" -> viaUdf("lang_id", Text.langIdUdf),
    "nfc_normalize" -> viaUdf("nfc_normalize", Text.nfcUdf))

  /** Installs the [[functions]] `spark` does not have yet; idempotent,
    * like the extension class's injection, which it then finds in place.
    */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      if (!spark.catalog.functionExists(name))
        GraftColumnShim.registerFunction(spark, name, builder)
    }
}
