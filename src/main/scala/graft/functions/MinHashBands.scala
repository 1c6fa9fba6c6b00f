package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Fused MinHash-signature + LSH-banding as ONE native Catalyst expression
  * with codegen: computes the `numHashes`-register signature
  * (sig(i) = min over tokens of fmix64(hash64(tok) ^ seed(i)), exactly
  * [[Dedup.minHashSignature]]) and immediately folds each of the `bands`
  * register groups into its bucket hash, returning `array<long>` of the
  * `bands` bucket values.
  *
  * Why fused: the UDF pipeline this replaces (`minhashUdf` then
  * `bandsUdf`) pays TWO Scala-UDF boundaries per row — each one a
  * Tungsten→GenericRow→Tungsten round trip, with the 96-register
  * signature materialized as a boxed Seq[Long] between them just to be
  * consumed immediately. Fused, the signature lives in a scalar
  * `long[96]` inside whole-stage codegen and only the `bands` bucket
  * longs reach the row. Equality with the UDF pipeline is spec-pinned
  * (FunctionsSpec); SCALE.md ("Training-data ops", MinHash LSH) records
  * the measured win.
  *
  * Null tokens are skipped (matching the UDF's Seq view of a non-null
  * array); a null token ARRAY yields null, like every UnaryExpression.
  */
case class MinHashBandsExpr(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression {
  require(numHashes >= 1 && bands >= 1 && numHashes % bands == 0,
    s"bands must divide numHashes, got $numHashes/$bands")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_bands requires array<string>, got ${other.catalogString}")
  }

  @transient private lazy val sd: Array[Long] = Dedup.seeds(numHashes)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val n = arr.numElements()
    var t = 0
    while (t < n) {
      if (!arr.isNullAt(t)) {
        val h = Dedup.hash64(arr.getUTF8String(t).toString)
        var i = 0
        while (i < numHashes) {
          val v = Dedup.fmix64(h ^ sd(i))
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      t += 1
    }
    val rows = numHashes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0xcbf29ce484222325L + b
      var i = 0
      while (i < rows) { h = Dedup.fmix64(h ^ sig(b * rows + i)); i += 1 }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val seedsRef = ctx.addReferenceObj("mhSeeds", sd, "long[]")
      val sig = ctx.freshName("sig")
      val t = ctx.freshName("t")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val out = ctx.freshName("out")
      val rows = numHashes / bands
      s"""
         |long[] $sig = new long[$numHashes];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $t = 0; $t < $c.numElements(); $t++) {
         |  if (!$c.isNullAt($t)) {
         |    long $h = graft.functions.Dedup$$.MODULE$$.hash64(
         |      $c.getUTF8String($t).toString());
         |    for (int $i = 0; $i < $numHashes; $i++) {
         |      long $v = graft.functions.Dedup$$.MODULE$$.fmix64($h ^ $seedsRef[$i]);
         |      if ($v < $sig[$i]) $sig[$i] = $v;
         |    }
         |  }
         |}
         |long[] $out = new long[$bands];
         |for (int $b = 0; $b < $bands; $b++) {
         |  long $h = 0xcbf29ce484222325L + $b;
         |  for (int $i = 0; $i < $rows; $i++) {
         |    $h = graft.functions.Dedup$$.MODULE$$.fmix64($h ^ $sig[$b * $rows + $i]);
         |  }
         |  $out[$b] = $h;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashBandsExpr =
    copy(child = newChild)
}

object MinHashBandsExpr {
  import org.apache.spark.sql.GraftColumnShim
  def minhash_bands(c: Column, numHashes: Int, bands: Int): Column =
    GraftColumnShim.toColumn(
      MinHashBandsExpr(GraftColumnShim.toExpression(c), numHashes, bands))
}
