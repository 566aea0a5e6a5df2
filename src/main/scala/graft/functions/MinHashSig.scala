package graft.functions

import org.apache.spark.sql.{Column, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Per-row MinHash signature of a shingle array, as one compiled pass.
  *
  * Replaces the `explode` → `xxhash64` → 64-column `min` `groupBy` build:
  * that formulation shuffles one posting row per (doc × shingle) just to put
  * them back together again — the signature is a PER-DOCUMENT value and never
  * needed a shuffle. Here: base-hash each shingle once, then one min-scan per
  * hash function — the hash-once-then-salt scheme, byte-identical to the
  * declarative chain because it calls the same [[XXH64]] kernels in the same
  * fold order Spark's `xxhash64` uses (seed 42; base = hashUTF8String(s, 42);
  * salted_i = hashLong(base, hashInt(i, 42))). The eval==codegen and
  * narrow==declarative pins live in `EquivalenceSpec`.
  *
  * Contract: empty or sub-width shingle arrays yield an EMPTY signature (not
  * null) — callers filter `size(sig) > 0`, reproducing the groupBy build's
  * "no postings → no signature row" semantics. Null ELEMENTS inside the array
  * are seed-passthrough, mirroring `xxhash64`'s null semantics (a null input
  * leaves the running hash at its seed): a null shingle contributes base
  * hash 42 rather than throwing, so `minhash_sig(array('a', NULL), k)` is
  * well-defined for SQL callers.
  *
  * Going narrow also makes the signature streamable: a stateless projection
  * composes onto a streaming DataFrame, which the groupBy build (a streaming
  * aggregation) cannot.
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {

  require(numHashes >= 1, "numHashes must be >= 1")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig expects ARRAY<STRING>, got ${t.sql}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_sig"

  private val empty = new GenericArrayData(Array.empty[Any])

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return empty
    val sh = v.asInstanceOf[ArrayData]
    val n = sh.numElements()
    if (n == 0) return empty
    val base = new Array[Long](n)
    var j = 0
    while (j < n) {
      base(j) =
        if (sh.isNullAt(j)) 42L
        else XXH64.hashUTF8String(sh.getUTF8String(j), 42L)
      j += 1
    }
    val out = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      val seed = XXH64.hashInt(i, 42L)
      var m = Long.MaxValue
      j = 0
      while (j < n) {
        val h = XXH64.hashLong(base(j), seed)
        if (h < m) m = h
        j += 1
      }
      out(i) = m
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val arrCls = classOf[ArrayData].getName
    val gadCls = classOf[GenericArrayData].getName
    val xxhCls = classOf[XXH64].getName
    val emptyRef = ctx.addReferenceObj("emptySig", empty, gadCls)
    val sh = ctx.freshName("sh")
    val n = ctx.freshName("n")
    val base = ctx.freshName("base")
    val out = ctx.freshName("out")
    val boxed = ctx.freshName("boxed")
    val seed = ctx.freshName("seed")
    val m = ctx.freshName("m")
    val h = ctx.freshName("h")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val resultCode =
      code"""
         |${childGen.code}
         |$arrCls ${ev.value} = $emptyRef;
         |if (!${childGen.isNull}) {
         |  $arrCls $sh = ${childGen.value};
         |  int $n = $sh.numElements();
         |  if ($n > 0) {
         |    long[] $base = new long[$n];
         |    for (int $j = 0; $j < $n; $j++) {
         |      $base[$j] = $sh.isNullAt($j)
         |        ? 42L : $xxhCls.hashUTF8String($sh.getUTF8String($j), 42L);
         |    }
         |    Object[] $boxed = new Object[$numHashes];
         |    for (int $i = 0; $i < $numHashes; $i++) {
         |      long $seed = $xxhCls.hashInt($i, 42L);
         |      long $m = Long.MAX_VALUE;
         |      for (int $j = 0; $j < $n; $j++) {
         |        long $h = $xxhCls.hashLong($base[$j], $seed);
         |        if ($h < $m) $m = $h;
         |      }
         |      $boxed[$i] = $m;
         |    }
         |    ${ev.value} = new $gadCls($boxed);
         |  }
         |}
       """.stripMargin
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  def apply(shingles: Column, numHashes: Int): Column =
    GraftExpressionBridge.column(
      MinHashSig(GraftExpressionBridge.expression(shingles), numHashes))
}
