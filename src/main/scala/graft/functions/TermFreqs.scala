package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document term frequencies as ONE expression: given a STRING text,
  * returns `ARRAY<STRUCT<dl INT, w STRING, tf BIGINT>>` — one element per
  * distinct whitespace token `w` in first-occurrence order, with `tf` its
  * occurrence count and `dl` the document's token count (the same on every
  * element). [[graft.corpus.Retrieval]]'s postings are an `inline` of it.
  *
  * Tokens are exactly `split(text, " ")`'s: `UTF8String.split(" ", -1)`,
  * the call Spark's `StringSplit` makes, so leading, trailing and doubled
  * spaces yield empty tokens and `""` is one empty token. The count is one
  * pass over the tokens through a hash map — O(dl), where the declarative
  * `dl − size(array_remove(tokens, w))` per distinct term was O(dl ×
  * distinct terms).
  *
  * `vocab` (a driver-held term set, e.g. a query sheet's vocabulary) keeps
  * only the tokens in it; `dl` still counts every token. None keeps every
  * term. NULL text → NULL (an `inline`/`explode` of it yields no rows).
  *
  * WHY an expression: the per-row work then lives in this class, compiled
  * once per JVM, and the generated code only calls [[compute]] — its source
  * does not change with the vocabulary (the set rides the generated class's
  * reference array), so Spark's codegen cache serves every query and pass
  * with the same class. */
case class TermFreqs(child: Expression, vocab: Option[Set[String]])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"term_freqs expects a STRING input, got ${t.sql}")
    }

  override def dataType: DataType = TermFreqs.resultType
  override def prettyName: String = "term_freqs"
  // the plan string names the vocabulary's size, not its terms
  override protected def stringArgs: Iterator[Any] =
    Iterator(child) ++ vocab.map(v => s"vocab=${v.size}")

  @transient private lazy val keep: java.util.HashSet[UTF8String] =
    vocab.map { v =>
      val s = new java.util.HashSet[UTF8String](v.size * 2)
      v.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }.orNull

  /** The per-row kernel; also the body generated code calls into.
    * Public-to-codegen, not API. */
  def compute(text: UTF8String): GenericArrayData = {
    val toks = text.split(TermFreqs.Space, -1)
    val dl = toks.length
    val slot = new java.util.HashMap[UTF8String, Integer]()
    val words = new Array[UTF8String](dl)
    val counts = new Array[Long](dl)
    var n = 0
    var i = 0
    while (i < dl) {
      val t = toks(i)
      if (keep == null || keep.contains(t)) {
        val j = slot.get(t)
        if (j == null) {
          slot.put(t, Integer.valueOf(n)); words(n) = t; counts(n) = 1L; n += 1
        } else counts(j.intValue()) += 1L
      }
      i += 1
    }
    val rows = new Array[Any](n)
    i = 0
    while (i < n) {
      rows(i) = new GenericInternalRow(Array[Any](dl, words(i), counts(i)))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override protected def nullSafeEval(text: Any): Any =
    compute(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      val self = ctx.addReferenceObj("termFreqs", this, classOf[TermFreqs].getName)
      s"${ev.value} = $self.compute($t);"
    })

  override protected def withNewChildInternal(newChild: Expression): TermFreqs =
    copy(child = newChild)
}

object TermFreqs {
  private val Space = UTF8String.fromString(" ")

  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("dl", IntegerType, nullable = false),
    StructField("w", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)
}
