package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-group query-sheet slot sums, the scoring kernel of
  * [[graft.corpus.Retrieval]]'s dense tail: for each input row `(w, t)` — a
  * posting's term and its exact micro-unit contribution — every sheet query
  * holding `w` with weight `wt` gets `wt·t` added to its score slot and 1 to
  * its term-count slot. Output: `ARRAY<STRUCT<qid BIGINT, sm BIGINT, nt
  * BIGINT>>`, one element per query with `nt > 0`, in ascending qid order.
  *
  * Contract details, all pinned in `RetrievalKernelsSpec` against the
  * 2·|sheet|-column `sum(element_at(slot vector, i) · t)` aggregate it
  * replaces:
  *  - a term with weight 0 in a query still counts toward that query's `nt`
  *    (presence, not weight — RM3's half-up division can produce a zero
  *    micro weight);
  *  - a term in no sheet query, or a NULL term, adds nothing; a NULL `t`
  *    counts toward `nt` and adds nothing to `sm`, as a SUM skips it — but
  *    a slot whose every `t` was NULL reads `sm` 0, where the SUM read
  *    NULL (Retrieval's `t` is never NULL);
  *  - products and sums are `Math.multiplyExact`/`addExact`, so a long
  *    overflow throws as the ANSI sum does, never wraps;
  *  - sums are exact long additions, commutative, so the result does not
  *    depend on row or merge order.
  *
  * The buffer is one `long[2·|sheet|]` per group (scores, then counts), so
  * the sheet's width costs memory, not generated code: the aggregate is
  * compiled with this class, and no per-query column exists anywhere. It
  * serializes sparsely — only the slots with `nt > 0` — because a document
  * shares terms with few queries. `sheet` is normalized by
  * [[SheetSlotSums.of]]
  * (queries by qid, terms by name) into immutable Seqs, so two kernels
  * built from one sheet are equal and `semanticEquals` (exchange reuse and
  * cached-plan matching hold), where array fields would compare by
  * reference (see [[BestMatch]]). */
case class SheetSlotSums(termExpr: Expression, scoreExpr: Expression,
    sheet: Seq[(Long, Seq[(String, Long)])],
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with BinaryLike[Expression] {

  override def left: Expression = termExpr
  override def right: Expression = scoreExpr
  override def nullable: Boolean = false
  override def dataType: DataType = SheetSlotSums.resultType
  override def prettyName: String = "sheet_slot_sums"
  // the plan string names the sheet's size, not its terms
  override protected def stringArgs: Iterator[Any] =
    Iterator(termExpr, scoreExpr, s"sheet=${sheet.size}")

  override def checkInputDataTypes(): TypeCheckResult =
    if (termExpr.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"sheet_slot_sums: term must be STRING, got ${termExpr.dataType.sql}")
    else if (scoreExpr.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"sheet_slot_sums: score must be BIGINT, got ${scoreExpr.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  // ---- driver-precomputed slot tables (sheet-bounded) -------------------
  // slot i is the i-th query; per term, the slots holding it and its weight
  // in each. Transient-lazy: rebuilt once per deserialized copy.
  @transient private lazy val nq: Int = sheet.size
  @transient private lazy val qids: Array[Long] = sheet.map(_._1).toArray
  @transient private lazy val slotsOf: java.util.HashMap[UTF8String, (Array[Int], Array[Long])] = {
    val m = new java.util.HashMap[UTF8String, (Array[Int], Array[Long])]()
    sheet.zipWithIndex
      .flatMap { case ((_, tws), i) => tws.map { case (w, wt) => (w, i, wt) } }
      .groupBy(_._1)
      .foreach { case (w, es) =>
        m.put(UTF8String.fromString(w), (es.map(_._2).toArray, es.map(_._3).toArray))
      }
    m
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](2 * nq)

  override def update(b: Array[Long], input: InternalRow): Array[Long] = {
    val w = termExpr.eval(input)
    if (w != null) {
      val e = slotsOf.get(w.asInstanceOf[UTF8String])
      if (e != null) {
        val (slots, wts) = e
        val t = scoreExpr.eval(input)
        var j = 0
        while (j < slots.length) {
          val s = slots(j)
          if (t != null)
            b(s) = Math.addExact(b(s), Math.multiplyExact(wts(j), t.asInstanceOf[Long]))
          b(nq + s) += 1L
          j += 1
        }
      }
    }
    b
  }

  override def merge(b: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b.length) { b(i) = Math.addExact(b(i), other(i)); i += 1 }
    b
  }

  override def eval(b: Array[Long]): Any = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < nq) {
      if (b(nq + i) > 0)
        rows += new GenericInternalRow(Array[Any](qids(i), b(i), b(nq + i)))
      i += 1
    }
    new GenericArrayData(rows.toArray)
  }

  override def serialize(b: Array[Long]): Array[Byte] = {
    var used = 0
    var i = 0
    while (i < nq) { if (b(nq + i) > 0) used += 1; i += 1 }
    val buf = java.nio.ByteBuffer.allocate(4 + used * 20).putInt(used)
    i = 0
    while (i < nq) {
      if (b(nq + i) > 0) buf.putInt(i).putLong(b(i)).putLong(b(nq + i))
      i += 1
    }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val b = createAggregationBuffer()
    var k = buf.getInt()
    while (k > 0) {
      val i = buf.getInt()
      b(i) = buf.getLong(); b(nq + i) = buf.getLong()
      k -= 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): SheetSlotSums =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SheetSlotSums =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SheetSlotSums =
    copy(termExpr = newLeft, scoreExpr = newRight)
}

object SheetSlotSums {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("sm", LongType, nullable = false),
    StructField("nt", LongType, nullable = false))), containsNull = false)

  /** The kernel over a normalized copy of `sheet` (per query, its
    * (term, weight) pairs): queries sorted by qid, terms by name. A qid
    * twice, or a term twice in one query, is rejected. */
  def of(term: Expression, score: Expression,
      sheet: Seq[(Long, Seq[(String, Long)])]): SheetSlotSums = {
    require(sheet.map(_._1).distinct.size == sheet.size,
      "sheet_slot_sums: a query id appears twice in the sheet")
    require(sheet.forall { case (_, tws) => tws.map(_._1).distinct.size == tws.size },
      "sheet_slot_sums: a term appears twice in one query")
    SheetSlotSums(term, score,
      sheet.sortBy(_._1).map { case (q, tws) => (q, tws.sortBy(_._1).toVector) }.toVector)
  }

  /** DataFrame-API entry: `groupBy(g).agg(SheetSlotSums.sums(w, t, sheet))`. */
  def sums(term: Column, score: Column,
      sheet: Seq[(Long, Seq[(String, Long)])]): Column =
    GraftExpressionBridge.column(
      of(GraftExpressionBridge.expression(term),
        GraftExpressionBridge.expression(score), sheet).toAggregateExpression())
}
