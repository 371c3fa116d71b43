package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.{ColumnBridge, TypeBridge}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: the ADC (asymmetric distance
  * computation) estimate of one PQ code row as ONE codegen'd loop —
  * the sum, over the row's sub-spaces, of the query's lookup-table
  * entry for (sub-space, code), with the m x width table held as a
  * reference `long[]` plus a presence mask.
  *
  * Why a custom Expression (SURVEY.md §7.3 exception, the
  * [[PqEncodeCodes]] reasoning): the compositional probe —
  * `posexplode(codes)`, an inner join against the (m, code, ld)
  * table, and a per-vector `sum` — is correct, but it fans every row
  * out m-fold and puts a join and a hash aggregation between the scan
  * and the top-k, all to compute a pure row-local function of (codes,
  * frozen table). Here the probe is scan → filter → top-k.
  *
  * Semantics contract — byte-identical to that inner join + `sum`:
  *   - position i holding code c adds `lut(i*width + c)` when the
  *     table HAS that entry; an (i, c) without an entry adds nothing
  *     (no join partner), as does a NULL element, a position >= m and
  *     an out-of-range code (c < 0 or c >= width — never an index
  *     error);
  *   - a row none of whose positions matched — a NULL array, an empty
  *     array, or only unmatched terms — yields NULL, the row the inner
  *     join dropped (callers filter it out).
  * Table values are exact integer dots (|ld| <= subDim * 1e12), so the
  * plain long sum cannot overflow at any m this engine writes.
  *
  * @param lut     m x width table, row-major: (sub-space i, code c) at
  *                `i*width + c`
  * @param present the same layout: true where the table holds an entry
  */
case class AdcEstimate(child: Expression, lut: Seq[Long],
    present: Seq[Boolean], m: Int, width: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(m >= 1 && width >= 1 && lut.length == m * width &&
    present.length == lut.length,
    s"lookup table of ${lut.length} entries is not $m sub-spaces x " +
      s"$width codes")

  @transient private lazy val lutArr: Array[Long] = lut.toArray
  @transient private lazy val presentArr: Array[Boolean] = present.toArray

  override def inputTypes: Seq[TypeBridge.AbstractType] =
    Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "adc_estimate"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val a = v.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), m)
    var sum = 0L
    var matched = false
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val c = a.getLong(i)
        if (c >= 0 && c < width && presentArr(i * width + c.toInt)) {
          sum += lutArr(i * width + c.toInt)
          matched = true
        }
      }
      i += 1
    }
    if (matched) sum else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val lt = ctx.addReferenceObj("lut", lutArr, "long[]")
    val pr = ctx.addReferenceObj("present", presentArr, "boolean[]")
    val childGen = child.genCode(ctx)
    val a = ctx.freshName("codes")
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val c = ctx.freshName("c")
    val idx = ctx.freshName("idx")
    ev.copy(code =
      code"""
        |${childGen.code}
        |boolean ${ev.isNull} = true;
        |long ${ev.value} = 0L;
        |if (!${childGen.isNull}) {
        |  org.apache.spark.sql.catalyst.util.ArrayData $a =
        |    ${childGen.value};
        |  int $n = Math.min($a.numElements(), $m);
        |  for (int $i = 0; $i < $n; $i++) {
        |    if (!$a.isNullAt($i)) {
        |      long $c = $a.getLong($i);
        |      if ($c >= 0L && $c < ${width}L) {
        |        int $idx = $i * $width + (int) $c;
        |        if ($pr[$idx]) {
        |          ${ev.value} += $lt[$idx];
        |          ${ev.isNull} = false;
        |        }
        |      }
        |    }
        |  }
        |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : AdcEstimate = copy(child = newChild)
}

object AdcEstimate {
  /** Column-level entry point over a driver-built lookup table of
    * (sub-space, code, ld) terms, each (sub-space, code) at most once,
    * sub-spaces in [0, m) and codes >= 0 (callers guarantee an
    * ARRAY<BIGINT> input). The table is as wide as the largest code. */
  def apply(codes: Column, terms: Seq[(Int, Long, Long)], m: Int): Column = {
    val width = if (terms.isEmpty) 1 else terms.map(_._2).max.toInt + 1
    val lut = new Array[Long](m * width)
    val present = new Array[Boolean](m * width)
    terms.foreach { case (mi, code, ld) =>
      lut(mi * width + code.toInt) = ld
      present(mi * width + code.toInt) = true
    }
    ColumnBridge.column(AdcEstimate(ColumnBridge.expression(codes),
      lut.toIndexedSeq, present.toIndexedSeq, m, width))
  }
}
