package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, Decimal, DecimalType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Sorted-merge sparse dot product of two term-weight vectors:
  * `(n_shared, num)` where `num = Σ_{t ∈ a ∩ b} w_a(t)·w_b(t)` as an EXACT
  * DECIMAL(38,0) and `n_shared = |a ∩ b|` — the q128 tf-idf cosine
  * numerator as ONE pair-bounded expression (guide §2.3/§8: decide with
  * small rows — the per-pair merge walks ≤ |a|+|b| entries) instead of
  * exploding every candidate pair by its full term vector through two
  * joins and a pair×terms hash-aggregate (26.4M intermediate rows at sf1
  * for 994k candidate pairs).
  *
  * Exactness: weights are the NON-NEGATIVE integers `tf · ((10⁶·N) div
  * df)` (see tfidfCosinePairs), so every product fits unsigned 128 bits;
  * the sum is accumulated exactly in a 128-bit (hi, lo) pair
  * (Math.multiplyHigh + carry) and converted once per pair to
  * DECIMAL(38,0) — the identical integer the old
  * `sum(CAST(wa AS DECIMAL(38,0)) * wb)` aggregation produced, so the
  * final VARCHAR-routed double render (and the DuckDB oracle) see the
  * same value bit for bit. Terms within a vector are DISTINCT and SORTED
  * (sort_array over the per-doc collect_list), so the two-pointer merge
  * visits every shared term exactly once — the same rows the old
  * (b_doc, term) equi-join matched.
  *
  * Arguments: (a_terms sorted array&lt;string&gt;, a_ws array&lt;long&gt; aligned,
  * b_terms, b_ws). Misaligned array lengths throw (construction bug, not
  * data); any NULL input yields NULL (the join formulation never produced
  * such rows). Negative weights throw — the unsigned accumulation is only
  * exact for the non-negative grid this operator declares.
  */
case class TermVecDot(first: Expression, second: Expression,
                      third: Expression, fourth: Expression)
    extends QuaternaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_shared", LongType, nullable = false),
    StructField("num", DecimalType(38, 0), nullable = false)))
  override def prettyName: String = "term_vec_dot"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def strArr(dt: DataType) = dt match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    def longArr(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (strArr(first.dataType) && longArr(second.dataType) &&
      strArr(third.dataType) && longArr(fourth.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, array<bigint>, array<string>, " +
        s"array<bigint>), got " + children.map(_.dataType.sql).mkString(", "))
  }

  override def nullSafeEval(at: Any, aw: Any, bt: Any, bw: Any): Any = {
    val aT = at.asInstanceOf[ArrayData]
    val aW = aw.asInstanceOf[ArrayData]
    val bT = bt.asInstanceOf[ArrayData]
    val bW = bw.asInstanceOf[ArrayData]
    val na = aT.numElements()
    val nb = bT.numElements()
    if (aW.numElements() != na || bW.numElements() != nb)
      throw new IllegalArgumentException(
        s"$prettyName: term/weight arrays must align, got " +
          s"a=($na,${aW.numElements()}) b=($nb,${bW.numElements()})")
    var i = 0
    var j = 0
    var n = 0L
    var hi = 0L
    var lo = 0L
    while (i < na && j < nb) {
      val c = aT.getUTF8String(i).compareTo(bT.getUTF8String(j))
      if (c < 0) i += 1
      else if (c > 0) j += 1
      else {
        val x = aW.getLong(i)
        val y = bW.getLong(j)
        if (x < 0 || y < 0) throw new IllegalArgumentException(
          s"$prettyName: negative weight — the exact unsigned accumulation" +
            " requires the non-negative tf-idf grid")
        val pHi = Math.multiplyHigh(x, y)
        val pLo = x * y
        val newLo = lo + pLo
        hi += pHi + (if (java.lang.Long.compareUnsigned(newLo, lo) < 0) 1L else 0L)
        lo = newLo
        n += 1
        i += 1
        j += 1
      }
    }
    new GenericInternalRow(Array[Any](n, TermVecDot.toDecimal(hi, lo)))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (at, aw, bt, bw) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val n = ctx.freshName("n")
      val hi = ctx.freshName("hi")
      val lo = ctx.freshName("lo")
      val c = ctx.freshName("c")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val pLo = ctx.freshName("pLo")
      val newLo = ctx.freshName("newLo")
      s"""
         |final int $na = $at.numElements();
         |final int $nb = $bt.numElements();
         |if ($aw.numElements() != $na || $bw.numElements() != $nb) {
         |  throw new IllegalArgumentException(
         |    "term_vec_dot: term/weight arrays must align");
         |}
         |int $i = 0; int $j = 0;
         |long $n = 0L; long $hi = 0L; long $lo = 0L;
         |while ($i < $na && $j < $nb) {
         |  final int $c = $at.getUTF8String($i).compareTo($bt.getUTF8String($j));
         |  if ($c < 0) { $i++; }
         |  else if ($c > 0) { $j++; }
         |  else {
         |    final long $x = $aw.getLong($i);
         |    final long $y = $bw.getLong($j);
         |    if ($x < 0L || $y < 0L) {
         |      throw new IllegalArgumentException(
         |        "term_vec_dot: negative weight - the exact unsigned " +
         |          "accumulation requires the non-negative tf-idf grid");
         |    }
         |    final long $pLo = $x * $y;
         |    final long $newLo = $lo + $pLo;
         |    $hi += Math.multiplyHigh($x, $y) +
         |      ((java.lang.Long.compareUnsigned($newLo, $lo) < 0) ? 1L : 0L);
         |    $lo = $newLo;
         |    $n++; $i++; $j++;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{ java.lang.Long.valueOf($n),
         |    graft.functions.expressions.TermVecDot.toDecimal($hi, $lo) });
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): TermVecDot =
    copy(first = newFirst, second = newSecond,
      third = newThird, fourth = newFourth)
}

object TermVecDot {
  /** Exact unsigned-128 (hi, lo) → DECIMAL(38,0). Weights are
    * non-negative, so the accumulated value is in [0, 2¹²⁸); anything
    * past 38 digits fails loudly — the same envelope the old
    * DECIMAL(38,0) sum aggregate had. A set top bit (`hi < 0`) means a
    * value ≥ 2¹²⁷ > 10³⁸, which a signed `hi` would wrap negative and
    * slip past changePrecision, so it is refused first.
    */
  def toDecimal(hi: Long, lo: Long): Decimal = {
    if (hi < 0L)
      throw new ArithmeticException(
        "term_vec_dot: numerator ≥ 2^127 exceeds DECIMAL(38,0)")
    val bi =
      if (hi == 0L && lo >= 0L) java.math.BigInteger.valueOf(lo)
      else java.math.BigInteger.valueOf(hi).shiftLeft(64)
        .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(lo)))
    val d = Decimal(new java.math.BigDecimal(bi))
    if (!d.changePrecision(38, 0))
      throw new ArithmeticException(
        s"term_vec_dot: numerator $bi exceeds DECIMAL(38,0)")
    d
  }
}
