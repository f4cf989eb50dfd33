package graft

import graft.plans.GraftExtensions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** r18: [[graft.functions.expressions.TermVecDot]] — the q128 numerator
  * as one pair-bounded sorted-merge dot — pinned equivalent to the join
  * formulation it replaced (inner join on term + DECIMAL(38,0) sum +
  * count), including the exact 128-bit accumulation past Long.MaxValue.
  * The DuckDB oracle SQL is unchanged, so this pin plus the oracle run is
  * the full equivalence chain.
  */
class TermVecDotSpec extends SparkSpec {

  private def vecsOf(rows: Seq[(Long, String, Long)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "term", "w")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("term"), col("w")))).as("tw"))
      .select(col("doc_id"),
        transform(col("tw"), x => x.getField("term")).as("terms"),
        transform(col("tw"), x => x.getField("w")).as("ws"))
  }

  test("term_vec_dot == join-on-term + decimal-sum + count, for all doc pairs") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val d38 = DecimalType(38, 0)
    // overlapping, disjoint and identical vectors; weights at the tf-idf
    // grid's magnitude (up to ~2.5e12 at sf1 scale) so per-product values
    // exceed 2^63 and the 128-bit path is exercised on real shapes
    val rows = Seq(
      (1L, "alpha", 3L), (1L, "beta", 2500000000000L), (1L, "gamma", 7L),
      (2L, "beta", 2400000000000L), (2L, "gamma", 11L), (2L, "zeta", 5L),
      (3L, "delta", 1L), // disjoint from 1
      (4L, "alpha", 3L), (4L, "beta", 2500000000000L), (4L, "gamma", 7L))
    val w = rows.toDF("doc_id", "term", "w")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 4L)).toDF("a_doc", "b_doc")
    val joined = pairs
      .join(w.select(col("doc_id").as("a_doc"), col("term"), col("w").as("wa")), "a_doc")
      .join(w.select(col("doc_id").as("b_doc"), col("term"), col("w").as("wb")),
        Seq("b_doc", "term"))
      .groupBy(col("a_doc"), col("b_doc"))
      .agg(count(lit(1)).as("n_shared"),
        sum((col("wa").cast(d38) * col("wb").cast(d38)).cast(d38)).as("num"))
    val vec = vecsOf(rows)
    val fused = pairs
      .join(vec.select(col("doc_id").as("a_doc"), col("terms").as("at"),
        col("ws").as("aw")), "a_doc")
      .join(vec.select(col("doc_id").as("b_doc"), col("terms").as("bt"),
        col("ws").as("bw")), "b_doc")
      .withColumn("d", call_function("term_vec_dot",
        col("at"), col("aw"), col("bt"), col("bw")))
      .select(col("a_doc"), col("b_doc"),
        col("d.n_shared").as("n_shared"), col("d.num").as("num"))
    val j = joined.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getLong(2), r.getDecimal(3).toBigInteger)).toMap
    val f = fused.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getLong(2), r.getDecimal(3).toBigInteger)).toMap
    // fused emits every pair; the join only those sharing ≥1 term — on
    // the shared domain they must agree exactly, and fused-only pairs
    // must be the (0, 0) no-overlap rows the production filter drops
    j.foreach { case (k, v) =>
      assert(f(k) == v, s"pair $k: fused=${f(k)} join=$v")
    }
    (f.keySet -- j.keySet).foreach { k =>
      assert(f(k)._1 == 0L && f(k)._2 == java.math.BigInteger.ZERO,
        s"pair $k: fused emitted ${f(k)} where the join had no shared term")
    }
    // reference value past Long.MaxValue: 2.5e12 · 2.4e12 = 6e24 ≫ 2^63
    val bigRef = (BigInt(2500000000000L) * BigInt(2400000000000L)) + (BigInt(7) * BigInt(11))
    assert(f((1L, 2L))._2 == bigRef.bigInteger)
    // exact floating render parity downstream of the decimal
    val dbl = fused.filter(col("a_doc") === 1 && col("b_doc") === 2)
      .select(col("num").cast(DoubleType)).collect().head.getDouble(0)
    assert(dbl == bigRef.toDouble)
  }

  test("term_vec_dot edge cases: empty vectors, misalignment, negative weights") {
    GraftExtensions.register(spark)
    import spark.implicits._
    // empty ∩ anything = (0, 0)
    val e = Seq((Seq.empty[String], Seq.empty[Long], Seq("x"), Seq(5L)))
      .toDF("at", "aw", "bt", "bw")
      .select(call_function("term_vec_dot", col("at"), col("aw"), col("bt"), col("bw")).as("d"))
      .select(col("d.n_shared"), col("d.num")).collect().head
    assert(e.getLong(0) == 0L && e.getDecimal(1).longValueExact() == 0L)
    // misaligned arrays and negative weights fail loudly (construction
    // bugs, never silent wrong numbers)
    def fails(at: Seq[String], aw: Seq[Long], bt: Seq[String], bw: Seq[Long]): Unit = {
      val err = intercept[Exception] {
        Seq((at, aw, bt, bw)).toDF("at", "aw", "bt", "bw")
          .select(call_function("term_vec_dot", col("at"), col("aw"), col("bt"), col("bw")))
          .collect()
      }
      assert(err.getMessage != null)
    }
    fails(Seq("a", "b"), Seq(1L), Seq("a"), Seq(1L))
    fails(Seq("a"), Seq(-1L), Seq("a"), Seq(1L))
  }

  test("toDecimal refuses a 128-bit sum with the top bit set instead of wrapping negative") {
    import graft.functions.expressions.TermVecDot
    // 2^127 (hi = Long.MinValue as a signed word): past DECIMAL(38,0)
    intercept[ArithmeticException](TermVecDot.toDecimal(Long.MinValue, 0L))
    intercept[ArithmeticException](TermVecDot.toDecimal(-1L, -1L)) // 2^128 − 1
    // the largest unsigned lo word still converts exactly
    assert(TermVecDot.toDecimal(0L, -1L).toJavaBigDecimal.toBigInteger ==
      (BigInt(1) << 64).bigInteger.subtract(java.math.BigInteger.ONE))
  }
}
