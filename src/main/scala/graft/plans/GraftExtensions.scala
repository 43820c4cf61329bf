package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType}

/** Session extension installing graft's native Catalyst functions, its
  * as-of join strategy and its plan rules.
  *
  * Enable with `.config("spark.sql.extensions",
  * "graft.plans.GraftExtensions")` (or `withExtensions`). This is the
  * registry hook for every custom Expression the engine ships — the
  * Spark-idiomatic analog of riptable's custom-kernel dispatch tables
  * (`riptable/rt_groupbynumba.py:688-701`) — and the one place the
  * optimizer gets [[SplitDistinctAggregate]] and
  * [[RangePartitionSortedWindow]] (pre-CBO batch, run once; see
  * `PlanRules.scala` for their triggers).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsofStrategy)
    ext.injectPreCBORule(_ => SplitDistinctAggregate)
    ext.injectPreCBORule(_ => RangePartitionSortedWindow)
    ext.injectFunction((
      new FunctionIdentifier("rip_ema_decay"),
      new ExpressionInfo(classOf[EmaDecay].getName, "rip_ema_decay"),
      (children: Seq[Expression]) => {
        require(children.length == 3 || children.length == 5,
          "rip_ema_decay(value, time, rate[, filter, reset]) takes 3 or 5 arguments")
        EmaDecay(Cast(children(0), DoubleType), Cast(children(1), LongType),
          Cast(children(2), DoubleType),
          if (children.length == 5) Cast(children(3), BooleanType) else Literal(true),
          if (children.length == 5) Cast(children(4), BooleanType) else Literal(false))
      }))
    ext.injectFunction((
      new FunctionIdentifier("rip_ema_normal"),
      new ExpressionInfo(classOf[EmaNormal].getName, "rip_ema_normal"),
      (children: Seq[Expression]) => {
        require(children.length == 3 || children.length == 5,
          "rip_ema_normal(value, time, rate[, filter, reset]) takes 3 or 5 arguments")
        EmaNormal(Cast(children(0), DoubleType), Cast(children(1), LongType),
          Cast(children(2), DoubleType),
          if (children.length == 5) Cast(children(3), BooleanType) else Literal(true),
          if (children.length == 5) Cast(children(4), BooleanType) else Literal(false))
      }))
    ext.injectFunction((
      new FunctionIdentifier("rip_ema_weighted"),
      new ExpressionInfo(classOf[EmaWeighted].getName, "rip_ema_weighted"),
      (children: Seq[Expression]) => {
        require(children.length == 2 || children.length == 4,
          "rip_ema_weighted(value, alpha[, filter, reset]) takes 2 or 4 arguments")
        EmaWeighted(Cast(children(0), DoubleType), Cast(children(1), DoubleType),
          if (children.length == 4) Cast(children(2), BooleanType) else Literal(true),
          if (children.length == 4) Cast(children(3), BooleanType) else Literal(false))
      }))
    ext.injectFunction((
      new FunctionIdentifier("rip_dot"),
      new ExpressionInfo(classOf[RipDot].getName, "rip_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "rip_dot(a, b) takes exactly 2 arguments")
        RipDot(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("rip_lsh_sig"),
      new ExpressionInfo(classOf[RipLshSig].getName, "rip_lsh_sig"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "rip_lsh_sig(vec, bits) takes exactly 2 arguments")
        val bits = children(1) match {
          case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"rip_lsh_sig: bits must be an integer literal, got $other")
        }
        RipLshSig(children(0), bits)
      }))
    ext.injectFunction((
      new FunctionIdentifier("rip_simhash"),
      new ExpressionInfo(classOf[RipSimhash].getName, "rip_simhash"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "rip_simhash(tokens) takes exactly 1 argument")
        RipSimhash(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("rip_nfc"),
      new ExpressionInfo(classOf[RipNfc].getName, "rip_nfc"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "rip_nfc(text) takes exactly 1 argument")
        RipNfc(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("rip_winnow"),
      new ExpressionInfo(classOf[RipWinnow].getName, "rip_winnow"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "rip_winnow(normText, k, w) takes exactly 3 arguments")
        def intLit(e: Expression, name: String): Int = e match {
          case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"rip_winnow: $name must be an integer literal, got $other")
        }
        RipWinnow(children.head, intLit(children(1), "k"),
          intLit(children(2), "w"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("rip_crc32c"),
      new ExpressionInfo(classOf[RipCrc32C].getName, "rip_crc32c"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "rip_crc32c(bytes) takes exactly 1 argument")
        RipCrc32C(Cast(children.head, org.apache.spark.sql.types.BinaryType))
      }))
    ext.injectFunction((
      new FunctionIdentifier("rip_pq_codes"),
      new ExpressionInfo(classOf[RipPqCodes].getName, "rip_pq_codes"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "rip_pq_codes(vec, codebook, m) takes exactly 3 arguments")
        RipPqCodes(children(0), children(1), children(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("rip_pq_adc"),
      new ExpressionInfo(classOf[RipPqAdc].getName, "rip_pq_adc"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "rip_pq_adc(query, codes, codebook, m) takes exactly 4 arguments")
        RipPqAdc(children(0), children(1), children(2), children(3))
      }))
    ext.injectFunction((
      new FunctionIdentifier("rip_bloom_probe"),
      new ExpressionInfo(classOf[RipBloomProbe].getName, "rip_bloom_probe"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "rip_bloom_probe(h1, h2, bitmap_literal, k_literal) takes exactly 4 arguments")
        // the bitmap literal is consumed at BUILD time into the
        // expression's long[] reference — it never enters the plan tree
        // (that single extraction is the whole point: k element_at
        // references to an m/64-long literal made plans scale with m)
        val bm = children(2) match {
          case Literal(ad: org.apache.spark.sql.catalyst.util.ArrayData,
              org.apache.spark.sql.types.ArrayType(LongType, _)) =>
            ad.toLongArray()
          case other => throw new IllegalArgumentException(
            s"rip_bloom_probe: bitmap must be an array<bigint> literal, got $other")
        }
        val k = children(3) match {
          case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"rip_bloom_probe: kHashes must be an integer literal, got $other")
        }
        RipBloomProbe(children(0), children(1), bm, k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("rip_product"),
      new ExpressionInfo(classOf[RipProduct].getName, "rip_product"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "rip_product(value) takes exactly 1 argument")
        RipProduct(children.head).toAggregateExpression()
      }))
  }
}
