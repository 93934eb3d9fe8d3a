package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expressions for the embedding hot path.
  *
  * The brute-force cosine queries evaluate millions of 64-dim dot
  * products; as a higher-order-function chain (`aggregate(zip_with(...))`)
  * each product allocates a zipped array and interprets two lambdas per
  * element. This expression is a tight primitive loop that participates
  * in whole-stage codegen (SURVEY §7.5: custom Expression only where the
  * bench demands it — this is that case: 7x on q41_embed_neardup).
  *
  * Determinism: strict left-to-right summation — the same fold order as
  * the HOF formulation and DuckDB's list_dot_product, so oracle results
  * are bit-identical.
  */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  // no ExpectsInputTypes: AbstractDataType is private[sql]; call sites
  // (this package) always supply array<double> on both sides
  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Sign-LSH bucket id from LCG pseudo-random hyperplanes — the codegen
  * twin of the HOF formulation in `Similarity.withLshBucket` (and of the
  * DuckDB oracle): bit p of the bucket is set iff
  * Σ_dm v[dm-1] · (((1103515245·((offset+p)·dim+dm) + 12345) mod 2001) − 1000) > 0,
  * summed strictly left-to-right so results are bit-identical across the
  * three formulations. As nested `aggregate` lambdas this evaluates
  * planes×dim interpreted closures per row; here it is two primitive
  * loops inside whole-stage codegen.
  *
  * `offset` shifts the global plane index, giving independent hyperplane
  * sets for multi-table LSH (table t uses offset = t·planes): candidate
  * union over L tables is the standard recall lever when a single table's
  * collision probability is too low. offset=0 reproduces the original
  * single-table planes exactly.
  *
  * `planes` must lie in 1..63, one bit of the long bucket per plane:
  * plane 64 would wrap onto bit 0 and merge buckets, and zero planes
  * would put every vector in bucket 0. `dim` must be at least 1.
  */
case class SignLsh(child: Expression, planes: Int, dim: Int, offset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(planes >= 1 && planes <= 63, s"sign_lsh needs planes in 1..63, got planes = $planes")
  require(dim >= 1, s"sign_lsh needs dim >= 1, got dim = $dim")

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "sign_lsh"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(dim, v.numElements())
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var s = 0.0
      var dm = 1
      while (dm <= n) {
        val w = (1103515245L * ((offset.toLong + p) * dim + dm) + 12345L) % 2001L - 1000L
        s += v.getDouble(dm - 1) * w.toDouble
        dm += 1
      }
      if (s > 0.0) bucket += (1L << p)
      p += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val b = ctx.freshName("bucket")
      val p = ctx.freshName("p")
      val dm = ctx.freshName("dm")
      val s = ctx.freshName("s")
      val w = ctx.freshName("w")
      s"""
         |int $n = java.lang.Math.min($dim, $a.numElements());
         |long $b = 0L;
         |for (int $p = 0; $p < $planes; $p++) {
         |  double $s = 0.0;
         |  for (int $dm = 1; $dm <= $n; $dm++) {
         |    long $w = (1103515245L * (((long) $offset + $p) * $dim + $dm) + 12345L) % 2001L - 1000L;
         |    $s += $a.getDouble($dm - 1) * (double) $w;
         |  }
         |  if ($s > 0.0) $b += (1L << $p);
         |}
         |${ev.value} = $b;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object GraftFunctions {
  // one registration per session: every op entry point calls register()
  // defensively (specs hand ops raw toDF frames), so gate the actual
  // registry writes behind a session-keyed set instead of re-writing every
  // temp function per op invocation. WEAK keys: a strong set would pin
  // every session ever registered (sessionState and all) for the JVM
  // lifetime — a leak in long-lived multi-session processes and suites.
  private val registered =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** graft's SQL functions: (name, builder) pairs, the one list that
    * [[register]] and [[graft.GraftExtensions]] both install. */
  val all: Seq[(String, Seq[Expression] => Expression)] = {
    def int(e: Expression): Int = e.eval().asInstanceOf[Int]
    Seq(
      "array_dot" -> (es => ArrayDot(es(0), es(1))),
      "p60" -> (es => Portable60(es.head)),
      "p60_rolling8_min" -> (es => RollingMin60(es.head)),
      "simhash32" -> (es => SimHash32(es.head)),
      "simhash64" -> (es => SimHash64(es.head)),
      "word_shingles" -> (es => WordShingles(es(0), int(es(1)))),
      "winnow60" -> (es => Winnow60(es(0), int(es(1)), int(es(2)))),
      "zorder2" -> (es => ZOrder2(es(0), es(1), int(es(2)))),
      "sign_lsh" -> (es => SignLsh(es(0), int(es(1)), int(es(2)),
        if (es.length > 3) int(es(3)) else 0)))
  }

  /** Idempotently register graft's SQL functions on a session, so query
    * builders can use them via expr("array_dot(a, b)") / expr("p60(s)"). */
  def register(spark: SparkSession): Unit = if (registered.add(spark)) all.foreach {
    case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")
  }
}
