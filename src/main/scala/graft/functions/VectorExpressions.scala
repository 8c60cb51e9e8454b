package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Custom codegen'd Catalyst expressions for embedding math.
  *
  * Why custom expressions (SURVEY §7.5 revisited): the HOF formulation
  * (`aggregate(zip_with(a, b, ...), ...)`) evaluates interpreted lambdas —
  * ~µs per element-step and megamorphic under many query shapes — while
  * these generate a tight primitive loop inside whole-stage codegen
  * (~ns per element). For brute-force cosine over N×K candidate pairs the
  * difference is the whole budget.
  *
  * Accumulation is a sequential left-fold in double, identical to the HOF
  * and DuckDB formulations, so oracle results are bit-equal.
  */
abstract class VectorFold extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  protected def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** scala step: acc += step(x, y) */
  protected def step(x: Double, y: Double): Double
  /** java source for the step, parameterized on the generated (fresh)
    * element variable names so fused whole-stage codegen can never
    * shadow/collide with an outer-scope variable.
    */
  protected def stepCode(x: String, y: String): String

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> inputs, " +
        s"got ${left.dataType.sql} / ${right.dataType.sql}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val af = elemIsFloat(left); val bf = elemIsFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (af) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bf) b.getFloat(i).toDouble else b.getDouble(i)
      acc = acc + step(x, y)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val bGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.$aGet($i);
         |  double $y = (double) $b.$bGet($i);
         |  $acc += ${stepCode(x, y)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }
}

/** Σ x*y — dot product. */
case class DotProduct(left: Expression, right: Expression) extends VectorFold {
  override def prettyName: String = "vec_dot"
  override protected def step(x: Double, y: Double): Double = x * y
  override protected def stepCode(x: String, y: String): String = s"$x * $y"
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Σ (x-y)² — squared L2 distance. */
case class SquaredDistance(left: Expression, right: Expression) extends VectorFold {
  override def prettyName: String = "vec_sqdist"
  override protected def step(x: Double, y: Double): Double = (x - y) * (x - y)
  override protected def stepCode(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** All sign-random-hyperplane LSH buckets of a vector in ONE codegen'd
  * loop: result[t] = the bitsPerTable-bit signature of hash table t.
  *
  * The hyperplane family is ORACLE-PORTABLE (round-5 verdict, next 4):
  * plane (t,b) is an Achlioptas ±1 sign vector, sign(k) for
  * k = (t·bits + b)·dim + d derived from pure integer arithmetic
  * (`(k²·2246822519 + k·3266489917) mod 2³² < 2³¹` — the q121 JL sign
  * trick with a decorrelated constant pair), and the dot product runs
  * over the vector's elements as floor(x·10⁹ + 0.5) scaled longs
  * ([[HyperplaneBuckets.scaled]]) — exact integer accumulation, so the
  * bit (sum ≥ 0) is reproducible bit-for-bit by ANSI SQL in any engine
  * (DuckDB oracle included; a double accumulation could flip a
  * knife-edge sign on association order, and a DECIMAL cast ties
  * differently across engines). Sign hyperplanes are the standard SRP-LSH construction —
  * P[bit differs] = θ/π exactly as with Gaussian planes.
  *
  * Weights are computed inline (no materialized weight matrix, no
  * per-plane literal arrays — which cost ~20s of janino compilation when
  * expressed as 32 separate vec_dot calls).
  */
case class HyperplaneBuckets(child: Expression, numTables: Int,
    bitsPerTable: Int) extends
    org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types.LongType

  override def prettyName: String = "vec_hp_buckets"
  override def dataType: DataType = ArrayType(LongType)
  override def nullIntolerant: Boolean = true

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float|double>, got ${t.sql}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dim = arr.numElements()
    val r = new Array[Long](dim)
    var d = 0
    while (d < dim) {
      val x = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
      r(d) = HyperplaneBuckets.scaled(x)
      d += 1
    }
    val out = new Array[Long](numTables)
    var t = 0
    while (t < numTables) {
      var bkt = 0L
      var b = 0
      while (b < bitsPerTable) {
        val k0 = (t * bitsPerTable + b) * dim
        var acc = 0L
        d = 0
        while (d < dim) {
          acc += HyperplaneBuckets.sign(k0 + d) * r(d)
          d += 1
        }
        if (acc >= 0) bkt |= (1L << b)
        b += 1
      }
      out(t) = bkt
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    val cls = "graft.functions.HyperplaneBuckets"
    nullSafeCodeGen(ctx, ev, a => {
      val dim = ctx.freshName("dim"); val out = ctx.freshName("out")
      val r = ctx.freshName("r")
      val t = ctx.freshName("t"); val b = ctx.freshName("b")
      val d = ctx.freshName("d"); val acc = ctx.freshName("acc")
      val k0 = ctx.freshName("k0"); val bkt = ctx.freshName("bkt")
      s"""
         |int $dim = $a.numElements();
         |long[] $r = new long[$dim];
         |for (int $d = 0; $d < $dim; $d++) {
         |  $r[$d] = $cls.scaled((double) $a.$get($d));
         |}
         |long[] $out = new long[$numTables];
         |for (int $t = 0; $t < $numTables; $t++) {
         |  long $bkt = 0L;
         |  for (int $b = 0; $b < $bitsPerTable; $b++) {
         |    int $k0 = ($t * $bitsPerTable + $b) * $dim;
         |    long $acc = 0L;
         |    for (int $d = 0; $d < $dim; $d++) {
         |      $acc += $cls.sign($k0 + $d) * $r[$d];
         |    }
         |    if ($acc >= 0) $bkt |= (1L << $b);
         |  }
         |  $out[$t] = $bkt;
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object HyperplaneBuckets {
  /** Element as its ×10⁹ scaled long via `floor(x·10⁹ + 0.5)` — pure
    * IEEE double multiply/add/floor, bit-identical in any engine (the
    * DECIMAL(18,9) cast alternative has half-way ties that Spark rounds
    * HALF_UP but DuckDB half-even — a real sf0.1 mismatch in q121
    * before round 6 switched both sides to this form). The floor result
    * stays far below 2⁵³, so the long conversion is exact.
    */
  def scaled(x: Double): Long =
    math.floor(x * 1e9 + 0.5).toLong

  /** Achlioptas ±1 weight for flat plane·dim index k: the portable
    * quadratic integer sign hash (expressible verbatim in ANSI SQL).
    *
    * Reduced by masking, not `%`: Java long arithmetic wraps mod 2⁶⁴,
    * and 2³² divides 2⁶⁴, so `& 0xFFFFFFFF` yields the MATHEMATICAL
    * k²·C1 + k·C2 mod 2³² at every k — including k ≥ ~64,071
    * (numTables·bitsPerTable·dim above ~64k) where the raw product
    * overflows 64 bits and signed `%` returned negative remainders that
    * diverged from what a wide-integer SQL engine computes (round-6
    * advice). The registered 16×4×64 point was always below the
    * overflow bound; this removes the latent cliff for larger tables.
    */
  def sign(k: Long): Long =
    if (((k * k * 2246822519L + k * 3266489917L) & 0xFFFFFFFFL) <
        2147483648L) 1L else -1L
}

object VectorExpressions {
  /** Register `vec_dot` / `vec_sqdist` / ... in the session's function
    * registry so they are usable from `expr(...)` and SQL. Idempotent:
    * a name the registry already holds is left alone (re-registering
    * would replace it and log a WARN on every call).
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def fn(name: String)(build: Seq[Expression] => Expression): Unit =
      if (!reg.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, build, "built-in")
    fn("vec_dot")(exprs => DotProduct(exprs.head, exprs(1)))
    fn("vec_sqdist")(exprs => SquaredDistance(exprs.head, exprs(1)))
    fn("vec_hp_buckets")(exprs => HyperplaneBuckets(exprs.head,
      exprs(1).eval().asInstanceOf[Int], exprs(2).eval().asInstanceOf[Int]))
    fn("minhash_sig")(exprs => MinHashAgg(exprs.head,
      exprs(1).eval().asInstanceOf[Int]).toAggregateExpression())
    fn("shingle_hashes")(exprs => ShingleHashes(exprs.head,
      exprs(1).eval().asInstanceOf[Number].intValue()))
    fn("shingle_strings")(exprs => ShingleStrings(exprs.head,
      exprs(1).eval().asInstanceOf[Number].intValue()))
    fn("char_ngrams")(exprs => CharNgrams(exprs.head,
      exprs(1).eval().asInstanceOf[Number].intValue()))
    fn("minhash_text")(exprs => MinHashText(exprs.head,
      exprs(1).eval().asInstanceOf[Number].intValue(),
      exprs(2).eval().asInstanceOf[Number].intValue()))
    fn("mg_sketch")(exprs => MisraGries(exprs.head,
      exprs(1).eval().asInstanceOf[Number].intValue())
      .toAggregateExpression())
    fn("simhash64")(exprs => SimHash64(exprs.head))
    fn("trigram_lm_score")(exprs => TrigramLmScore(exprs.head, exprs(1)))
    fn("word_lm_score")(exprs => WordLmScore(exprs.head, exprs(1)))
  }
}
