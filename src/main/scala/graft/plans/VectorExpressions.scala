package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.execution.SparkStrategy

/** Native dot product over numeric array columns, with whole-stage
  * codegen (SURVEY.md §4.3: custom `Expression` as the perf upgrade over
  * lambda/UDF kernels).
  *
  * Why it exists: Spark's higher-order functions (`zip_with`,
  * `aggregate`) are `CodegenFallback` — every row pays interpreted
  * lambda dispatch plus a materialized intermediate array. For the
  * similarity/dedup kernels (q35-q37) the dot product IS the hot loop at
  * 100 TB, so it gets a tight generated `for` over `ArrayData` with no
  * allocation. Accumulation is left-to-right in double, bit-identical to
  * the lambda formulation and the DuckDB oracle.
  *
  * Semantics: length = min(len(a), len(b)); NULL if either side is null
  * OR any visited element is null — exactly what the lambda formulation
  * computes (null propagates through `x*y` and `acc+v`), so
  * [[RewriteDotProduct]] is semantics-preserving for every input,
  * including arrays whose schema says containsNull=true (ADVICE.md r01).
  * Accepts ARRAY<FLOAT> and ARRAY<DOUBLE> on either side.
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  // result can be NULL on a null element even when both inputs are non-null
  override def nullable: Boolean = true

  private def isNumericArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isNumericArray(left.dataType) && isNumericArray(right.dataType)) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires ARRAY<FLOAT|DOUBLE> args, got " +
          s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val xf = elemIsFloat(left)
    val yf = elemIsFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val yGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += (double) $a.$xGet($i) * (double) $b.$yGet($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native batched sign-projection: `graft_sign_bits(planes, vec)` with
  * planes ARRAY<ARRAY<DOUBLE>> and vec ARRAY<FLOAT|DOUBLE> returns
  * ARRAY<BIGINT> of 0/1 bits, bit p = (planes[p] . vec) > 0 — the LSH
  * signature kernel of q35/q37 as ONE codegen'd nested loop.
  *
  * Why it exists: the lambda formulation
  * `transform(planes, p -> IF(graft_dot(p, vec) > 0, 1L, 0L))` pays an
  * interpreted higher-order dispatch per plane per row (HOFs are
  * `CodegenFallback`), i.e. 96 boxed expression evals per row for the
  * q35 banding. This is that transform flattened into generated Java.
  * Accumulation per plane is left-to-right double — bit-identical to
  * the `VectorDot`-based lambda it replaces on null-free vectors.
  *
  * Null semantics are DELIBERATELY STRICTER than the lambda form: NULL
  * if either input is null or any visited element is null. The
  * `IF(graft_dot(p, v) > 0, 1L, 0L)` lambda mapped a null dot to bit 0
  * on every plane, silently filing every corrupt vector into the same
  * all-zero signature — a synthetic mega-bucket in each LSH band. A
  * NULL signature instead drops the row from the index (band explode
  * yields null band values, which no equi-join matches); corpora with
  * null elements should repair or null-filter upstream. SignBitsSpec
  * pins both eval paths to this behavior. */
case class VectorSignBits(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true

  private def isNumericVec(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(inner, _) if isNumericVec(inner) &&
        isNumericVec(right.dataType) =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_sign_bits requires (ARRAY<ARRAY<FLOAT|DOUBLE>>, " +
          s"ARRAY<FLOAT|DOUBLE>) args, got " +
          s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_sign_bits"

  private def planeElemIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[ArrayType].elementType == FloatType

  private def vecElemIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val planes = a.asInstanceOf[ArrayData]
    val vec = b.asInstanceOf[ArrayData]
    val np = planes.numElements()
    val bits = new Array[Long](np)
    var p = 0
    while (p < np) {
      if (planes.isNullAt(p)) return null
      val row = planes.getArray(p)
      val n = math.min(row.numElements(), vec.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (row.isNullAt(i) || vec.isNullAt(i)) return null
        val pv = if (planeElemIsFloat) row.getFloat(i).toDouble
                 else row.getDouble(i)
        val xv = if (vecElemIsFloat) vec.getFloat(i).toDouble
                 else vec.getDouble(i)
        acc += pv * xv
        i += 1
      }
      bits(p) = if (acc > 0.0) 1L else 0L
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(bits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pGet = if (planeElemIsFloat) "getFloat" else "getDouble"
    val vGet = if (vecElemIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val np = ctx.freshName("np")
      val bits = ctx.freshName("bits")
      val p = ctx.freshName("p")
      val row = ctx.freshName("row")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $np = $a.numElements();
         |long[] $bits = new long[$np];
         |for (int $p = 0; $p < $np && !${ev.isNull}; $p++) {
         |  if ($a.isNullAt($p)) { ${ev.isNull} = true; break; }
         |  org.apache.spark.sql.catalyst.util.ArrayData $row = $a.getArray($p);
         |  int $n = java.lang.Math.min($row.numElements(), $b.numElements());
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($row.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (double) $row.$pGet($i) * (double) $b.$vGet($i);
         |  }
         |  $bits[$p] = $acc > 0.0 ? 1L : 0L;
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($bits);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The graft native functions. [[GraftExtensions]] sets them up on a
  * session together with graft's optimizer rules and planner strategies. */
object GraftFunctions {
  /** A native function: its SQL name, the expression class
    * `ExpressionInfo` reports, and how to build it from its arguments. */
  final case class Native(name: String, expression: Class[_ <: Expression],
      build: Seq[Expression] => Expression)

  val functions: Seq[Native] = Seq(
    Native("graft_dot", classOf[VectorDot],
      children => VectorDot(children(0), children(1))),
    Native("graft_sign_bits", classOf[VectorSignBits],
      children => VectorSignBits(children(0), children(1))),
    // Spark's own codegen bloom-probe predicate, exposed as a session
    // function so DataFrame pipelines can consume an explicitly built
    // `util.sketch.BloomFilter` (serialized bytes, xxhash64'd key) the
    // same way the optimizer's runtime bloom-join filters do — the
    // probe stays inside WholeStageCodegen instead of a boxed UDF.
    Native("graft_bloom_contains", classOf[BloomFilterMightContain],
      children => new BloomFilterMightContain(children(0), children(1))),
    // same discipline for the Count-Min point-frequency probe: the
    // serialized sketch is a binary literal, the probe is codegen
    Native("graft_cms_estimate", classOf[CmsEstimateCount],
      children => CmsEstimateCount(children(0), children(1))),
    Native("graft_gear_ends", classOf[GearChunkEnds],
      children => GearChunkEnds(children(0))))
}

/** `SparkSessionExtensions` injector (config
  * `spark.sql.extensions=graft.plans.GraftExtensions`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach { f =>
      extensions.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.expression.getName, f.name), f.build))
    }
    GraftExtensions.optimizerRules.foreach(r =>
      extensions.injectOptimizerRule(_ => r))
    GraftExtensions.strategies.foreach(s =>
      extensions.injectPlannerStrategy(_ => s))
  }
}

/** Graft's session setup, in one place: the native functions, the
  * optimizer rules and the planner strategies. A session gets them once,
  * when it is made — from the extension config at build time or from
  * [[install]] on a running session — and no query body touches session
  * setup, so a query's plan never depends on which queries ran before
  * it. Both routes read the same three lists. */
object GraftExtensions {
  val optimizerRules: Seq[Rule[LogicalPlan]] =
    Seq(RewriteDotProduct, PushAggThroughUnion)
  val strategies: Seq[SparkStrategy] =
    Seq(AsofJoinStrategy, SmallSortStrategy, OneSplitScanStrategy)

  /** Idempotently add the native functions, optimizer rules and planner
    * strategies to `spark`, skipping any the extension config already
    * injected, so either route, or both, yields one copy of each. */
  def install(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    GraftFunctions.functions.foreach { f =>
      if (!registry.functionExists(FunctionIdentifier(f.name))) {
        registry.createOrReplaceTempFunction(f.name, f.build, "built-in")
      }
    }
    val exp = spark.experimental
    val injected = spark.sessionState.optimizer.extendedOperatorOptimizationRules
    exp.extraOptimizations ++= optimizerRules.filterNot(r =>
      injected.contains(r) || exp.extraOptimizations.contains(r))
    exp.extraStrategies ++= strategies.filterNot(installed(spark, _))
  }

  /** Whether `strategy` plans in `spark`, by either route. */
  def installed(spark: SparkSession, strategy: SparkStrategy): Boolean =
    spark.sessionState.planner.strategies.contains(strategy)
}
