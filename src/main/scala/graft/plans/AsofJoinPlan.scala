package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native AS-OF JOIN — the whole-operator custom-plan path (SURVEY.md
  * §4.3 / builder mandate option (c)): a `LogicalPlan` node, a
  * `SparkStrategy`, and a `SparkPlan`; the strategy is installed with
  * the session by [[GraftExtensions]].
  *
  * Semantics (left-outer as-of): for every left row, the single right
  * row with equal keys and the greatest right-time <= left-time
  * (backward, the default), or the smallest right-time >= left-time
  * (`forward = true`); null right columns when none exists. Matches
  * DuckDB `ASOF LEFT JOIN` with `r.t <= l.t` / `r.t >= l.t`
  * respectively (the q30/q88 oracles).
  *
  * Why a custom operator: Spark has no as-of join. The composition
  * (union both sides, window `last(_, ignoreNulls)` over
  * unbounded-preceding) works but materializes window state and gives
  * AQE an opaque window stage. This node declares the real requirement —
  * `ClusteredDistribution` on the keys and (key, time) sort within
  * partitions — so EnsureRequirements plans ONE co-partitioning shuffle
  * per side (reusing any existing partitioning/sort for free), and the
  * merge itself is a streaming single pass per partition: O(1) state
  * (one held right row), no window buffers, no candidate blowup. That
  * is the right shape at 100 TB: shuffle each side once, then linear
  * merge.
  */
case class AsofJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    toleranceMicros: Option[Long] = None,
    forward: Boolean = false) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoin =
    copy(left = newLeft, right = newRight)
}

object AsofJoin {

  /** Build the as-of join DataFrame; key/time columns resolved by name
    * against each side (keeps the public API free of internals). */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTime: String, rightTime: String,
      toleranceMicros: Option[Long] = None,
      direction: String = "backward"): DataFrame = {
    val spark = left.sparkSession
    val forward = direction match {
      case "backward" => false
      case "forward" => true
      case other => throw new IllegalArgumentException(
        s"asofJoin: direction must be 'backward' or 'forward', got '$other'")
    }
    require(GraftExtensions.installed(spark, AsofJoinStrategy),
      "asofJoin: AsofJoinStrategy is not installed on this session; build " +
        "it with spark.sql.extensions=graft.plans.GraftExtensions or call " +
        "graft.Graft.registerFunctions(spark) once")
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    // honor the session's name-resolution semantics (spark.sql.caseSensitive)
    // instead of exact matching, and reject ambiguous duplicate-name
    // outputs instead of silently picking the first (ADVICE.md r02)
    val resolver = spark.sessionState.conf.resolver
    def resolve(plan: LogicalPlan, name: String): Attribute =
      plan.output.filter(a => resolver(a.name, name)) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"asofJoin: no column '$name' in ${plan.output.map(_.name)}")
        case many => throw new IllegalArgumentException(
          s"asofJoin: ambiguous column '$name' matches " +
            s"${many.map(_.name)}; disambiguate the input projections")
      }
    val lk = leftKeys.map(resolve(lPlan, _))
    val rk = rightKeys.map(resolve(rPlan, _))
    val lt = resolve(lPlan, leftTime)
    val rt = resolve(rPlan, rightTime)
    // fail at build time on type mismatches: the merge compares raw
    // row fields with orderings derived from the LEFT types, so a
    // mismatched right side would silently mis-join, not error
    require(lk.length == rk.length,
      s"asofJoin: ${lk.length} left keys vs ${rk.length} right keys")
    lk.zip(rk).foreach { case (l, r) =>
      require(l.dataType == r.dataType,
        s"asofJoin: key type mismatch ${l.name}: ${l.dataType.simpleString}" +
          s" vs ${r.name}: ${r.dataType.simpleString}")
    }
    require(lt.dataType == rt.dataType,
      s"asofJoin: time type mismatch ${lt.dataType.simpleString} vs " +
        rt.dataType.simpleString)
    toleranceMicros.foreach { tol =>
      require(tol >= 0, s"asofJoin: negative tolerance $tol")
      require(AsofJoinExec.integralTimeType(lt.dataType),
        s"asofJoin: tolerance requires an integral/timestamp time " +
          s"column, got ${lt.dataType.simpleString}")
    }
    val node = AsofJoin(lPlan, rPlan, lk, rk, lt, rt, toleranceMicros, forward)
    org.apache.spark.sql.graft.Bridge.ofRows(spark, node)
  }
}

/** Plans the logical [[AsofJoin]] into [[AsofJoinExec]]. */
object AsofJoinExec {
  /** Time types the tolerance may subtract on: timestamps (internal
    * long microseconds, so toleranceMicros means what it says) and
    * plain integral columns (tolerance in the column's own unit).
    * DateType is deliberately excluded — its internal unit is DAYS and
    * a caller passing microseconds would get a silently unbounded
    * tolerance. */
  def integralTimeType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }
}

object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoin(l, r, lk, rk, lt, rt, tol, fwd) =>
      AsofJoinExec(lk, rk, lt, rt, tol, fwd, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Physical as-of join: requires both children clustered on their keys
  * and sorted by (keys, time); executes as a per-partition streaming
  * merge. Backward holds exactly one candidate right row (the latest
  * seen with time <= left time); forward holds none — it discards right
  * rows strictly before the left time and peeks the first remaining one.
  * Both are O(1)-state single passes: discarding is safe because left
  * times are non-decreasing within a key, so a right row too early for
  * this left row is too early for every later one. */
case class AsofJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    toleranceMicros: Option[Long],
    forward: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val rightWidth = right.output.size
    val timeType = leftTime.dataType
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, left.output)
      val rKeyProj = UnsafeProjection.create(rightKeys, right.output)
      val lTimeBound = BindReferences.bindReference(leftTime, left.output)
      val rTimeBound = BindReferences.bindReference(rightTime, right.output)
      val keyOrd =
        RowOrdering.createNaturalAscendingOrdering(leftKeys.map(_.dataType))
      val timeOrd = org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(timeType)
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      val outProj = UnsafeProjection.create(output, output)

      var rRow: InternalRow = if (rIter.hasNext) rIter.next() else null
      def advanceRight(): Unit =
        rRow = if (rIter.hasNext) rIter.next() else null
      // the single held candidate: the latest right row whose time is
      // <= the current left row's time, with its key pinned by copy
      var heldRow: InternalRow = null
      var heldKey: UnsafeRow = null
      var heldTime: Any = null
      def asLong(v: Any): Long = v match {
        case l: Long => l
        case i: Int => i.toLong
        case s: Short => s.toLong
        case b: Byte => b.toLong
        case other => other.asInstanceOf[Number].longValue()
      }

      if (forward) lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lTimeV = lTimeBound.eval(lRow)
        val probeValid = lTimeV != null && !lKey.anyNull
        if (probeValid) {
          // discard right rows with smaller key, null key/time, or time
          // strictly before this left row; the survivor (if key-equal)
          // is the smallest right-time >= left-time. No copy needed:
          // rRow is only mutated by the advance that replaces it.
          var continue = true
          while (continue && rRow != null) {
            val rKey = rKeyProj(rRow)
            if (rKey.anyNull) advanceRight()
            else {
              val c = keyOrd.compare(rKey, lKey)
              if (c < 0) advanceRight()
              else if (c > 0) continue = false
              else {
                val rTimeV = rTimeBound.eval(rRow)
                if (rTimeV == null) advanceRight()
                else if (timeOrd.asInstanceOf[Ordering[Any]]
                    .compare(rTimeV, lTimeV) < 0) advanceRight()
                else continue = false
              }
            }
          }
        }
        val matched = probeValid && rRow != null && {
          val rKey = rKeyProj(rRow)
          !rKey.anyNull && keyOrd.compare(rKey, lKey) == 0 && {
            val rTimeV = rTimeBound.eval(rRow)
            rTimeV != null &&
              timeOrd.asInstanceOf[Ordering[Any]].compare(rTimeV, lTimeV) >= 0 &&
              toleranceMicros.forall { tol =>
                // rTime >= lTime by the merge invariant, so a negative
                // difference can only be Long overflow -> gap too large
                val gap = asLong(rTimeV) - asLong(lTimeV)
                gap >= 0 && gap <= tol
              }
          }
        }
        outProj(joined(lRow, if (matched) rRow else nullRight))
      }
      else lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lTimeV = lTimeBound.eval(lRow)
        val probeValid = lTimeV != null && !lKey.anyNull
        if (probeValid) {
          var continue = true
          while (continue && rRow != null) {
            val rKey = rKeyProj(rRow)
            if (rKey.anyNull) advanceRight() // null keys never match
            else {
              val c = keyOrd.compare(rKey, lKey)
              if (c < 0) { heldRow = null; heldKey = null; advanceRight() }
              else if (c > 0) continue = false
              else {
                val rTimeV = rTimeBound.eval(rRow)
                if (rTimeV == null) advanceRight()
                else if (timeOrd.asInstanceOf[Ordering[Any]]
                    .compare(rTimeV, lTimeV) <= 0) {
                  heldRow = rRow.copy()
                  heldKey = rKey.copy()
                  heldTime = rTimeV
                  advanceRight()
                } else continue = false
              }
            }
          }
        }
        val matched = probeValid && heldRow != null &&
          keyOrd.compare(heldKey, lKey) == 0 &&
          toleranceMicros.forall { tol =>
            // heldTime <= lTime by the merge invariant, so a negative
            // difference can only be Long overflow -> gap too large
            val gap = asLong(lTimeV) - asLong(heldTime)
            gap >= 0 && gap <= tol
          }
        outProj(joined(lRow, if (matched) heldRow else nullRight))
      }
    }
  }
}
