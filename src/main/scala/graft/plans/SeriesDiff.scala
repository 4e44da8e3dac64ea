package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Ascending, Attribute, AttributeSet, BindReferences, BoundReference, EqualNullSafe, Expression, JoinedRow, Predicate, SortOrder, UnaryExpression, Unevaluable, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.DataType

/** The value of `child` in the row after the current one. It has a meaning
  * only inside [[SeriesDiff]]'s `pairs` and `diffed`, where the exec binds
  * it to the held row's successor. Always nullable: a row's successor may
  * be a series' last, with nulls of its own. */
case class Successor(child: Expression) extends UnaryExpression with Unevaluable {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = true
  override protected def withNewChildInternal(newChild: Expression): Successor =
    copy(child = newChild)
}

/** A first difference along ordered series, in one pass: rows clustered
  * by `keys` and sorted by `keys` ++ `order` pair each row with the next
  * row of the same keys (null-safe, as a window partition groups them)
  * when `pairs`, over the row and its [[Successor]], is true. A paired
  * row is emitted with `diffed`'s values in place of the columns
  * `diffedOutput` names, under `diffedOutput`'s fresh attribute ids; a
  * row with no pair, each series' last, is dropped. A window of `lead`s
  * over `PARTITION BY keys ORDER BY order`, a filter on `pairs` and a
  * projection compute the same rows, but buffer each window partition.
  * (`VisOps.diff`, SURVEY row W1; the reference diffs in one pass per
  * series inside its read, `configurators.py:66`.) */
case class SeriesDiff(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    pairs: Expression,
    diffed: Seq[Expression],
    diffedOutput: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = SeriesDiff.outputOf(child.output, diffedOutput)
  override def producedAttributes: AttributeSet = AttributeSet(diffedOutput)
  override protected def withNewChildInternal(newChild: LogicalPlan): SeriesDiff =
    copy(child = newChild)
}

object SeriesDiff {

  /** `df` diffed by a [[SeriesDiff]] node. Each `diffed` column must be
    * aliased to the name of one of `df`'s columns. The columns are
    * resolved by one analysis of a select over `df` (the analyzer would
    * strip aliases held by a node of its own). A streaming `df` fails as
    * the window form does (Structured Streaming only windows by time),
    * rather than diffing each micro-batch on its own. */
  def apply(df: DataFrame, keys: Seq[Column], order: Seq[Column], pairs: Column,
            diffed: Seq[Column]): DataFrame = {
    if (df.isStreaming)
      throw new org.apache.spark.sql.AnalysisException(
        "NON_TIME_WINDOW_NOT_SUPPORTED_IN_STREAMING",
        Map("windowFunc" -> "SeriesDiff",
          "columnName" -> diffed.mkString(", "),
          "windowSpec" -> s"PARTITION BY ${keys.mkString(", ")} ORDER BY ${order.mkString(", ")}"))
    val resolved = df.select(keys ++ order ++ (pairs +: diffed): _*)
      .queryExecution.analyzed.expressions
    def unaliased(e: Expression) = e match {
      case a: Alias => a.child
      case e => e
    }
    val (k, rest) = resolved.splitAt(keys.length)
    val (o, p +: d) = rest.splitAt(order.length)
    val values = d.map {
      case a: Alias if df.columns.contains(a.name) => a
      case e => throw new IllegalArgumentException(
        s"SeriesDiff: ${e.sql} does not replace a column of ${df.columns.mkString(", ")}")
    }
    ensurePlanned(df.sparkSession)
    Bridge.ofRows(df.sparkSession, SeriesDiff(k.map(unaliased),
      o.map(e => SortOrder(unaliased(e), Ascending)), unaliased(p),
      values.map(_.child), values.map(_.toAttribute), df.queryExecution.analyzed))
  }

  /** `c` of the current row's successor. */
  def successor(c: Column): Column = Bridge.column(Successor(Bridge.eagerExpression(c)))

  /** The child's columns, each one `diffedOutput` names replaced by it. */
  def outputOf(in: Seq[Attribute], diffedOutput: Seq[Attribute]): Seq[Attribute] =
    in.map(a => diffedOutput.find(_.name == a.name).getOrElse(a))

  /** Sessions built with `graft.GraftExtensions` plan the node through it;
    * any other session (a test's, say) gets the strategy here. */
  private def ensurePlanned(spark: SparkSession): Unit = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    if (!state.planner.strategies.contains(SeriesDiffStrategy))
      spark.experimental.extraStrategies :+= SeriesDiffStrategy
  }
}

/** Plans [[SeriesDiff]] as [[SeriesDiffExec]]; EnsureRequirements adds the
  * exchange and the sort only where the child's layout does not already
  * meet the exec's requirements. */
object SeriesDiffStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case d: SeriesDiff =>
      SeriesDiffExec(d.keys, d.order, d.pairs, d.diffed, d.diffedOutput,
        planLater(d.child)) :: Nil
    case _ => Nil
  }
}

/** [[SeriesDiff]]'s one pass: it holds a copy of the previous row (the
  * upstream row is reused), tests it against the incoming row and emits
  * the pair's projection. Inside whole-stage codegen the pass is fused
  * with the scan's filters below it and the INS's partial aggregate
  * above, so a row is materialised only as the held copy; `doExecute` is
  * the same pass over rows. Requires rows clustered by `keys` and sorted
  * by `keys` ++ `order`, so a scan that reports that layout (the
  * `graft-vis` key groups and row order) gets no exchange and no sort,
  * and passes that layout on. */
case class SeriesDiffExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    pairs: Expression,
    diffed: Seq[Expression],
    diffedOutput: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = SeriesDiff.outputOf(child.output, diffedOutput)
  override def producedAttributes: AttributeSet = AttributeSet(diffedOutput)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    child.outputOrdering.takeWhile(_.references.subsetOf(outputSet))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(keys.map(SortOrder(_, Ascending)) ++ order)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  /** The held row's columns, then the incoming row's (its successor's). */
  private lazy val (pairInput, paired, projected) = {
    val in = child.output
    val next = in.map(_.newInstance())
    def ofSuccessor(e: Expression): Expression = e.transform { case a: Attribute =>
      next(in.indexWhere(_.exprId == a.exprId))
    }
    def bind(e: Expression): Expression = e.transform { case Successor(c) => ofSuccessor(c) }
    val byName = diffedOutput.map(_.name).zip(diffed.map(bind)).toMap
    (in ++ next,
      keys.map(k => EqualNullSafe(k, ofSuccessor(k))).foldRight(bind(pairs))(And),
      in.map(a => byName.getOrElse(a.name, a)))
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val (schema, pairedExpr, projectedExprs) = (pairInput, paired, projected)
    val in = child.output
    val numOutputRows = longMetric("numOutputRows")
    child.execute().mapPartitionsWithIndex { (index, rows) =>
      val pairsWith = Predicate.create(pairedExpr, schema)
      pairsWith.initialize(index)
      val project = UnsafeProjection.create(projectedExprs, schema)
      project.initialize(index)
      val toUnsafe = UnsafeProjection.create(in, in)
      val joined = new JoinedRow
      new Iterator[InternalRow] {
        // the previous row's copy, and the buffer the next copy goes to
        private var held: UnsafeRow = null
        private var spare: UnsafeRow = null
        private var out: InternalRow = null

        private def hold(row: InternalRow): Unit = {
          val u = row match {
            case u: UnsafeRow => u
            case r => toUnsafe(r)
          }
          if (held == null) { held = u.copy(); spare = u.copy() }
          else {
            spare.copyFrom(u)
            val t = held; held = spare; spare = t
          }
        }

        override def hasNext: Boolean = {
          while (out == null && rows.hasNext) {
            val row = rows.next()
            if (held != null && pairsWith.eval(joined(held, row))) {
              out = project(joined)
              numOutputRows += 1
            }
            hold(row)
          }
          out != null
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val r = out
          out = null
          r
        }
      }
    }
  }

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  override protected def doProduce(ctx: CodegenContext): String =
    child.asInstanceOf[CodegenSupport].produce(ctx, this)

  // the held copy takes every column of the incoming row
  override def usedInputs: AttributeSet = child.outputSet

  /** Per incoming row: copy it to an unsafe row, test the held row against
    * it, evaluate the pair's columns (reading the held row), then hold the
    * copy, swapping two buffers so the columns just read stay valid, and
    * only then hand the pair up: the consumer's code may `continue`. */
  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    val n = child.output.length
    val held = ctx.addMutableState("UnsafeRow", "held", v => s"$v = null;", forceInline = true)
    val spare = ctx.addMutableState("UnsafeRow", "spare", v => s"$v = null;", forceInline = true)
    val numOutputRows = metricTerm(ctx, "numOutputRows")
    ctx.INPUT_ROW = null
    ctx.currentVars = input
    val incoming = GenerateUnsafeProjection.createCode(ctx,
      child.output.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) })
    ctx.INPUT_ROW = held
    ctx.currentVars = Seq.fill[ExprCode](n)(null) ++ input
    val test = BindReferences.bindReference(paired, pairInput).genCode(ctx)
    val columns = projected.map(e => BindReferences.bindReference(e, pairInput).genCode(ctx))
    val pair = ctx.freshName("pair")
    val swap = ctx.freshName("swap")
    val hold =
      s"""if ($held == null) {
         |  $held = ${incoming.value}.copy();
         |  $spare = ${incoming.value}.copy();
         |} else {
         |  $spare.copyFrom(${incoming.value});
         |  UnsafeRow $swap = $held;
         |  $held = $spare;
         |  $spare = $swap;
         |}""".stripMargin
    s"""${incoming.code}
       |boolean $pair = false;
       |if ($held != null) {
       |  ${test.code}
       |  $pair = !${test.isNull} && ${test.value};
       |}
       |if ($pair) {
       |  ${evaluateVariables(columns)}
       |  $hold
       |  $numOutputRows.add(1);
       |  ${consume(ctx, columns)}
       |} else {
       |  $hold
       |}""".stripMargin
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SeriesDiffExec =
    copy(child = newChild)
}
