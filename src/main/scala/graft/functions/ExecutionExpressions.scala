package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedSeed
import org.apache.spark.sql.catalyst.expressions.{DefaultStringProducingExpression,
  Expression, ExpressionWithRandomSeed, LeafExpression, Literal, Nondeterministic,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode, TrueLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.RandomUUIDGenerator

/*
 * Values that are fixed for one execution but differ between executions —
 * the time of a run or micro-batch, the seed of a uuid column — kept OUT of
 * the generated Java source.
 *
 * Spark caches compiled classes by their source text. Its own
 * `current_timestamp()` becomes a literal (`ComputeCurrentTime` in a batch
 * query, `CurrentBatchTimestamp` in each micro-batch) and `uuid()` writes
 * its seed into the partition initializer, so a plan that is the same on
 * every trigger still generates new source, and Janino compiles new classes,
 * on every flow sweep and every micro-batch. These expressions hand the
 * value to the generated class through `ctx.addReferenceObj`, the array of
 * objects each generated class is instantiated with, so the source text and
 * the cache key stay the same from one execution to the next.
 */

/** `child` evaluated once per execution and read in generated code through
  * a reference. Not foldable, so constant folding leaves it in place;
  * Spark's per-execution rules still rewrite the child (to the run's or the
  * batch's timestamp literal) before code is generated. A child that is not
  * constant by then is generated as usual. */
case class PerExecution(child: Expression) extends UnaryExpression {
  override def dataType: org.apache.spark.sql.types.DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = false
  override def prettyName: String = "graft_per_execution"

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!child.foldable) child.genCode(ctx)
    else child.eval() match {
      case null =>
        ev.copy(code = EmptyBlock, isNull = TrueLiteral,
          value = JavaCode.defaultLiteral(dataType))
      case v =>
        val javaType = CodeGenerator.javaType(dataType)
        val boxed = CodeGenerator.boxedType(dataType)
        val ref = ctx.addReferenceObj("perExecution", v, boxed)
        val read = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()"
                   else ref
        ev.copy(code = code"final $javaType ${ev.value} = $read;",
          isNull = FalseLiteral)
    }

  override protected def withNewChildInternal(newChild: Expression): PerExecution =
    copy(child = newChild)
}

/** Spark's `uuid()` with its seed read through a reference: the same
  * random UUIDs for the same seed. Being an `ExpressionWithRandomSeed`, it
  * gets a fresh seed from the analyzer for every query and from Spark's
  * incremental execution for every micro-batch, exactly as `uuid()` does. */
case class FlowUuid(randomSeed: Option[Long] = None)
    extends LeafExpression with Nondeterministic
    with DefaultStringProducingExpression with ExpressionWithRandomSeed {
  override def seedExpression: Expression =
    randomSeed.map(Literal.apply).getOrElse(UnresolvedSeed)
  override def withNewSeed(seed: Long): FlowUuid = FlowUuid(Some(seed))
  override def withShiftedSeed(shift: Long): FlowUuid =
    FlowUuid(randomSeed.map(_ + shift))
  override lazy val resolved: Boolean = randomSeed.isDefined
  override def nullable: Boolean = false
  override def stateful: Boolean = true
  override def prettyName: String = "graft_uuid"

  @transient private[this] var generator: RandomUUIDGenerator = _

  override protected def initializeInternal(partitionIndex: Int): Unit =
    generator = RandomUUIDGenerator(randomSeed.get + partitionIndex)

  override protected def evalInternal(input: InternalRow): Any =
    generator.getNextUUIDUTF8String()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[RandomUUIDGenerator].getName
    val gen = ctx.addMutableState(cls, "uuidGenerator", forceInline = true)
    val seed = ctx.addReferenceObj("uuidSeed", randomSeed.get, "java.lang.Long")
    ctx.addPartitionInitializationStatement(
      s"$gen = new $cls($seed.longValue() + partitionIndex);")
    ev.copy(code = code"final UTF8String ${ev.value} = $gen.getNextUUIDUTF8String();",
      isNull = FalseLiteral)
  }
}
