package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionWithRandomSeed, LeafExpression, Literal, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.RandomUUIDGenerator
import org.apache.spark.sql.types.{DataType, StringType}

/** Spark's `uuid()` with its seed kept out of the generated code.
  *
  * Semantics are `uuid()`'s: random version-4 UUIDs from
  * `RandomUUIDGenerator(seed + partitionIndex)`, so a retried task
  * reproduces its ids. As an `ExpressionWithRandomSeed` it is re-seeded
  * by streaming's `IncrementalExecution` for every micro-batch, so ids
  * stay unique across batches.
  *
  * Spark's own `Uuid.doGenCode` writes the seed into the Java source as a
  * literal, so a streaming stage holding it generates different source in
  * every micro-batch: each batch misses the codegen cache, is compiled
  * again by Janino and runs a class HotSpot has never seen. Here the seed
  * is a reference object, read from the stage's `references` array, and
  * the source is the same whatever the seed.
  */
case class StableUuid(seed: Long) extends LeafExpression
    with Nondeterministic with ExpressionWithRandomSeed {

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def stateful: Boolean = true
  override def prettyName: String = "graft_uuid"

  override def seedExpression: Expression = Literal(seed)
  override def withNewSeed(newSeed: Long): StableUuid = StableUuid(newSeed)
  override def withShiftedSeed(shift: Long): StableUuid = StableUuid(seed + shift)

  @transient private[this] var generator: RandomUUIDGenerator = _

  override protected def initializeInternal(partitionIndex: Int): Unit =
    generator = RandomUUIDGenerator(seed + partitionIndex)

  override protected def evalInternal(input: InternalRow): Any =
    generator.getNextUUIDUTF8String()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[RandomUUIDGenerator].getName
    val gen = ctx.addMutableState(cls, "uuidGen")
    val seedRef = ctx.addReferenceObj("uuidSeed", seed, "java.lang.Long")
    ctx.addPartitionInitializationStatement(
      s"$gen = new $cls($seedRef.longValue() + partitionIndex);")
    ev.copy(code = code"final UTF8String ${ev.value} = $gen.getNextUUIDUTF8String();",
      isNull = FalseLiteral)
  }
}

object StableUuid {
  /** DataFrame-API entry point: a random v4 UUID per row, like `uuid()`. */
  def uuid(): Column = GraftBridge.column(StableUuid(scala.util.Random.nextLong()))
}
