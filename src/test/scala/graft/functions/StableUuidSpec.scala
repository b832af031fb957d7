package graft.functions

import graft.TestSpark
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, Uuid}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.scalatest.funsuite.AnyFunSuite

/** [[StableUuid]] keeps Spark's `uuid()` contract, `RandomUUIDGenerator(seed
  * + partitionIndex)`, while its generated source does not depend on the
  * seed. */
class StableUuidSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Four partitions of ten rows, through whole-stage codegen. */
  private def frame(e: Expression) =
    spark.range(0, 40, 1, 4).select(GraftBridge.column(e).as("id"))

  private def ids(e: Expression): Seq[String] =
    frame(e).collect().map(_.getString(0)).toSeq

  test("generated code gives Spark's uuid() ids for the same seed, on every run") {
    val ours = ids(StableUuid(42L))
    assert(ours == ids(Uuid(Some(42L))))
    assert(ours == ids(StableUuid(42L)), "a rerun with the seed reproduces its ids")
    assert(ours.distinct.length == 40)
    ours.foreach(id => assert(java.util.UUID.fromString(id).version() == 4, id))
    assert(ids(StableUuid(4242L)).intersect(ours).isEmpty)
  }

  test("interpreted evaluation gives Spark's uuid() ids for the same seed and partition") {
    def first3(e: Nondeterministic, partition: Int): Seq[Any] = {
      e.initialize(partition)
      Seq.fill(3)(e.eval())
    }
    assert(first3(StableUuid(7L), 2) == first3(Uuid(Some(7L)), 2))
  }

  test("the generated source is the same whatever the seed") {
    def code(e: Expression): Seq[String] =
      codegenStringSeq(frame(e).queryExecution.executedPlan).map(_._2)
    assert(code(StableUuid(1L)) == code(StableUuid(2L)))
    // Spark's own uuid() writes the seed into the source
    assert(code(Uuid(Some(1L))) != code(Uuid(Some(2L))))
  }

  test("re-seeding keeps the class, as streaming does for every micro-batch") {
    assert(StableUuid(1L).withNewSeed(5L) == StableUuid(5L))
    assert(StableUuid(1L).withShiftedSeed(5L) == StableUuid(6L))
  }
}
