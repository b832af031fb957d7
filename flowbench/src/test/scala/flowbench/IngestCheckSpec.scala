package flowbench

import graft.streaming.StreamingEtl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ingest answer check against real ETL output: an intact sink passes,
  * and a sink with one row dropped or one value changed fails exactly the
  * batch that row belongs to, also when the batch ETL reference carries
  * the same wrong value. */
class IngestCheckSpec extends AnyFunSuite {

  private lazy val spark = graft.Sessions.local("flowbench-test", 2)

  private val seed = 42L
  private val batches = Seq(0, 1)
  private lazy val postings = batches.flatMap(Gen.batch(seed, _, Ingest.BatchSize))
  private lazy val etl: DataFrame = StreamingEtl.transform(
    spark.createDataFrame(postings.map(p => Tuple1(p.json))).toDF("value")).cache()
  private lazy val sampled = postings.filter(_.seq % Ingest.HashSample == 0)

  private def failed(sink: DataFrame): Set[Int] =
    Ingest.failedBatches(batches, Ingest.tallies(postings), Ingest.fingerprint(sink),
      Ingest.references(spark, sampled))

  private lazy val salaryVictim = sampled.find(p => p.title.isDefined && p.salaryForm != 3).get
  private def salaryOffByOne(df: DataFrame): DataFrame =
    df.withColumn("salary_min",
      when(col("job_title") === salaryVictim.title.get, col("salary_min") + 1)
        .otherwise(col("salary_min")))

  test("an intact sink passes") {
    assert(failed(etl).isEmpty)
  }

  test("one row dropped from the sink fails its batch") {
    val victim = postings.find(p => p.seq >= Ingest.BatchSize && p.title.isDefined).get
    assert(failed(etl.filter(col("job_title") =!= victim.title.get)) == Set(1))
  }

  test("the generator's model of every parsed value matches the ETL") {
    val model = Ingest.modelled(spark, postings)
    val cols = model.columns.toSeq.map(col)
    assert(model.count() == etl.count())
    assert(model.select(cols: _*).exceptAll(etl.select(cols: _*)).isEmpty)
  }

  test("one wrong parsed value fails its batch") {
    assert(failed(salaryOffByOne(etl)) == Set(0))
  }

  test("a wrong parsed value the batch ETL shares still fails its batch") {
    val both = salaryOffByOne(etl)
    val refs = Seq(both, Ingest.modelled(spark, sampled))
      .map(df => Ingest.fingerprint(df).map { case (k, (_, h)) => k -> h })
    assert(Ingest.failedBatches(batches, Ingest.tallies(postings), Ingest.fingerprint(both),
      refs) == Set(0))
  }

  test("a duplicated row fails its batch") {
    val victim = postings.find(p => p.seq == 7 && p.title.isDefined)
      .getOrElse(postings.find(_.title.isDefined).get)
    assert(failed(etl.union(etl.filter(col("job_title") === victim.title.get))) == Set(0))
  }
}
