package graft.etl

import graft.TestSpark
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property tests for the parser cascades (SURVEY §5: the
  * regex cascades are the highest-risk code). A driver-side Scala model
  * re-implements the cascade semantics; generated inputs are evaluated in
  * ONE Spark pass per property and compared row-for-row. */
class ParserPropertySpec extends AnyFunSuite {

  /** Run a ScalaCheck property (no scalatestplus bridge in the offline
    * cache): 20 batched trials, fail the suite on any falsification. */
  private def check(prop: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }
  private lazy val spark = TestSpark.spark

  /** Driver-side model of the salary unit inference for bare "A - B"
    * numeric ranges (job_streaming.py:87-99). */
  private def modelMillions(n: Long): Double =
    if (n >= 1000) n / 1000000.0
    else if (n > 100 && n < 1000) n / 1000.0
    else n.toDouble

  /** Unicode garbage over the cascade's own alphabet. */
  private val garbage: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.listOfN(12, Gen.oneOf('ệ', 'ộ', '-', '$', '9', ' ', 'm', 't', 'r', '.')).map(_.mkString))

  /** Salary texts over every cascade branch: bare ranges, USD, the
    * "tr/triệu/m" million keywords, '.'/',' separators and decimals,
    * magnitudes up to 5e7, garbage, and null. */
  private val salaryText: Gen[Option[String]] = {
    def grouped(n: Long, sep: Char) = f"$n%,d".replace(',', sep)
    val forms: Seq[(Long, Long) => String] = Seq(
      (a, b) => s"$a - $b",
      (a, b) => s"$a - $b USD",
      (a, b) => s"$$$a - $$$b",
      (a, _) => s"Up to $a usd",
      (a, b) => s"$a - $b triệu",
      (a, _) => s"Từ $a tr",
      (a, b) => s"${a}m - ${b}m",
      (a, b) => s"${grouped(a, '.')} - ${grouped(b, '.')}",
      (a, b) => s"${grouped(a, ',')} - ${grouped(b, ',')} VND",
      (a, b) => s"${a % 100},5 - ${b % 100}.5 triệu",
      (a, b) => s"${a % 100}.${b % 10} - ${b % 100} m")
    val form: Gen[String] = for {
      a <- Gen.chooseNum(0L, 50000000L)
      b <- Gen.chooseNum(0L, 50000000L)
      f <- Gen.oneOf(forms)
    } yield f(a, b)
    Gen.frequency(8 -> form.map(Some(_)), 1 -> garbage.map(Some(_)), 1 -> Gen.const(None))
  }

  test("salary ranges 'A - B' parse to unit-inferred (min,max,avg) for any magnitudes") {
    import spark.implicits._
    val gen = Gen.listOfN(300,
      for {
        a <- Gen.chooseNum(0L, 50000000L)
        b <- Gen.chooseNum(0L, 50000000L)
      } yield (a, b))
    val prop = Prop.forAllNoShrink(gen) { pairs =>
      val texts = pairs.map { case (a, b) => s"$a - $b" }
      val out = texts.toDF("salary")
        .select(col("salary"),
          SalaryParser.salaryMin(col("salary")).as("mn"),
          SalaryParser.salaryMax(col("salary")).as("mx"))
        .collect()
        .map(r => r.getString(0) -> ((r.get(1), r.get(2)))).toMap
      pairs.forall { case (a, b) =>
        val (mn, mx) = out(s"$a - $b")
        mn == modelMillions(a) && mx == modelMillions(b)
      }
    }
    check(prop)
  }

  test("experience 'E - F năm' always parses as a range with min E, max F") {
    import spark.implicits._
    val gen = Gen.listOfN(200,
      for {
        e <- Gen.chooseNum(0, 39)
        f <- Gen.chooseNum(0, 39)
      } yield (e, f))
    val prop = Prop.forAllNoShrink(gen) { pairs =>
      val texts = pairs.map { case (e, f) => s"$e - $f năm" }
      import ExperienceParser._
      val out = texts.toDF("experience")
        .select(col("experience"),
          expMinYear(col("experience")).as("mn"),
          expMaxYear(col("experience")).as("mx"),
          expType(col("experience")).as("t"))
        .collect()
        .map(r => r.getString(0) -> ((r.get(1), r.get(2), r.getString(3)))).toMap
      pairs.forall { case (e, f) =>
        // cascade order quirk preserved: "E - F năm" hits the "N năm"
        // branch before the range branch — min is still the FIRST number
        out(s"$e - $f năm") == ((e.toDouble, f.toDouble, "range"))
      }
    }
    check(prop)
  }

  test("the parser never throws on arbitrary unicode garbage") {
    import spark.implicits._
    val gen = Gen.listOfN(150, garbage)
    val prop = Prop.forAllNoShrink(gen) { texts =>
      val n = texts.toDF("salary")
        .select(
          SalaryParser.salaryMin(col("salary")).as("mn"),
          ExperienceParser.expMinYear(col("salary")).as("emn"),
          ExperienceParser.expType(col("salary")).as("t"))
        .count()
      n == texts.length
    }
    check(prop)
  }

  test("JobEtl.transform's staged salary columns equal the composed SalaryParser columns bit for bit") {
    val schema = StructType(StructField("row", LongType) +: JobSchema.schema.fields)
    val names = JobSchema.schema.fieldNames
    val prop = Prop.forAllNoShrink(Gen.listOfN(300, salaryText)) { texts =>
      val rows = texts.zipWithIndex.map { case (salary, i) =>
        val fields = names.map {
          case "job_title"  => s"Job $i"
          case "salary"     => salary.orNull
          case "experience" => "1 - 3 năm"
          case "event_time" => "2024-03-01 10:00:00"
          case "salary_min" | "salary_max" => null
          case _            => "x"
        }
        Row.fromSeq(i.toLong +: fields.toSeq)
      }
      // an RDD source, not a local relation: the projection runs through
      // whole-stage codegen instead of being folded at optimization
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      def bits(r: Row, i: Int): Option[Long] =
        if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))
      def byRow(out: DataFrame) =
        out.collect().map(r => r.getLong(0) -> ((bits(r, 1), bits(r, 2), bits(r, 3)))).toMap
      val staged = byRow(JobEtl.transform(df, deterministicId = true)
        .select("row", "salary_min", "salary_max", "salary_avg"))
      val composed = byRow(df
        .select(col("row"),
          SalaryParser.salaryMin(col("salary")).as("mn"),
          SalaryParser.salaryMax(col("salary")).as("mx"))
        .withColumn("avg", SalaryParser.salaryAvg(col("mn"), col("mx"))))
      staged.size == texts.size && staged == composed
    }
    check(prop)
  }

  test("JobEtl.transform's output schema keeps its names, order and types") {
    val in = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], JobSchema.schema)
    def nameTypes(deterministicId: Boolean) =
      JobEtl.transform(in, deterministicId).schema.map(f => f.name -> f.dataType)
    val want = Seq(
      "job_title" -> StringType, "job_type" -> StringType,
      "position_level" -> StringType, "city" -> StringType,
      "experience" -> StringType, "skills" -> StringType,
      "job_fields" -> StringType, "salary" -> StringType,
      "salary_min" -> DoubleType, "salary_max" -> DoubleType,
      "unit" -> StringType, "event_time" -> TimestampType,
      "event_type" -> StringType, "salary_avg" -> DoubleType,
      "exp_min_year" -> DoubleType, "exp_max_year" -> DoubleType,
      "exp_avg_year" -> DoubleType, "exp_type" -> StringType,
      "id" -> StringType)
    assert(nameTypes(deterministicId = true) == want)
    assert(nameTypes(deterministicId = false) == want)
  }
}
