package flowbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed generates the same inputs; another seed does not") {
    assert(Gen.batch(7, 3, 500).map(_.json) == Gen.batch(7, 3, 500).map(_.json))
    assert(Gen.batch(7, 3, 500).map(_.json) != Gen.batch(8, 3, 500).map(_.json))
    val corpus = Gen.batch(7, 0, 2000)
    assert(Gen.interactions(7, corpus, 50) == Gen.interactions(7, corpus, 50))
    val a = Gen.vectors(7, 100, 10, 16)
    val b = Gen.vectors(7, 100, 10, 16)
    assert(a.corpus.map(_.toSeq) == b.corpus.map(_.toSeq))
    assert(a.queries.map(_.toSeq) == b.queries.map(_.toSeq))
    assert(Gen.vectors(8, 100, 10, 16).corpus.head.toSeq != a.corpus.head.toSeq)
  }

  test("a batch is a pure function of (seed, batch): regenerating one batch alone matches") {
    val whole = (0 until 3).flatMap(Gen.batch(11, _, 300))
    assert(Gen.batch(11, 2, 300) == whole.drop(600))
  }

  test("every batch carries all 7 salary forms and all 8 experience forms") {
    val b = Gen.batch(3, 5, 10000)
    assert(b.map(_.salaryForm).distinct.size == 7)
    val experience = "\"experience\": \"([^\"]*)\"".r
    val shapes = b.map(p => experience.findFirstMatchIn(p.json).get.group(1)
      .replaceAll("\\d+", "N")).distinct
    assert(shapes.size == 8, shapes)
  }

  test("cities and skills are Zipf-skewed") {
    val b = Gen.batch(5, 0, 10000)
    val byCity = b.groupBy(_.city).map { case (c, ps) => c -> ps.size }
    assert(byCity(Gen.cities.head) > 5 * byCity(Gen.cities.last))
    val skillsField = "\"skills\": \"([^\"]*)\"".r
    val skills = b.flatMap(p => skillsField.findFirstMatchIn(p.json).get.group(1).split(", "))
    val bySkill = skills.groupBy(identity).map { case (s, xs) => s -> xs.size }
    assert(bySkill(Gen.skills.head) > 5 * bySkill.getOrElse(Gen.skills.last, 1))
  }

  test("held-out queries are not corpus points") {
    val v = Gen.vectors(9, 200, 20, 16)
    val corpus = v.corpus.map(_.toSeq).toSet
    assert(v.queries.forall(q => !corpus(q.toSeq)))
  }
}
