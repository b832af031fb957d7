package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry integrity: `SparkEntry.queries` is name-keyed, so a
  * duplicated query name would SILENTLY shadow one of the two — the
  * correctness gate would then pass while a registered query never
  * runs. Locked here instead of discovered as a mysteriously missing
  * verify row. */
class RegistrySpec extends AnyFunSuite {

  test("query names are globally unique across all catalogs") {
    val names = SparkEntry.catalogs.map(_.name)
    val dupes = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dupes.isEmpty, s"duplicate query names shadow each other in the Map: $dupes")
    assert(SparkEntry.queries.size == names.size)
  }

  test("every oracle belongs to a registered query; naming conventions hold") {
    val names = SparkEntry.catalogs.map(_.name).toSet
    assert(SparkEntry.oracleSql.keySet.subsetOf(names))
    // the driver's ONLY-prefix knob and the coverage boards key on the
    // family prefix — enforce the convention new queries must follow
    val family = "^(q|aq|dq|eq|fq|jq|kq|mq|pq|sq|tq|wq)\\d".r
    val off = names.filterNot(n => family.findPrefixOf(n).isDefined)
    assert(off.isEmpty, s"query names must start with a family prefix + number: $off")
  }

  test("SPARK_GRAFT_ONLY prefixes select exactly the matching queries; unset selects all") {
    val all = SparkEntry.queries.keySet
    assert(SparkEntry.selected(None).map(_._1).toSet == all)
    val picked = SparkEntry.selected(Some("q0, jq")).map(_._1)
    assert(picked.nonEmpty && picked == picked.sorted)
    assert(picked.toSet == all.filter(n => n.startsWith("q0") || n.startsWith("jq")))
  }

  test("the bench regression gate reads a baseline only at the run's own scale factor") {
    val line = """{"metric":"total","queries":{"jq01_salary_parse":0.596,"q01_pricing":1.250},"errors":{},"sf":"/data/sf0.1"}"""
    assert(Bench.baselineFor(line, "/data/sf0.1") ==
      Map("jq01_salary_parse" -> 0.596, "q01_pricing" -> 1.25))
    assert(Bench.baselineFor(line, "/data/sf0.001").isEmpty, "mismatched sf must not gate")
    val noSf = """{"metric":"total","queries":{"jq01_salary_parse":0.596}}"""
    assert(Bench.baselineFor(noSf, "/data/sf0.1").isEmpty, "a baseline without sf must not gate")
  }
}
