package graft

import org.scalatest.funsuite.AnyFunSuite

/** Query selection of the harness mains ([[Harness.select]]). It needs no
  * session, so none is built here.
  */
class HarnessSpec extends AnyFunSuite {

  private val registry = SparkEntry.queries.keys.toVector

  test("a qNNN prefix selects its own query, not the qNNN0-qNNN9 ones") {
    assert(registry.count(_.startsWith("q38")) == 11)
    assert(Harness.select(Seq("q38")) == Vector("q38_misc2_point_bbox"))
  }

  test("a full registry key selects itself") {
    assert(Harness.select(Seq("q381_closeness")) == Vector("q381_closeness"))
  }

  test("a prefix that matches no query is an error naming it") {
    val e = intercept[IllegalArgumentException](
      Harness.select(Seq("q38", "q9999")))
    assert(e.getMessage.endsWith("no registry query matches: q9999"))
  }

  test("no filter selects every registry key, in registry order") {
    assert(Harness.select(Nil) == registry)
  }

  test("several prefixes select in registry order, not argument order") {
    val picked = Harness.select(Seq("q382", "q381"))
    assert(picked == registry.filter(Set("q381_closeness", "q382_harmonic")))
  }
}
