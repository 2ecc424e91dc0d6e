package graft

import org.scalatest.funsuite.AnyFunSuite

class SparkEntrySpec extends AnyFunSuite {

  test("a query key declared by two packs fails instead of shadowing the other") {
    val err = intercept[IllegalArgumentException] {
      SparkEntry.merged(Seq(Map("agg_basic" -> 1, "a" -> 2), Map("agg_basic" -> 3)))
    }
    assert(err.getMessage.endsWith("query keys declared twice: agg_basic"))
    // the declared packs merge without a collision, and only once
    assert(SparkEntry.queries eq SparkEntry.queries)
  }
}
