package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** The harness mains' shared pieces: the oracle file every dump writes,
  * and one scenario of each self-verifying fuzz leg at its default seed
  * (the legs' own `n` stays a manual soak).
  */
class HarnessSpec extends SparkSpec {

  test("oracle JSON: names and SQL with tab, newline, quote and backslash read back exactly") {
    val entries = Seq(
      "q\t\"1\"" -> "SELECT '\\d+'\tFROM t\nWHERE s = \"x\"",
      "q\\2\r" -> "SELECT 1 -- \u0001 control\n",
      "plain" -> "SELECT 1")
    val root = new ObjectMapper().readTree(Verify.oracleJson(entries))
    assert(root.size == entries.size)
    entries.foreach { case (k, v) => assert(root.get(k).asText == v, k) }
  }

  test("fuzz leg DevFuzzCatalogRefs: one scenario at the default seed") {
    DevFuzzCatalogRefs.run(spark, 1, 17L)
  }
  test("fuzz leg DevFuzzExport: one scenario at the default seed") {
    DevFuzzExport.run(spark, 1, 42L)
  }
  test("fuzz leg DevFuzzIceberg: one scenario at the default seed") {
    DevFuzzIceberg.run(spark, 1, 42L)
  }
  test("fuzz leg DevFuzzMv: one scenario at the default seed") {
    DevFuzzMv.run(spark, 1, 29L)
  }
  test("fuzz leg DevFuzzStreamMaint: one scenario at the default seed") {
    DevFuzzStreamMaint.run(spark, 1, 23L)
  }
  test("fuzz leg DevFuzzCrash: one scenario at the default seed") {
    DevFuzzCrash.run(spark, 1, 20260814L)
  }
}
