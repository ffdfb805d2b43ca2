package graft.spark

import org.scalatest.funsuite.AnyFunSuite

class MainSpec extends AnyFunSuite {
  test("parseArgs rejects an unknown flag and names the accepted ones") {
    val e = intercept[RuntimeException](Main.parseArgs(Array("--input", "in", "--bucket", "4096")))
    assert(e.getMessage.startsWith("unknown option --bucket; accepted: --input --warehouse"))
    assert(e.getMessage.contains("--buckets"))
    assert(Main.parseArgs(Array("--input", "in", "--buckets", "4096")) ==
      Map("input" -> "in", "buckets" -> "4096"))
    intercept[RuntimeException](Main.parseArgs(Array("--buckets")))
    intercept[RuntimeException](Main.parseArgs(Array("stray")))
  }
}
