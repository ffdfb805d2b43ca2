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

  test("--partitions is no longer an option") {
    val e = intercept[RuntimeException](Main.parseArgs(Array("--input", "in", "--partitions", "4")))
    assert(e.getMessage.startsWith("unknown option --partitions; accepted:"))
    assert(!e.getMessage.split("accepted:")(1).contains("--partitions"))
  }

  test("--max-bytes-per-doc 0 is rejected before a session starts") {
    import org.apache.spark.sql.SparkSession
    val before = (SparkSession.getDefaultSession, SparkSession.getActiveSession)
    for (v <- Seq("0", "-1")) {
      val e = intercept[IllegalArgumentException](Main.main(Array(
        "--input", "in", "--warehouse", "wh", "--max-bytes-per-doc", v)))
      assert(e.getMessage.contains(s"--max-bytes-per-doc must be positive, got $v"))
    }
    assert((SparkSession.getDefaultSession, SparkSession.getActiveSession) == before)
  }
}
