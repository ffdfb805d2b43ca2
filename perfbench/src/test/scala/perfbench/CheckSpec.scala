package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

class CheckSpec extends AnyFunSuite {

  private val seed = 42L

  test("every generated pdf_extract doc extracts to its expected bytes") {
    for (id <- 0L until 200L) {
      val r = graft.Extract(Inputs.pdfPayload(seed, id))
      assert(Check.matches(r.status, r.textBytes, Inputs.pdfExpected(seed, id)), s"doc $id")
    }
  }

  test("every crawl capture that must survive extracts to its expected bytes") {
    for (id <- 0L until 200L) {
      val r = graft.Extract(Inputs.crawlPayload(seed, id, if (Inputs.recrawled(id)) 1 else 0))
      assert(Check.matches(r.status, r.textBytes, Inputs.crawlExpected(seed, id)), s"doc $id")
    }
  }

  test("a corrupted expected output is counted as a failure") {
    val verdicts = (0L until 8L).map { id =>
      val r = graft.Extract(Inputs.pdfPayload(seed, id))
      val expected = Inputs.pdfExpected(seed, id).clone()
      if (id == 3) expected(0) = (expected(0) ^ 1).toByte
      (id, Check.matches(r.status, r.textBytes, expected))
    }
    val c = Check.tally(8, verdicts)
    assert(c.wrong == 1 && c.failed == 1 && c.failedDocs == 1)
    assert(c.examples == Seq("doc 3: wrong status or bytes"))
  }

  test("a wrong status fails even with the right bytes") {
    val bytes = "text".getBytes(UTF_8)
    assert(!Check.matches("error", bytes, bytes))
    assert(Check.matches("ok", bytes, bytes))
  }

  test("duplicate and missing docs are failures") {
    val c = Check.tally(5, Seq(0L -> true, 1L -> true, 1L -> true, 3L -> true, 9L -> true))
    assert(c.dupes == 2) // the second row of doc 1, and doc 9 out of range
    assert(c.missing == 2) // docs 2 and 4
    assert(c.wrong == 0)
    assert(c.failed == 4 && c.failedDocs == 2)
  }

  test("dedup check accepts the constructed answer and flags a wrong group or pair") {
    val docs = 30L
    val want = DedupCheck.expectedPairs(seed, docs)
    // families headed by 0, 15 (copies) and 5, 20 (chains of two edits)
    assert(want.keySet == Set((0L, 1L), (5L, 6L), (5L, 7L), (6L, 7L), (15L, 16L),
      (20L, 21L), (20L, 22L), (21L, 22L)))
    val pairs = want.toSeq.map { case ((a, b), (i, u)) => (a, b, i, u) }
    val group = Map(1L -> 0L, 6L -> 5L, 7L -> 5L, 16L -> 15L, 21L -> 20L, 22L -> 20L)
    val groups = (0L until docs).map(id => id -> group.getOrElse(id, id))
    assert(DedupCheck.compare(seed, docs, pairs, groups).failed == 0)
    val wrongGroup = groups.map { case (id, g) => if (id == 7) (id, id) else (id, g) }
    assert(DedupCheck.compare(seed, docs, pairs, wrongGroup).failedDocs == 1)
    val missingPair = pairs.filterNot(p => p._1 == 6 && p._2 == 7)
    assert(DedupCheck.compare(seed, docs, missingPair, groups).failedDocs == 2)
    val wrongCount = pairs.map { case (a, b, i, u) => if (a == 0) (a, b, i - 1, u) else (a, b, i, u) }
    assert(DedupCheck.compare(seed, docs, wrongCount, groups).failedDocs == 2)
  }

  test("dedup shingles follow the oracle's tokenization") {
    assert(DedupCheck.shingles("") == Set.empty)
    assert(DedupCheck.shingles("A b") == Set("a b"))
    assert(DedupCheck.shingles("a b c a b c") == Set("a b c", "b c a", "c a b"))
    assert(DedupCheck.shingles("x-y, Z!") == Set("x y z"))
  }
}
