package perfbench

/** Outcome of checking one workload's outputs against the expected ones.
  *
  * @param attempted docs whose output was checked
  * @param wrong     docs present with a wrong status or wrong bytes
  * @param dupes     extra rows for a doc that already had one
  * @param missing   expected docs with no row at all
  */
final case class Check(attempted: Long, wrong: Long, dupes: Long, missing: Long,
                       examples: Seq[String]) {
  def failed: Long = wrong + dupes + missing
  /** Docs whose output does not check out; they never count as done work. */
  def failedDocs: Long = wrong + missing
}

object Check {
  val Empty: Check = Check(0, 0, 0, 0, Nil)

  /** An extracted doc checks out when its status is ok and its bytes equal
    * the expected bytes exactly.
    */
  def matches(status: String, bytes: Array[Byte], expected: Array[Byte]): Boolean =
    status == "ok" && java.util.Arrays.equals(bytes, expected)

  /** Tallies per-doc verdicts `(id, ok)` against the id range [0, n). */
  def tally(n: Long, verdicts: Seq[(Long, Boolean)]): Check = {
    val seen = scala.collection.mutable.HashSet.empty[Long]
    var wrong = 0L
    var dupes = 0L
    val examples = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((id, ok) <- verdicts) {
      if (id < 0 || id >= n || !seen.add(id)) {
        dupes += 1
        if (examples.length < 10) examples += s"doc $id: duplicate or unexpected row"
      } else if (!ok) {
        wrong += 1
        if (examples.length < 10) examples += s"doc $id: wrong status or bytes"
      }
    }
    Check(n, wrong, dupes, n - seen.size, examples.toSeq)
  }
}

/** Expected MinHash results by construction (see `Inputs.dedupText`):
  * the near-duplicate pairs are exactly the family pairs whose shingle
  * Jaccard reaches the threshold, and each doc's group is the lowest id
  * of its family component. Shingles follow the oracle SQL: lower case,
  * split on non-alphanumerics, distinct word trigrams (the joined words
  * when a doc has fewer than three).
  */
object DedupCheck {
  val Threshold = 0.7

  def shingles(text: String): Set[String] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").filter(_.nonEmpty)
    if (toks.isEmpty) Set.empty
    else if (toks.length < 3) Set(toks.mkString(" "))
    else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  /** (a, b) -> (inter, un) for every family pair at or above the threshold. */
  def expectedPairs(seed: Long, docs: Long): Map[(Long, Long), (Int, Int)] = {
    val sets = (0L until docs).map(id => shingles(Inputs.dedupText(seed, id))).toArray
    (0L until docs by 5).flatMap { head =>
      val members = Inputs.dedupFamily(head).filter(_ < docs)
      for (a <- members; b <- members if a < b) yield (a, b)
    }.flatMap { case (a, b) =>
      val (sa, sb) = (sets(a.toInt), sets(b.toInt))
      val inter = sa.intersect(sb).size
      val un = sa.size + sb.size - inter
      if (sa.nonEmpty && sb.nonEmpty && inter.toDouble / un >= Threshold) Some((a, b) -> (inter, un))
      else None
    }.toMap
  }

  /** Checks collected pairs `(a, b, inter, un)` and groups `(doc_id, group)`. */
  def compare(seed: Long, docs: Long, pairs: Seq[(Long, Long, Int, Int)],
              groups: Seq[(Long, Long)]): Check = {
    val want = expectedPairs(seed, docs)
    val got = pairs.map { case (a, b, i, u) => (a, b) -> (i, u) }
    val gotMap = got.toMap
    val badPairs = (want.keySet ++ gotMap.keySet).filter(k => want.get(k) != gotMap.get(k))
    val pairDupes = got.length - gotMap.size
    // Group = lowest id reachable through the expected pairs.
    val label = Array.tabulate(docs.toInt)(_.toLong)
    for (((a, b), _) <- want.toSeq.sortBy(_._1)) {
      val l = math.min(label(a.toInt), label(b.toInt))
      label(a.toInt) = l; label(b.toInt) = l
    }
    val badDocs = badPairs.flatMap { case (a, b) => Seq(a, b) }
    val c = Check.tally(docs, groups.map { case (id, g) =>
      (id, id >= 0 && id < docs && g == label(id.toInt) && !badDocs.contains(id))
    })
    c.copy(dupes = c.dupes + pairDupes,
      examples = (badPairs.toSeq.sorted.take(5).map { case (a, b) => s"pair ($a, $b): " +
        s"expected ${want.get((a, b))}, got ${gotMap.get((a, b))}" } ++ c.examples).take(10))
  }
}
