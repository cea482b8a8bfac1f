package graft.repair

import scala.collection.mutable

/** Port of Python difflib's `SequenceMatcher.ratio()` (Ratcliff-Obershelp):
  * ratio = 2*M / (len(a)+len(b)) where M is the total size of the matching
  * blocks found by recursively taking the longest matching substring.
  *
  * The reference relies on `difflib.get_close_matches(tok, columns, n=1,
  * cutoff=0.86)` for fuzzy identifier repair (query_llm.py:252-264); this
  * port reproduces the ratio for the short identifier strings involved
  * (difflib's autojunk heuristic only activates for sequences >200 chars,
  * never the case for identifiers, so it is intentionally omitted —
  * SURVEY.md §7.4 trap #7).
  *
  * The ratio is not symmetric: `ratio(a, b)` indexes `b` and scans `a`,
  * and the longest-match tie-breaks depend on which side is which.
  */
object SequenceMatcher {

  /** difflib's `b2j`: each character of `b` → its ascending indices. */
  private def indexOf(b: String): Map[Char, Array[Int]] =
    b.indices.toArray.groupBy(b(_))

  private def findLongestMatch(
      a: String, b2j: Map[Char, Array[Int]],
      alo: Int, ahi: Int, blo: Int, bhi: Int): (Int, Int, Int) = {
    var besti = alo
    var bestj = blo
    var bestsize = 0
    var j2len = mutable.Map.empty[Int, Int]
    var i = alo
    while (i < ahi) {
      val newj2len = mutable.Map.empty[Int, Int]
      b2j.getOrElse(a(i), Array.emptyIntArray).foreach { j =>
        if (j >= blo && j < bhi) {
          val k = j2len.getOrElse(j - 1, 0) + 1
          newj2len(j) = k
          if (k > bestsize) { besti = i - k + 1; bestj = j - k + 1; bestsize = k }
        }
      }
      j2len = newj2len
      i += 1
    }
    (besti, bestj, bestsize)
  }

  private def matchingTotal(a: String, bLen: Int, b2j: Map[Char, Array[Int]]): Int = {
    var total = 0
    val queue = mutable.Stack[(Int, Int, Int, Int)]((0, a.length, 0, bLen))
    while (queue.nonEmpty) {
      val (alo, ahi, blo, bhi) = queue.pop()
      val (i, j, k) = findLongestMatch(a, b2j, alo, ahi, blo, bhi)
      if (k > 0) {
        total += k
        if (alo < i && blo < j) queue.push((alo, i, blo, j))
        if (i + k < ahi && j + k < bhi) queue.push((i + k, ahi, j + k, bhi))
      }
    }
    total
  }

  /** Total matched characters across all matching blocks. */
  def matchingTotal(a: String, b: String): Int =
    matchingTotal(a, b.length, indexOf(b))

  private def calculateRatio(matches: Int, length: Int): Double =
    if (length == 0) 1.0 else 2.0 * matches / length

  def ratio(a: String, b: String): Double =
    calculateRatio(matchingTotal(a, b), a.length + b.length)

  /** difflib's `real_quick_ratio`: an upper bound on [[ratio]] from the
    * lengths alone.
    */
  def realQuickRatio(a: String, b: String): Double =
    calculateRatio(math.min(a.length, b.length), a.length + b.length)

  /** difflib's `quick_ratio`: an upper bound on [[ratio]] from the
    * characters both strings hold, counted with multiplicity.
    */
  def quickRatio(a: String, b: String): Double =
    calculateRatio(commonChars(a.toCharArray.sorted, b.toCharArray.sorted),
      a.length + b.length)

  private def commonChars(x: Array[Char], y: Array[Char]): Int = {
    var i = 0
    var j = 0
    var n = 0
    while (i < x.length && j < y.length) {
      if (x(i) == y(j)) { n += 1; i += 1; j += 1 }
      else if (x(i) < y(j)) i += 1
      else j += 1
    }
    n
  }

  /** difflib.get_close_matches(word, possibilities, n=1, cutoff): the
    * candidate `x` with the highest `SequenceMatcher(None, x, word)`
    * ratio at or above the cutoff. Like difflib, a candidate whose
    * `real_quick_ratio` or `quick_ratio` bound is below the cutoff is
    * skipped unscored, and equal ratios go to the lexicographically
    * largest candidate (`heapq.nlargest` over (ratio, x) pairs; String
    * order here, which is Python's code-point order for every character
    * outside the supplementary planes).
    */
  def closestMatch(
      word: String,
      possibilities: Seq[String],
      cutoff: Double = 0.86): Option[String] = {
    val b2j = indexOf(word)
    var best: String = null
    var bestRatio = 0.0
    possibilities.foreach { x =>
      if (realQuickRatio(x, word) >= cutoff && quickRatio(x, word) >= cutoff) {
        val r = calculateRatio(matchingTotal(x, word.length, b2j), x.length + word.length)
        if (r >= cutoff &&
            (best == null || r > bestRatio || (r == bestRatio && x > best))) {
          best = x
          bestRatio = r
        }
      }
    }
    Option(best)
  }
}
