package graft.repair

import org.scalatest.funsuite.AnyFunSuite
import graft.meta._

class SequenceMatcherSpec extends AnyFunSuite {

  // ground truth recorded from CPython 3.11 difflib.SequenceMatcher.ratio()
  val recorded = Seq(
    ("statu", "status", 0.9090909091),
    ("stat", "status", 0.8000000000),
    ("corecont", "corecount", 0.9411764706),
    ("querys", "query", 0.9090909091),
    ("maxrss", "maxrss", 1.0000000000),
    ("abc", "xyz", 0.0000000000),
    ("copytool", "copytools", 0.9411764706),
    ("nodes", "node", 0.8888888889),
    ("l_shipdat", "l_shipdate", 0.9473684211),
    ("c_custkey", "c_acctbal", 0.4444444444))

  test("ratio matches CPython difflib on recorded pairs") {
    recorded.foreach { case (a, b, expected) =>
      assert(math.abs(SequenceMatcher.ratio(a, b) - expected) < 1e-9,
        s"ratio($a, $b)")
    }
  }

  test("ratio is symmetric-ish on identical and empty inputs") {
    assert(SequenceMatcher.ratio("", "") == 1.0)
    assert(SequenceMatcher.ratio("x", "") == 0.0)
  }

  test("closestMatch honors the 0.86 cutoff like get_close_matches") {
    assert(SequenceMatcher.closestMatch(
      "corecont", Seq("corecount", "corepower", "coreenergy"))
      .contains("corecount"))
    // ratio(stat,status)=0.80 < cutoff but ratio(stat,state)=0.889 ≥ it —
    // difflib returns ['state'] here (recorded)
    assert(SequenceMatcher.closestMatch("stat", Seq("status", "state"))
      .contains("state"))
    // lower cutoff finds 'state' (recorded difflib behavior)
    assert(SequenceMatcher.closestMatch("stae", Seq("status", "state"), 0.8)
      .contains("state"))
  }

  // recorded from CPython 3.11.7 difflib: the ratio is not symmetric —
  // (a, b, SequenceMatcher(None, a, b).ratio(), ...(None, b, a).ratio())
  val asymmetric = Seq(
    ("qcbqc", "bbbcq", 0.2, 0.4),
    ("qqqbc", "qcqac", 0.6, 0.4),
    ("aqccbaa", "qabaq", 0.3333333333333333, 0.5),
    ("qqqqbc", "acaqcq", 0.3333333333333333, 0.16666666666666666),
    ("bqbabaa", "acaaqb", 0.3076923076923077, 0.46153846153846156),
    ("qac", "qqccabc", 0.6, 0.4))

  test("ratio matches CPython difflib in both argument orders") {
    asymmetric.foreach { case (a, b, ab, ba) =>
      assert(SequenceMatcher.ratio(a, b) == ab, s"ratio($a, $b)")
      assert(SequenceMatcher.ratio(b, a) == ba, s"ratio($b, $a)")
    }
  }

  test("quick bounds match CPython difflib") {
    // (a, b, real_quick_ratio, quick_ratio, ratio), recorded
    Seq(("queu", "queue", 0.8888888888888888, 0.8888888888888888, 0.8888888888888888),
      ("abcd", "dcba", 1.0, 1.0, 0.25),
      ("status", "tatus s", 0.9230769230769231, 0.9230769230769231, 0.7692307692307693))
      .foreach { case (a, b, rq, q, r) =>
        assert(SequenceMatcher.realQuickRatio(a, b) == rq, s"real_quick_ratio($a, $b)")
        assert(SequenceMatcher.quickRatio(a, b) == q, s"quick_ratio($a, $b)")
        assert(SequenceMatcher.ratio(a, b) == r, s"ratio($a, $b)")
      }
  }

  test("closestMatch equals CPython get_close_matches(word, ps, 1, cutoff)") {
    // (word, possibilities, cutoff, recorded result)
    Seq(
      // equal ratios: heapq.nlargest keeps the largest candidate
      ("queu", Seq("queue", "queus"), 0.86, Some("queus")),
      ("queu", Seq("queus", "queue"), 0.86, Some("queus")),
      ("countyr", Seq("country", "county"), 0.6, Some("county")),
      // scored as SequenceMatcher(None, candidate, word), not (word, candidate)
      ("dcbdb", Seq("dbcb", "bdca", "cba"), 0.6, None),
      ("dccaba", Seq("bdadab", "dbacd", "bdaa"), 0.6, None),
      ("acbddb", Seq("dabdcb", "bdbd", "dcdd"), 0.6, Some("dabdcb")),
      ("babd", Seq("cbcaa", "cdc", "bddabc"), 0.6, None))
      .foreach { case (w, ps, cutoff, expected) =>
        assert(SequenceMatcher.closestMatch(w, ps, cutoff) == expected,
          s"get_close_matches($w, $ps, 1, $cutoff)")
      }
  }
}

class SqlRepairSpec extends AnyFunSuite {

  /** Reference-shaped fixture dictionary (FIXTURES.md §A): a queue-status
    * table with case canonicalization, value mapping, aliasing, and a real
    * column (`state`) that is also the classic wrong guess for `status`.
    */
  val dict: DataDictionary = DataDictionary(
    table = "queuedata",
    columns = Seq(
      ColumnMeta("queue", "STRING", importance = 10,
        aliases = Seq("name", "queuename")),
      ColumnMeta("status", "STRING", importance = 10,
        aliases = Seq("state", "condition"),
        allowedValues = Some(AllowedValues.Literals(
          Seq("online", "offline", "test"))),
        canonicalization = Canonicalization(
          caseRule = Some("lower"),
          mapValues = Seq("ONLINE" -> Some("online"),
            "unknown" -> None))),
      ColumnMeta("state", "STRING", importance = 2),
      ColumnMeta("country", "STRING",
        canonicalization = Canonicalization(
          mapValues = Seq("us" -> Some("United States"),
            "usa" -> Some("United States")))),
      ColumnMeta("cloud", "STRING",
        canonicalization = Canonicalization(caseRule = Some("upper"))),
      ColumnMeta("corecount", "INT")))

  val realColumns = Seq("queue", "status", "state", "country", "cloud",
    "corecount")

  test("P12: fenced SQL is extracted, raw SQL passes through") {
    assert(SqlRepair.extractCode("```sql\nSELECT 1\n```") == "SELECT 1")
    assert(SqlRepair.extractCode("```\nSELECT 2\n```") == "SELECT 2")
    assert(SqlRepair.extractCode("  SELECT 3  ") == "SELECT 3")
    assert(SqlRepair.isMarkdownCodeChunk("```sql\nx\n```"))
    assert(!SqlRepair.isMarkdownCodeChunk("SELECT 1"))
  }

  test("P13: synonym map is alias(lower) -> canonical") {
    val m = SqlRepair.buildSynonymMap(dict)
    assert(m("name") == "queue")
    assert(m("state") == "status")
    assert(m("condition") == "status")
  }

  test("P14: per-column case rule lowers/uppers compared literals") {
    val in = "SELECT queue FROM queuedata WHERE status = 'Online' AND cloud = 'eu'"
    val out = SqlRepair.canonicalizeLiterals(in, dict)
    assert(out.contains("status = 'online'"))
    assert(out.contains("cloud = 'EU'"))
  }

  test("P14: LOWER(col) = 'LIT' form is also canonicalized") {
    val in = "SELECT queue FROM queuedata WHERE LOWER(status) = 'ONLINE'"
    val out = SqlRepair.canonicalizeLiterals(in, dict)
    assert(out.contains("LOWER(status) = 'online'"))
  }

  test("P14: map_values rewrites literals globally, None maps to NULL") {
    val in = "SELECT * FROM queuedata WHERE country = 'us' AND status = 'unknown'"
    val out = SqlRepair.canonicalizeLiterals(in, dict)
    assert(out.contains("country = 'United States'"))
    assert(out.contains("status = NULL"))
  }

  test("P14: map_values collisions resolve first-column-wins, in order") {
    // two columns map the same literal differently: the FIRST column's
    // rewrite fires and the second never sees the original literal
    // (reference loop order, query_llm.py:299-341)
    val collide = DataDictionary(
      table = "t",
      columns = Seq(
        ColumnMeta("a", "STRING", canonicalization =
          Canonicalization(mapValues = Seq("x" -> Some("from_a")))),
        ColumnMeta("b", "STRING", canonicalization =
          Canonicalization(mapValues = Seq("x" -> Some("from_b"))))))
    assert(SqlRepair.canonicalizeLiterals("WHERE a = 'x'", collide) ==
      "WHERE a = 'from_a'")
    // map literal match is case-insensitive like the reference's (?i)
    assert(SqlRepair.canonicalizeLiterals("WHERE a = 'X'", collide) ==
      "WHERE a = 'from_a'")
  }

  test("P15: alias rewrite is guarded by 'alias not real'") {
    // `state` IS a real column → must NOT be rewritten to status
    val kept = SqlRepair.rewriteSynonyms(
      "SELECT state FROM queuedata", SqlRepair.buildSynonymMap(dict), realColumns)
    assert(kept == "SELECT state FROM queuedata")
    // `condition` is not a real column → rewritten
    val fixed = SqlRepair.rewriteSynonyms(
      "SELECT condition FROM queuedata", SqlRepair.buildSynonymMap(dict), realColumns)
    assert(fixed == "SELECT status FROM queuedata")
  }

  test("P16: hardcoded ONLINE literal fix") {
    assert(SqlRepair.fixHardcodedLiterals("x = 'ONLINE'") == "x = 'online'")
  }

  test("P17: fuzzy repair fixes typos at >=0.86, leaves keywords alone") {
    val out = SqlRepair.fuzzyRepairIdentifiers(
      "SELECT corecont FROM queuedata WHERE statu = 'online'", realColumns)
    assert(out.contains("corecount"))
    assert(out.contains("status ="))
    assert(out.startsWith("SELECT "))   // keyword untouched
    assert(out.contains(" FROM "))
  }

  test("repair is identity on SQL using only real columns and keywords") {
    val clean = "SELECT queue, corecount FROM queuedata WHERE status = 'online'"
    assert(SqlRepair.repair(clean, dict, realColumns) == clean)
  }

  test("full repair chain: fence + alias + case + typo together") {
    // note: canonicalization runs BEFORE the synonym rewrite (reference
    // stage order, query_llm.py:496-504), so a per-column case rule would
    // not fire on the alias — but the global map_values 'ONLINE'->'online'
    // does.
    val raw =
      "```sql\nSELECT queue FROM queuedata " +
        "WHERE condition = 'ONLINE' AND corecont > 4\n```"
    val out = SqlRepair.repair(raw, dict, realColumns)
    assert(out ==
      "SELECT queue FROM queuedata WHERE status = 'online' AND corecount > 4")
  }
}
