package graft.repair

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.meta._

/** Property-based coverage of the repair pipeline (SURVEY.md §5.2 item 3):
  * quoting round-trips, canonicalization idempotence, keyword immunity of
  * fuzzy repair, and repair-is-identity on already-clean SQL.
  */
object RepairPropSpec extends Properties("SqlRepair") {

  val dict: DataDictionary = DataDictionary(
    table = "queuedata",
    columns = Seq(
      ColumnMeta("queue", "STRING", aliases = Seq("queuename")),
      ColumnMeta("status", "STRING",
        canonicalization = Canonicalization(caseRule = Some("lower"),
          mapValues = Seq("ONLINE" -> Some("online"), "unknown" -> None))),
      ColumnMeta("country", "STRING",
        canonicalization = Canonicalization(
          mapValues = Seq("us" -> Some("United States")))),
      ColumnMeta("corecount", "INT")))

  val realColumns = Seq("queue", "status", "country", "corecount")

  val identGen: Gen[String] = Gen.oneOf(realColumns)
  val keywordGen: Gen[String] = Gen.oneOf(SqlRepair.keywords.toSeq)
  val literalGen: Gen[String] =
    Gen.oneOf("online", "OFFLINE", "ONLINE", "us", "United States", "x y z")

  val cleanSqlGen: Gen[String] = for {
    cols <- Gen.nonEmptyListOf(identGen)
    filterCol <- identGen
  } yield s"SELECT ${cols.distinct.mkString(", ")} FROM queuedata " +
    s"WHERE $filterCol IS NOT NULL ORDER BY ${cols.head}"

  property("qident quoting is idempotent-safe and escapes backticks") =
    forAll(Gen.alphaNumStr.suchThat(_.nonEmpty)) { s =>
      val q = graft.meta.SchemaIntrospect.qident(s)
      q.startsWith("`") && q.endsWith("`") &&
        graft.meta.SchemaIntrospect.qident(s + "`").contains("``")
    }

  // Idempotence holds for columns WITHOUT a case rule. (With one, the
  // reference's design is genuinely non-idempotent: a case rule
  // re-lowercases a map_values output — 'us'→'United States'→'united
  // states' — property-tested and confirmed against the semantics.)
  property("canonicalizeLiterals is idempotent without case rules") =
    forAll(Gen.listOfN(3, literalGen)) { lits =>
      val sql = "SELECT queue FROM queuedata WHERE " +
        lits.map(l => s"country = '$l'").mkString(" AND ")
      val once = SqlRepair.canonicalizeLiterals(sql, dict)
      SqlRepair.canonicalizeLiterals(once, dict) == once
    }

  property("fuzzy repair never rewrites whitelisted keywords") =
    forAll(Gen.nonEmptyListOf(keywordGen)) { kws =>
      val sql = kws.mkString(" ")
      SqlRepair.fuzzyRepairIdentifiers(sql, realColumns) == sql
    }

  property("repair is identity on SQL over real columns + keywords") =
    forAll(cleanSqlGen) { sql =>
      SqlRepair.repair(sql, dict, realColumns) == sql
    }

  property("ratio is within [0,1] and 1 iff equal for nonempty strings") =
    forAll(Gen.alphaStr, Gen.alphaStr) { (a, b) =>
      val r = SequenceMatcher.ratio(a, b)
      r >= 0.0 && r <= 1.0 && (!(a == b && a.nonEmpty) || r == 1.0)
    }

  // get_close_matches(word, ps, 1, cutoff) with every candidate scored:
  // the highest SequenceMatcher(None, x, word).ratio() at or above the
  // cutoff, equal ratios going to the largest x (heapq.nlargest)
  def unfilteredClosest(word: String, ps: Seq[String], cutoff: Double): Option[String] =
    ps.map(x => (SequenceMatcher.ratio(x, word), x)).filter(_._1 >= cutoff)
      .maxOption(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String))
      .map(_._2)

  val shortWord: Gen[String] =
    Gen.choose(0, 7).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))

  property("closestMatch with difflib's quick bounds equals scoring every candidate") =
    forAll(shortWord, Gen.listOf(shortWord),
        Gen.oneOf(Gen.choose(0.0, 1.0), Gen.oneOf(0.5, 0.6, 0.75, 0.8, 0.86))) { (w, ps, cutoff) =>
      SequenceMatcher.closestMatch(w, ps, cutoff) == unfilteredClosest(w, ps, cutoff)
    }
}
