package graft.repair

import java.util.regex.{Matcher, Pattern}
import graft.meta.DataDictionary

/** The reference's pre-parse, text-level SQL repair pipeline (SURVEY.md
  * §2.1 P12-P17 / §4.1 R1-R5) re-expressed in Scala. Runs on the driver on
  * SQL *text* before `spark.sql()` — no Catalyst surgery needed; the plan
  * that reaches Catalyst is already clean.
  *
  * Stage order matches the reference main (query_llm.py:492-504):
  *   1. markdown fence extraction (P12)
  *   2. literal canonicalization — per-column case rules + global
  *      map_values, value→NULL supported (P14)
  *   3. fix-common-mistakes: alias→canonical synonym rewrite (P15),
  *      hardcoded 'ONLINE'→'online' parity fix (P16), fuzzy identifier
  *      repair at Ratcliff-Obershelp ratio ≥ 0.86 (P17)
  */
object SqlRepair {

  // ---- P12: markdown fence handling (query_llm.py:46-54) ----

  private val fenceRe =
    Pattern.compile("""```(?:[A-Za-z0-9_+-]*)\s*\n?(.*?)```""", Pattern.DOTALL)

  def isMarkdownCodeChunk(text: String): Boolean =
    fenceRe.matcher(text).find()

  /** Extract the first fenced block's body, else the raw text, trimmed. */
  def extractCode(text: String): String = {
    val m = fenceRe.matcher(text)
    if (m.find()) m.group(1).trim else text.trim
  }

  // ---- P13: synonym map (query_llm.py:269-286) ----

  /** alias(lowercased) → canonical column name, from dictionary aliases. */
  def buildSynonymMap(dict: DataDictionary): Map[String, String] =
    dict.columns.flatMap { c =>
      c.aliases.map(a => a.toLowerCase -> c.name)
    }.toMap

  // ---- P14: literal canonicalization (query_llm.py:289-342) ----

  /** Apply per-column `canonicalization.case` to literals compared against
    * that column — both `col = 'LIT'` and `LOWER(col) = 'LIT'` / shapes
    * with other comparison operators — then apply the global map_values
    * rewrite over every remaining quoted literal (a None mapping turns the
    * literal into SQL NULL).
    */
  def canonicalizeLiterals(sql: String, dict: DataDictionary): String =
    dict.repairPatterns.canon.foldLeft(sql)((out, rewrite) => rewrite(out))

  /** A dictionary's repair regexes, compiled once per dictionary (held by
    * `DataDictionary.repairPatterns`) instead of once per ask:
    * [[canonicalizeLiterals]]' rewrites, one per case rule and per
    * map_values entry, in dictionary order (the reference's loop
    * structure, query_llm.py:299-341: if two columns map the same literal
    * differently, the FIRST column's rewrite fires and later columns see
    * the already-rewritten text), and the synonym patterns in
    * [[buildSynonymMap]] order.
    */
  private[graft] final class Patterns(dict: DataDictionary) {
    val canon: Seq[String => String] = dict.columns.flatMap { c =>
      val caseRule = c.canonicalization.caseRule.map { rule =>
        val apply: String => String =
          if (rule == "lower") _.toLowerCase else _.toUpperCase
        // col = 'LIT'  |  LOWER(col) = 'LIT'  (op: = != <> LIKE ILIKE)
        val p = Pattern.compile(
          """(?i)((?:lower|upper)\s*\(\s*""" + Pattern.quote(c.name) +
            """\s*\)|\b""" + Pattern.quote(c.name) +
            """\b)(\s*(?:=|!=|<>|\s+i?like\s+)\s*)'([^']*)'""")
        (sql: String) => {
          val m = p.matcher(sql)
          val sb = new java.lang.StringBuilder
          while (m.find()) {
            m.appendReplacement(sb, Matcher.quoteReplacement(
              m.group(1) + m.group(2) + "'" + apply(m.group(3)) + "'"))
          }
          m.appendTail(sb)
          sb.toString
        }
      }
      // this column's map_values, applied globally to any matching quoted
      // literal, case-insensitively, in JSON entry order (query_llm.py:334)
      val mapValues = c.canonicalization.mapValues.map { case (src, dst) =>
        val p = Pattern.compile("""(?i)'""" + Pattern.quote(src) + "'")
        val to = Matcher.quoteReplacement(dst.map("'" + _ + "'").getOrElse("NULL"))
        (sql: String) => p.matcher(sql).replaceAll(to)
      }
      caseRule.toSeq ++ mapValues
    }
    val synonyms: Seq[(String, String, Pattern)] =
      synonymPatterns(buildSynonymMap(dict))
  }

  // ---- P15-P17: fix_common_mistakes (query_llm.py:225-265) ----

  /** SQL keyword whitelist never touched by fuzzy repair
    * (query_llm.py:253-257).
    */
  val keywords: Set[String] = Set(
    "select", "from", "where", "and", "or", "not", "in", "as", "on", "join",
    "left", "right", "inner", "outer", "group", "by", "order", "limit",
    "offset", "having", "distinct", "like", "ilike", "lower", "upper",
    "count", "sum", "avg", "min", "max", "json", "json_extract")

  private val tokenRe = Pattern.compile("""\b[A-Za-z_]\w*\b""")

  /** P15: word-bounded alias→canonical replacement, guarded: only when the
    * alias is NOT a real column and the canonical IS (query_llm.py:243-246
    * — e.g. `state`→`status` would be skipped if `state` existed).
    */
  def rewriteSynonyms(
      sql: String,
      synonyms: Map[String, String],
      realColumns: Seq[String]): String =
    applySynonyms(sql, synonymPatterns(synonyms), realColumns)

  private def applySynonyms(
      sql: String,
      synonyms: Seq[(String, String, Pattern)],
      realColumns: Seq[String]): String = {
    val real = realColumns.map(_.toLowerCase).toSet
    synonyms.foldLeft(sql) { case (out, (alias, canonical, p)) =>
      if (!real.contains(alias) && real.contains(canonical.toLowerCase))
        p.matcher(out).replaceAll(Matcher.quoteReplacement(canonical))
      else out
    }
  }

  private def synonymPatterns(synonyms: Map[String, String]): Seq[(String, String, Pattern)] =
    synonyms.toSeq.map { case (alias, canonical) =>
      (alias, canonical,
        Pattern.compile("""(?i)\b""" + Pattern.quote(alias) + """\b"""))
    }

  /** P16: the reference's hardcoded `'ONLINE'`→`'online'` literal fix
    * (query_llm.py:249), kept for behavior parity.
    */
  def fixHardcodedLiterals(sql: String): String =
    sql.replace("'ONLINE'", "'online'")

  /** P17: fuzzy identifier repair — each non-keyword token that is not a
    * real column is replaced by the closest real column at ratio ≥ 0.86.
    */
  def fuzzyRepairIdentifiers(
      sql: String,
      realColumns: Seq[String],
      cutoff: Double = 0.86): String = {
    val real = realColumns.map(_.toLowerCase).toSet
    val m = tokenRe.matcher(sql)
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      val tok = m.group()
      val replacement =
        if (keywords.contains(tok.toLowerCase) || real.contains(tok.toLowerCase)) tok
        else SequenceMatcher.closestMatch(tok, realColumns, cutoff).getOrElse(tok)
      m.appendReplacement(sb, Matcher.quoteReplacement(replacement))
    }
    m.appendTail(sb)
    sb.toString
  }

  /** Full fix_common_mistakes chain in reference order. */
  def fixCommonMistakes(
      sql: String,
      dict: DataDictionary,
      realColumns: Seq[String]): String = {
    val s1 = applySynonyms(sql, dict.repairPatterns.synonyms, realColumns)
    val s2 = fixHardcodedLiterals(s1)
    fuzzyRepairIdentifiers(s2, realColumns)
  }

  /** The whole post-LLM repair pipeline: fence strip → literal
    * canonicalization → common-mistake fixes.
    */
  def repair(raw: String, dict: DataDictionary, realColumns: Seq[String]): String = {
    val cleaned = extractCode(raw)
    val canon = canonicalizeLiterals(cleaned, dict)
    fixCommonMistakes(canon, dict, realColumns)
  }
}
