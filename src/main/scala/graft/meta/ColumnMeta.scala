package graft.meta

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import scala.jdk.CollectionConverters._

/** Data-dictionary model: a JSON sidecar parallel to the physical schema,
  * mirroring the reference's dictionary shape (queuedata.schema.json:1-17 —
  * top-level version/table/notes/columns/rules; per-column name/type/
  * description/aliases/importance/allowed_values/canonicalization/access
  * hints/related_fields).
  *
  * `allowed_values` is polymorphic in the reference (list, {enumeration},
  * {range:[lo,hi]}, {examples}, {pattern}, or a bare example object —
  * query_llm.py:115-141 handles all shapes); modeled as an ADT here.
  */
sealed trait AllowedValues
object AllowedValues {
  case class Literals(values: Seq[String]) extends AllowedValues
  case class Enumeration(values: Seq[String]) extends AllowedValues
  case class Range(lo: Double, hi: Double) extends AllowedValues
  case class Examples(values: Seq[String]) extends AllowedValues
  case class Pattern(pattern: String) extends AllowedValues
  /** A raw example object rendered verbatim (queuedata.schema.json:24-29). */
  case class Raw(json: String) extends AllowedValues
}

/** Per-column literal canonicalization: optional case rule
  * ("lower"/"upper") and literal value remapping; a mapping to null means
  * the literal becomes SQL NULL (query_llm.py:334-341). `mapValues` is an
  * ordered Seq, not a Map — the reference applies entries in dictionary
  * JSON order, per column, and collisions resolve by application order.
  */
case class Canonicalization(
    caseRule: Option[String] = None,
    mapValues: Seq[(String, Option[String])] = Nil)

case class ColumnMeta(
    name: String,
    dataType: String,
    description: String = "",
    aliases: Seq[String] = Nil,
    importance: Int = 5,
    allowedValues: Option[AllowedValues] = None,
    canonicalization: Canonicalization = Canonicalization(),
    accessHints: Seq[String] = Nil,
    relatedFields: Seq[String] = Nil)

case class DataDictionary(
    version: String = "1",
    table: String = "",
    notes: String = "",
    columns: Seq[ColumnMeta] = Nil,
    rules: Seq[String] = Nil) {
  lazy val byName: Map[String, ColumnMeta] =
    columns.map(c => c.name.toLowerCase -> c).toMap
  /** The repair regexes of this dictionary, compiled on first use. */
  private[graft] lazy val repairPatterns: graft.repair.SqlRepair.Patterns =
    new graft.repair.SqlRepair.Patterns(this)
}

/** JSON codec for the dictionary (P6, query_llm.py:79-82). Jackson tree
  * traversal — tolerant of missing/extra keys like the reference's dict
  * access with defaults.
  */
object DataDictionary {
  private val mapper = new ObjectMapper()

  private def strSeq(n: JsonNode): Seq[String] =
    if (n == null || !n.isArray) Nil
    else n.elements().asScala.map(_.asText).toSeq

  private def parseAllowed(n: JsonNode): Option[AllowedValues] = {
    import AllowedValues._
    if (n == null || n.isNull) None
    else if (n.isArray) Some(Literals(strSeq(n)))
    else if (n.isObject) {
      val o = n.asInstanceOf[ObjectNode]
      if (o.has("enumeration")) Some(Enumeration(strSeq(o.get("enumeration"))))
      else if (o.has("range") && o.get("range").isArray &&
        o.get("range").size >= 2) {
        val r = o.get("range")
        Some(Range(r.get(0).asDouble, r.get(1).asDouble))
      } else if (o.has("examples")) Some(Examples(strSeq(o.get("examples"))))
      else if (o.has("pattern")) Some(Pattern(o.get("pattern").asText))
      else Some(Raw(o.toString))
    } else Some(Literals(Seq(n.asText)))
  }

  private def parseCanon(n: JsonNode): Canonicalization = {
    if (n == null || !n.isObject) return Canonicalization()
    val caseRule = Option(n.get("case")).filter(!_.isNull).map(_.asText)
      .filter(c => c == "lower" || c == "upper")
    val mv = Option(n.get("map_values")).filter(_.isObject).map { m =>
      // Jackson preserves JSON field order — keep it (reference applies
      // map_values in dict order, query_llm.py:334)
      m.fields().asScala.map { e =>
        val v = e.getValue
        e.getKey -> (if (v.isNull) None else Some(v.asText))
      }.toSeq
    }.getOrElse(Seq.empty[(String, Option[String])])
    Canonicalization(caseRule, mv)
  }

  private def parseColumn(n: JsonNode): ColumnMeta =
    ColumnMeta(
      name = Option(n.get("name")).map(_.asText).getOrElse(""),
      dataType = Option(n.get("type")).map(_.asText).getOrElse("VARCHAR"),
      description = Option(n.get("description")).map(_.asText).getOrElse(""),
      aliases = strSeq(n.get("aliases")),
      importance = Option(n.get("importance")).map(_.asInt).getOrElse(5),
      allowedValues = parseAllowed(n.get("allowed_values")),
      canonicalization = parseCanon(n.get("canonicalization")),
      accessHints = Option(n.get("access"))
        .map { a =>
          if (a.isObject)
            a.fields().asScala.map(e => s"${e.getKey}: ${e.getValue.asText}").toSeq
          else strSeq(a)
        }.getOrElse(Nil),
      relatedFields = strSeq(n.get("related_fields")))

  def fromJson(json: String): DataDictionary = {
    val root = mapper.readTree(json)
    DataDictionary(
      version = Option(root.get("version")).map(_.asText).getOrElse("1"),
      table = Option(root.get("table")).map(_.asText).getOrElse(""),
      notes = Option(root.get("notes")).map(_.asText).getOrElse(""),
      columns = Option(root.get("columns")).filter(_.isArray)
        .map(_.elements().asScala.map(parseColumn).toSeq).getOrElse(Nil),
      rules = strSeq(root.get("rules")))
  }

  def load(path: String): DataDictionary =
    fromJson(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  /** Serialize a dictionary to JSON (used by the skeleton generator). */
  def toJson(d: DataDictionary): String = {
    val root = mapper.createObjectNode()
    root.put("version", d.version)
    root.put("table", d.table)
    root.put("notes", d.notes)
    val cols = root.putArray("columns")
    d.columns.foreach { c =>
      val o = cols.addObject()
      o.put("name", c.name)
      o.put("type", c.dataType)
      o.put("description", c.description)
      val al = o.putArray("aliases"); c.aliases.foreach(al.add)
      o.put("importance", c.importance)
      c.allowedValues match {
        case Some(AllowedValues.Literals(vs)) =>
          val a = o.putArray("allowed_values"); vs.foreach(a.add)
        case Some(AllowedValues.Enumeration(vs)) =>
          val a = o.putObject("allowed_values").putArray("enumeration")
          vs.foreach(a.add)
        case Some(AllowedValues.Range(lo, hi)) =>
          val a = o.putObject("allowed_values").putArray("range")
          a.add(lo); a.add(hi)
        case Some(AllowedValues.Examples(vs)) =>
          val a = o.putObject("allowed_values").putArray("examples")
          vs.foreach(a.add)
        case Some(AllowedValues.Pattern(p)) =>
          o.putObject("allowed_values").put("pattern", p)
        case Some(AllowedValues.Raw(j)) =>
          o.set("allowed_values", mapper.readTree(j)): Unit
        case None => o.putNull("allowed_values")
      }
      val canon = o.putObject("canonicalization")
      c.canonicalization.caseRule.foreach(canon.put("case", _))
      if (c.canonicalization.mapValues.nonEmpty) {
        val mv = canon.putObject("map_values")
        c.canonicalization.mapValues.foreach {
          case (k, Some(v)) => mv.put(k, v)
          case (k, None)    => mv.putNull(k)
        }
      }
      if (c.accessHints.nonEmpty) {
        val a = o.putArray("access"); c.accessHints.foreach(a.add)
      }
      if (c.relatedFields.nonEmpty) {
        val r = o.putArray("related_fields"); c.relatedFields.foreach(r.add)
      }
    }
    val rules = root.putArray("rules"); d.rules.foreach(rules.add)
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }
}
