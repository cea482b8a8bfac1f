package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The bridge_qa table and its data dictionary.
  *
  * `queuedata` has 92 columns, the width of the reference's
  * queuedata.schema.json: the six columns the recorded LLM fixtures query
  * (queue, status, state, country, cloud, corecount) plus 86 filler
  * columns in the style of a grid-site configuration table. Every value is
  * a hash of (row id, column), so the table is the same on every run.
  *
  * The dictionary has one entry per column. The six fixture entries carry
  * the aliases and canonicalization the fixtures were recorded against;
  * the fillers get seeded descriptions, importances, allowed-value shapes
  * and multi-word aliases (a multi-word alias never matches a single SQL
  * token, so fillers cannot rewrite the fixtures' SQL).
  */
object Queuedata {
  val Table = "queuedata"

  private val fillerNames: Seq[String] = Seq(
    "site", "atlas_site", "resource_type", "tier", "tier_level",
    "pilot_manager", "harvester", "workflow", "maxrss", "minrss", "maxtime",
    "mintime", "maxinputsize", "maxwdir", "nodes", "maxmemory",
    "pledgedcpu", "transferringlimit", "jobseed", "catchall", "environ",
    "copytool", "direct_access_lan", "direct_access_wan", "use_pcache",
    "pandasite", "rc_site", "rc_country", "gocname", "vo_name",
    "queue_kind", "is_cvmfs", "container_type", "container_options",
    "fairsharepolicy", "allowfax", "wansinklimit", "wansourcelimit",
    "maxjobs", "maxdiskio", "memory_limit", "walltime_limit", "cpu_vendor",
    "hs06", "corepower", "pilot_version", "python_version", "os_release",
    "glexec", "scratch_gb", "network_zone", "ddm_endpoint", "astorage",
    "acopytools", "params_json", "last_modified", "created_at", "timefloor",
    "cachedse", "validatedreleases", "releases", "sitershare",
    "cloudrshare", "countrygroup", "availablecpu", "capability",
    "jobs_sent", "jobs_failed", "jobs_finished", "hc_param", "hc_suite",
    "probe_ok", "probe_ms", "uptime_pct", "downtime_note", "contact_email",
    "admin_group", "budget_units", "priority_offset", "retry_limit",
    "stageout_mode", "stagein_mode", "zip_mode", "objectstore_id",
    "bandwidth_mbps", "latency_hint")
  require(fillerNames.size == 86 && fillerNames.distinct.size == 86)

  private val fillerTypes = Seq("STRING", "INT", "BIGINT", "DOUBLE",
    "BOOLEAN", "TIMESTAMP")

  private val statuses = Seq("online", "offline", "test", "brokeroff")
  private val states = Seq("active", "idle", "draining", "n/a")
  private val countries = Seq("United States", "France", "Germany",
    "Switzerland", "Japan", "Canada", "Italy", "Spain")
  private val clouds = Seq("EU", "US", "CA", "DE", "FR", "UK", "IT", "ND")
  private val cores = Seq(1, 4, 8, 16, 32, 64)

  private def pick(id: org.apache.spark.sql.Column, salt: Int,
      values: Seq[String]) =
    element_at(array(values.map(lit): _*),
      (pmod(xxhash64(id, lit(salt)), lit(values.size.toLong)) + 1).cast("int"))

  /** Write the table as parquet under `dir` and register the view. */
  def register(spark: SparkSession, dir: String, rows: Int): Unit = {
    val id = col("id")
    val h = (salt: Int) => pmod(xxhash64(id, lit(salt)), lit(1000003L))
    val fixtureCols = Seq(
      format_string("queue_%05d", id).as("queue"),
      pick(id, 1, statuses).as("status"),
      pick(id, 2, states).as("state"),
      pick(id, 3, countries).as("country"),
      pick(id, 4, clouds).as("cloud"),
      pick(id, 5, cores.map(_.toString)).cast("int").as("corecount"))
    val fillers = fillerNames.zipWithIndex.map { case (n, i) =>
      val v = h(100 + i)
      (fillerTypes(i % fillerTypes.size) match {
        case "STRING"    => format_string(s"${n}_%d", pmod(v, lit(50L)))
        case "INT"       => pmod(v, lit(5000L)).cast("int")
        case "BIGINT"    => v * 977L
        case "DOUBLE"    => v / 1000.0
        case "BOOLEAN"   => pmod(v, lit(2L)) === 0
        case _ => timestamp_seconds(lit(1700000000L) + pmod(v, lit(31536000L)))
      }).as(n)
    }
    val path = s"$dir/$Table.parquet"
    spark.range(rows).select(fixtureCols ++ fillers: _*)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView(Table)
  }

  private def q(s: String) = "\"" + s.replace("\"", "\\\"") + "\""

  /** The 92-entry dictionary as JSON (parsed by DataDictionary.fromJson). */
  def dictionaryJson: String = {
    val rng = new scala.util.Random(92)
    val fixture = Seq(
      s"""{"name":"queue","type":"STRING","importance":10,"description":"Unique PanDA queue name.","aliases":["name","queuename"]}""",
      s"""{"name":"status","type":"STRING","importance":10,"description":"Operational status of the queue.","aliases":["condition"],"allowed_values":["online","offline","test","brokeroff"],"canonicalization":{"case":"lower","map_values":{"ONLINE":"online"}}}""",
      s"""{"name":"state","type":"STRING","importance":2,"description":"Scheduler activity state.","canonicalization":{"map_values":{"n/a":null}}}""",
      s"""{"name":"country","type":"STRING","description":"Hosting country.","canonicalization":{"map_values":{"us":"United States"}}}""",
      s"""{"name":"cloud","type":"STRING","description":"WLCG cloud the queue belongs to.","allowed_values":{"enumeration":["EU","US","CA","DE","FR","UK","IT","ND"]}}""",
      s"""{"name":"corecount","type":"INT","description":"Cores per job slot.","aliases":["cores"],"allowed_values":{"range":[1,64]}}""")
    val fillers = fillerNames.zipWithIndex.map { case (n, i) =>
      val ty = fillerTypes(i % fillerTypes.size)
      val words = n.split('_').mkString(" ")
      val allowed = i % 5 match {
        case 0 => s""","allowed_values":{"examples":[${q(n + "_1")},${q(n + "_2")}]}"""
        case 1 => s""","allowed_values":{"range":[0,${rng.nextInt(10000)}]}"""
        case 2 => s""","allowed_values":{"pattern":"^[a-z_0-9]+$$"}"""
        case 3 => s""","allowed_values":{"example":{"$n":${rng.nextInt(100)}}}"""
        case _ => ""
      }
      val canon =
        if (i % 7 == 0) s""","canonicalization":{"case":"lower"}""" else ""
      val access =
        if (i % 9 == 0) s""","access":{"hint":"filter with $n before joining"}"""
        else ""
      s"""{"name":${q(n)},"type":"$ty","importance":${1 + rng.nextInt(9)},""" +
        s""""description":${q(s"The $words setting of the queue.")},""" +
        s""""aliases":[${q(words + " setting")},${q("the " + words)}]""" +
        allowed + canon + access + "}"
    }
    val cols = (fixture ++ fillers).mkString(",\n")
    s"""{"version":"1","table":"$Table","notes":"benchmark dictionary",""" +
      s""""columns":[$cols],"rules":["Use LOWER(status) for status comparisons.",""" +
      s""""Never return more than 1000 rows."]}"""
  }
}
