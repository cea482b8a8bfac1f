package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** IVF-style ANN + vector aggregation (SURVEY.md §2.3 E7 scale path #2).
  *
  * q74: inverted-file search — vectors are assigned to their nearest
  * coarse centroid (argmax dot, ties to lowest id); the query probes its
  * 2 nearest centroids' lists only, then ranks exactly. At 100 TB the
  * assignment is a write-time partition key and a probe touches 2/k of
  * the corpus. The coarse codebook is TRAINED — [[KMeans.codebook]]'s
  * deterministic fixed-point Lloyd iterations seeded from the first k
  * vectors — not a raw-vector stand-in; the oracle replays the same
  * training as an unrolled CTE chain. The cell count is CORPUS-DERIVED
  * (k = max(4, floor(sqrt(n))/2), [[KMeans.servingK]]) so occupancy per
  * cell grows ~2*sqrt(n) and a fixed-nprobe probe's work stays bounded
  * as the corpus grows.
  *
  * q75: element-wise centroid of each label group (the k-means "update"
  * step / class-prototype computation) via posexplode + per-(label,pos)
  * aggregation — the shuffle is on (label, pos), never on whole vectors.
  */
object Ivf {

  private def duckDot(a: String, b: String): String =
    s"list_reduce(list_transform(range(len($a)), " +
      s"i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)), (x, y) -> x + y)"

  private val ITERS = 2

  val queries: Seq[Q] = Seq(
    Q(
      "q74_ann_ivf",
      s"""WITH ${KMeans.kkCte()},
         |${KMeans.oracleCtes(KMeans.duckK, ITERS)},
         |assign AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
         |        c.cid ASC) AS rn
         |  FROM embeddings e, cl$ITERS c),
         |lists AS MATERIALIZED (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
         |probes AS MATERIALIZED (SELECT cid FROM assign WHERE vec_id = 0 AND rn <= 2),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT l.vec_id,
         |  ROUND(${duckDot("l.embedding", "q.qe")}, 6) AS cosine
         |FROM lists l JOIN probes p ON l.cid = p.cid, q
         |WHERE l.vec_id <> 0
         |ORDER BY cosine DESC, vec_id ASC
         |LIMIT 5""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val cb = KMeans.codebook(s, e, KMeans.servingK(e), ITERS)
      // inverted lists: map-side argmax assignment under the broadcast
      // trained codebook (no k-times row blow-up, no window)
      val lists = KMeans.assign(e, cb)
      // probe selection: top-2 centroids for the query vector — a k-row
      // problem, window over the single query partition is free
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cdot").desc, col("cid").asc)
      val probes = e.filter(col("vec_id") === 0)
        .crossJoin(broadcast(cb))
        .withColumn("cdot", expr(KMeans.dotFold("embedding", "cs")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("cid"))
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      lists.join(broadcast(probes), "cid")
        .filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(expr("array_dot(embedding, qe)"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(5)
    },

    Q(
      "q75_label_centroids",
      """SELECT label, pos,
        |  ROUND(CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(20,10)))
        |    AS DOUBLE) / COUNT(*), 4) AS centroid_val
        |FROM (
        |  SELECT label,
        |    generate_subscripts(embedding, 1) - 1 AS pos,
        |    unnest(embedding) AS val
        |  FROM embeddings)
        |WHERE pos < 8
        |GROUP BY label, pos
        |ORDER BY label, pos""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "val")))
        .filter(col("pos") < 8)
        .groupBy(col("label"), col("pos"))
        .agg(round(
          sum(col("val").cast("double").cast("decimal(20,10)")).cast("double")
            / count(lit(1)), 4).as("centroid_val"))
        .orderBy(col("label"), col("pos"))
    })
}
