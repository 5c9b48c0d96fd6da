package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Graft.{fill, persist}
import graft.Tables._
import TextHash._

/** Trained k-means (Lloyd iterations) over the `embeddings` fixture — the
  * trainer that produces the centroids `Similarity`'s IVF index consumes
  * (Similarity.scala:106-118 deliberately uses seeded centroids so the
  * plumbing is oracle-able; this is the training side, made oracle-able
  * too). The reference has nothing in this category (SURVEY.md §2.5).
  *
  * Per Lloyd round, the 100 TB shape:
  *
  *   1. assign: centroids (k rows — model state, not data) are BROADCAST
  *      against the corpus; dist2(x,c) = x·x − 2·x·c + c·c with x·x
  *      precomputed once per vector. Argmin via a map-side-combinable
  *      min(struct(dist2, cid)) — the corpus is never shuffled, only the
  *      k-row aggregate stream.
  *   2. update: posexplode to (cid, dim, value), one map-side-combined
  *      sum/count per (cid, dim) — k·dim output rows shipped to the
  *      driver and reassembled into centroid arrays there (MLlib KMeans'
  *      own per-iteration collect of O(k·dim) center state — model state,
  *      never corpus rows).
  *
  * Cross-engine determinism (everything hash-matches DuckDB):
  *   - centroid means go through FIXED-POINT accumulation: each component
  *     is scaled to a 1e-9-granularity long (round(v·1e9)), summed exactly
  *     as integers, and divided back in two IEEE double divisions — the
  *     usual float-mean nondeterminism (partial-agg order) is gone by
  *     construction;
  *   - distances are sequential double folds (TextHash.dot) of identical
  *     operands — bit-equal in both engines;
  *   - argmin ties break on the smaller centroid id;
  *   - output dist2 is clamped at 0 before rounding: a vector that IS its
  *     (singleton) centroid can produce dist2 ≈ −1e−16, which rounds to
  *     −0.0 in one engine and +0.0 in the other.
  */
object Clustering {

  val Dim = 64
  val K = 8
  val Rounds = 2
  /** Cells a query probes in `ann_ivf_trained_topk`. */
  val TrainedProbes = 2
  /** SemDeDup cosine cut — matches Dedup.CosThreshold so the semantic path
    * is comparable with the banded-LSH path on the same fixture.
    */
  val SemThreshold = 0.4
  private val Fix = 1e9 // centroid fixed-point scale
  private val DistFix = 1e6 // mean-dist2 fixed-point scale

  /** `rounds` Lloyd iterations from deterministic seeds (vectors 0..K-1).
    * Returns (final assignment (vec_id, cid, dist2, x), final centroids
    * (cid, c)). The assignment is the one computed against the
    * PRE-update centroids of the last round, matching the unrolled oracle.
    */
  def lloyd(s: SparkSession, d: String, rounds: Int = Rounds,
            eagerAssign: Boolean = true): (DataFrame, DataFrame) = {
    graft.Graft.init(s)
    import s.implicits._
    val e = embeddings(s, d).select(col("vec_id"), toDouble(col("embedding")).as("x"))
    // Persist the parsed corpus once: every round's assignment job (and
    // the caller's downstream passes) re-reads this frame.
    val x2 = persist(e.withColumn("xx", dot(col("x"), col("x"))))
    // Centroids are O(k·dim) MODEL STATE and live on the DRIVER between
    // rounds — the shape of Spark MLlib's own KMeans, which collects the
    // k·dim center sums every iteration. Per round ONE distributed job
    // runs (assign + fixed-point per-dim sums, map-side combined); only
    // k·dim scaled longs come back, never corpus rows. The previous
    // 1-row-DataFrame-state formulation paid a localCheckpoint job plus a
    // growing nested-plan analysis per round for the same arithmetic.
    var cents: Seq[(Long, Seq[Double])] = x2.where(col("vec_id") < K)
      .select(col("vec_id"), col("x"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    def centsDf: DataFrame = cents.toDF("cid", "c")
    var assign: DataFrame = null
    for (_ <- 1 to rounds) {
      val cc = centsDf.select(col("cid"), col("c"), dot(col("c"), col("c")).as("cc"))
      assign = x2.crossJoin(broadcast(cc))
        .withColumn("dist2", col("xx") - lit(2.0) * dot(col("x"), col("c")) + col("cc"))
        .groupBy("vec_id")
        // min(struct) = (dist2 asc, cid asc) argmin; first(x) is safe —
        // every row in the group carries the same x
        .agg(min(struct(col("dist2"), col("cid"))).as("m"), first(col("x")).as("x"))
        .select(col("vec_id"), col("m.cid").as("cid"), col("m.dist2").as("dist2"), col("x"))
      // Fixed-point update: exact scaled-long sums per (cid, dim) in the
      // cluster, two IEEE double divisions per component on the driver —
      // token-for-token the Catalyst arithmetic of the distributed-state
      // formulation ((s9 / n) / Fix), so centroids stay bit-identical to
      // the unrolled DuckDB oracle.
      cents = assign
        .select(col("cid"), posexplode(col("x")).as(Seq("pos", "v")))
        .withColumn("v9", round(col("v") * lit(Fix)).cast("long"))
        .groupBy("cid", "pos")
        .agg(sum("v9").as("s9"), count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1)).toSeq
            .map(r => r.getLong(2).toDouble / r.getLong(3).toDouble / Fix))
        }
        .toSeq.sortBy(_._1)
    }
    // The returned assignment is the one computed against the PRE-update
    // centroids of the last round (matching the unrolled oracle); persist
    // it — semdedup/balanced-sample callers consume it 2-3 times from
    // concurrent jobs, so it is filled here. Callers that only want the
    // centroids (ann_ivf_trained_topk's coarse quantizer) pass
    // eagerAssign = false and never pay for the assignment.
    val a = persist(assign)
    if (eagerAssign) fill(a, "Clustering.lloyd/assign")
    (a, centsDf)
  }

  /** Within-cluster exact cosine pairs (cos ≥ [[SemThreshold]], 6-dp
    * rounded, vec_a < vec_b) from a Lloyd assignment — the SemDeDup
    * candidate structure: the cluster id is the blocking key, so the
    * quadratic term is (n/k)² per cluster, never n² — at 100 TB k grows
    * with the corpus to keep cluster blocks bounded, and the pair join is
    * a plain shuffle equi-join on cid (never a cartesian product).
    */
  private def semPairs(assign: DataFrame): DataFrame = {
    val v = assign
      .select(col("cid"), col("vec_id"), col("x"),
        sqrt(dot(col("x"), col("x"))).as("nrm"))
    v.as("a").join(v.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cid").as("cluster"),
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(dot(col("a.x"), col("b.x")) / (col("a.nrm") * col("b.nrm")), 6).as("cos"))
      .where(col("cos") >= SemThreshold)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Final-round assignment: vector -> trained cluster + distance².
    "kmeans_assign" -> { (s, d) =>
      val (assign, _) = lloyd(s, d)
      assign.select(col("vec_id"), col("cid").as("cluster"),
        round(greatest(col("dist2"), lit(0.0)), 6).as("dist2"))
        .orderBy("vec_id")
    },

    // Trained-centroid IVF top-k — the composition the seeded ann_ivf_*
    // queries are the plumbing for: cells come from assigning every vector
    // to its nearest TRAINED (Lloyd) centroid, queries probe their
    // TrainedProbes nearest cells, candidates re-rank by exact cosine
    // under the shared ranking contract (Similarity.ranked). Model state
    // (k trained centroids) is broadcast twice; the corpus is scanned for
    // assignment and joined once on the cell id — never all-pairs.
    "ann_ivf_trained_topk" -> { (s, d) =>
      val (_, cents) = lloyd(s, d, eagerAssign = false)
      val cc = cents.select(col("cid"), col("c"), dot(col("c"), col("c")).as("cc"))
      val e = embeddings(s, d).select(col("vec_id"), toDouble(col("embedding")).as("x"))
        .withColumn("xx", dot(col("x"), col("x")))
        .withColumn("nrm", sqrt(col("xx")))
      val dists = e.crossJoin(broadcast(cc))
        .withColumn("dist2", col("xx") - lit(2.0) * dot(col("x"), col("c")) + col("cc"))
      val cells = dists.groupBy("vec_id")
        .agg(min(struct(col("dist2"), col("cid"))).as("m"),
          first(col("x")).as("x"), first(col("nrm")).as("nrm"))
        .select(col("vec_id").as("cand_id"), col("m.cid").as("cell"),
          col("x").as("ce"), col("nrm").as("cn"))
      val wp = Window.partitionBy("q_id").orderBy(col("dist2").asc, col("cid").asc)
      val probes = dists.where(col("vec_id") < Similarity.QuerySet)
        .select(col("vec_id").as("q_id"), col("cid"), col("dist2"),
          col("x").as("qe"), col("nrm").as("qn"))
        .withColumn("rn", row_number().over(wp))
        .where(col("rn") <= TrainedProbes)
        .select(col("q_id"), col("cid").as("probe"), col("qe"), col("qn"))
      Similarity.ranked(broadcast(probes).join(cells,
        col("probe") === col("cell") && col("q_id") =!= col("cand_id")))
    },

    // SemDeDup pairs: exact cosine ONLY within each trained cluster. The
    // recall/cost dial vs the banded-LSH path (dedup_embedding_cosine):
    // LSH bounds work by banding probability, SemDeDup by the cluster
    // blocking — pairs split across clusters are unseen by construction.
    "semdedup_pairs" -> { (s, d) =>
      val (assign, _) = lloyd(s, d)
      semPairs(assign).orderBy("vec_a", "vec_b")
    },

    // SemDeDup keep/drop audit per cluster under the greedy keep-min-id
    // rule: a vector is dropped iff it is the LARGER id of some
    // above-threshold pair. Cluster sizes come from the assignment; drops
    // from the pair relation — both shuffles key on the cluster id.
    "semdedup_stats" -> { (s, d) =>
      val (assign, _) = lloyd(s, d)
      val sz = assign.groupBy(col("cid").as("cluster"))
        .agg(count(lit(1)).as("n_vecs"))
      val dr = semPairs(assign).groupBy("cluster")
        .agg(countDistinct(col("vec_b")).as("nd"))
      sz.join(dr, Seq("cluster"), "left")
        .select(col("cluster"), col("n_vecs"),
          coalesce(col("nd"), lit(0L)).as("n_dropped"),
          (col("n_vecs") - coalesce(col("nd"), lit(0L))).as("n_kept"))
        .orderBy("cluster")
    },

    // Cluster audit: sizes, trained-centroid norms, mean within-cluster
    // dist² (fixed-point sum — double summation order is partition-
    // dependent; scaled-long summation is exact and associative).
    "kmeans_sizes" -> { (s, d) =>
      val (assign, cents) = lloyd(s, d)
      val sizes = assign.groupBy("cid").agg(
        count(lit(1)).as("n_vecs"),
        sum(round(greatest(col("dist2"), lit(0.0)) * lit(DistFix)).cast("long")).as("s6"))
      sizes
        .join(cents.select(col("cid"),
          round(dot(col("c"), col("c")), 6).as("centroid_norm2")), "cid")
        .select(col("cid").as("cluster"), col("n_vecs"), col("centroid_norm2"),
          (col("s6").cast("double") / col("n_vecs").cast("double") / lit(DistFix))
            .as("mean_dist2"))
        .orderBy("cluster")
    },

    // Simplified silhouette per trained cluster (Hartigan's centroid
    // variant: a = distance to the vector's ASSIGNED centroid, b =
    // distance to the nearest OTHER — O(n·k) against broadcast model
    // state, never the O(n²) pairwise silhouette): the partition-quality
    // audit you run before trusting learned clusters as blocking keys at
    // 100 TB. Membership comes from lloyd's ASSIGNMENT — the same
    // partition kmeans_assign/kmeans_sizes/semdedup report — never
    // re-derived by nearest-final-centroid (the two can disagree for
    // vectors near a boundary, which silently moved vectors between
    // clusters across queries; a stale assignment now shows up as a
    // NEGATIVE sil instead of vanishing). Distances are against the final
    // trained centroids. sil = (b−a)/max(a,b) on 0-clamped sqrt
    // distances; per-cluster means through 1e-6 fixed-point sums
    // (order-independent).
    "cluster_silhouette" -> { (s, d) =>
      val (assign, cents) = lloyd(s, d)
      val cc = cents.select(col("cid").as("ccid"), col("c"),
        dot(col("c"), col("c")).as("cc"))
      assign
        .select(col("vec_id"), col("cid"), col("x"),
          dot(col("x"), col("x")).as("xx"))
        .crossJoin(broadcast(cc))
        .withColumn("d2", greatest(
          col("xx") - lit(2.0) * dot(col("x"), col("c")) + col("cc"), lit(0.0)))
        .groupBy("vec_id", "cid")
        // own: the single non-null (ccid == cid) row; oth: min over the rest
        .agg(max(when(col("ccid") === col("cid"), col("d2"))).as("own"),
          min(when(col("ccid") =!= col("cid"), col("d2"))).as("oth"))
        .select(col("cid").as("cluster"),
          sqrt(col("own")).as("a"), sqrt(col("oth")).as("b"))
        .select(col("cluster"),
          when(greatest(col("a"), col("b")) === 0.0, lit(0.0))
            .otherwise((col("b") - col("a")) / greatest(col("a"), col("b")))
            .as("sil"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_vecs"),
          sum(round(col("sil") * lit(DistFix)).cast("long")).as("s6"))
        // exact integer half-up mean at 6 dp (the LM-NLL discipline: a
        // double round(sum/count, 6) lands on half-boundaries where the
        // engines disagree). sil can be NEGATIVE, and Spark `div`
        // truncates where DuckDB `//` floors — shifting by +1e6 per row
        // keeps the numerator non-negative (sil ≥ −1), where the two
        // operators agree; the shift is an exact integer in 1e-6 units,
        // so it cancels after the division.
        .select(col("cluster"), col("n_vecs"),
          ((expr("(2 * (s6 + n_vecs * 1000000) + n_vecs) div (2 * n_vecs)")
            - lit(1000000L)).cast("double") / lit(DistFix)).as("mean_sil"))
        .orderBy("cluster")
    },

    // Temperature-balanced sampling over LEARNED domains: the
    // source-mixture math (sqrt temperature, alpha = 0.5) applied to the
    // trained k-means clusters instead of source labels — the
    // DataComp/DoReMi-style rebalancing when the domains are discovered,
    // not given. Per-cluster keep rates from one k-row aggregate (the
    // global window runs over |clusters| rows — bounded); the draw is the
    // md5 key, so the sample is deterministic and oracle-able.
    "cluster_balanced_rates" -> { (s, d) =>
      clusterRates(lloyd(s, d)._1)
        .select(col("cid").as("cluster"), col("n_c"),
          round(col("rate"), 6).as("rate"), col("thresh"))
        .orderBy("cluster")
    },

    // ONE Lloyd training chain serves both the assignment and the rates
    // (clusterRates takes the assignment — re-training inside it would
    // double the dominant cost of this query for identical centroids).
    "cluster_balanced_sample" -> { (s, d) =>
      val (assign, _) = lloyd(s, d)
      val draw = h60(concat(lit(CbsSalt), col("vec_id").cast("string"))) % 1000000L
      assign.select(col("vec_id"), col("cid"))
        .join(broadcast(clusterRates(assign).select("cid", "thresh")), "cid")
        .where(draw < col("thresh"))
        .select(col("vec_id"), col("cid").as("cluster"))
        .orderBy("vec_id")
    }
  )

  /** Target corpus fraction of the cluster-balanced sample. */
  val CbsFrac = 0.5
  private val CbsSalt = "cbs1:"

  /** (cid, n_c, rate, thresh) from a Lloyd ASSIGNMENT (callers train once
    * and thread the result in) — the mixtureRates shape over trained
    * cluster ids: w_c = sqrt(n_c/N) rounded 9 dp, W = exact decimal sum,
    * rate_c = min(1, (w_c/W)·(frac·N)/n_c), thresh = floor(rate·1e6).
    */
  private def clusterRates(assign: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    assign.groupBy("cid").agg(count(lit(1)).as("n_c"))
      .withColumn("n_total", sum("n_c").over(wAll))
      .withColumn("w",
        round(sqrt(col("n_c").cast("double") / col("n_total").cast("double")), 9))
      .withColumn("w_sum",
        sum(col("w").cast(DecimalType(20, 9))).over(wAll).cast("double"))
      .withColumn("rate", least(lit(1.0),
        (col("w") / col("w_sum")) * (lit(CbsFrac) * col("n_total").cast("double"))
          / col("n_c").cast("double")))
      .withColumn("thresh", floor(col("rate") * lit(1000000.0)).cast("long"))
      .select("cid", "n_c", "rate", "thresh")
  }

  // -------------------------------------------------------------- oracles

  /** Unrolled Lloyd rounds as DuckDB CTEs: c0 = seed centroids; per round
    * r, d_r (distances) -> a_r (argmin assignment) -> u_r/g_r (fixed-point
    * per-dim sums) -> c_r (reassembled centroids).
    */
  private[operators] def lloydCtes(rounds: Int): String = {
    val sb = new StringBuilder(
      s"""e AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x FROM embeddings),
         |x2 AS (SELECT vec_id, x, ${dotSql("x", "x", Dim)} AS xx FROM e),
         |c0 AS (SELECT vec_id AS cid, x AS c FROM e WHERE vec_id < $K)""".stripMargin)
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(
        s""",
           |d$r AS (SELECT v.vec_id, v.x, c.cid,
           |    v.xx - 2 * ${dotSql("v.x", "c.c", Dim)} + ${dotSql("c.c", "c.c", Dim)} AS dist2
           |  FROM x2 v CROSS JOIN c$p c),
           |a$r AS (SELECT vec_id, x, cid, dist2 FROM
           |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM d$r)
           |  WHERE rn = 1),
           |u$r AS (SELECT cid, unnest(range(1, ${Dim + 1})) AS pos,
           |    unnest(list_transform(x, v -> CAST(round(v * 1000000000.0) AS BIGINT))) AS v9
           |  FROM a$r),
           |g$r AS (SELECT cid, pos, CAST(sum(v9) AS BIGINT) AS s9, count(*) AS n
           |  FROM u$r GROUP BY cid, pos),
           |c$r AS (SELECT cid,
           |    list(CAST(s9 AS DOUBLE) / CAST(n AS DOUBLE) / 1000000000.0 ORDER BY pos) AS c
           |  FROM g$r GROUP BY cid)""".stripMargin)
    }
    sb.toString
  }

  val oracles: Map[String, String] = Map(
    "kmeans_assign" ->
      s"""WITH ${lloydCtes(Rounds)}
         |SELECT vec_id, cid AS cluster, round(greatest(dist2, 0.0), 6) AS dist2
         |FROM a$Rounds ORDER BY vec_id""".stripMargin,

    "ann_ivf_trained_topk" -> {
      val Q = Similarity.QuerySet
      s"""WITH ${lloydCtes(Rounds)},
         |b AS (SELECT vec_id, x, ${dotSql("x", "x", Dim)} AS xx,
         |    sqrt(${dotSql("x", "x", Dim)}) AS nrm FROM e),
         |dd AS (SELECT v.vec_id, v.x, v.nrm, c.cid,
         |    v.xx - 2 * ${dotSql("v.x", "c.c", Dim)} + ${dotSql("c.c", "c.c", Dim)} AS dist2
         |  FROM b v CROSS JOIN c$Rounds c),
         |cells AS (SELECT vec_id AS cand_id, x AS ce, nrm AS cn, cid AS cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
         |   FROM dd) WHERE rn = 1),
         |probes AS (SELECT vec_id AS q_id, x AS qe, nrm AS qn, cid AS probe FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
         |   FROM dd WHERE vec_id < $Q) t WHERE rn <= $TrainedProbes),
         |p AS (SELECT q.q_id, c.cand_id,
         |    round(${dotSql("q.qe", "c.ce", Dim)} / (q.qn * c.cn), 6) AS cos
         |  FROM probes q JOIN cells c ON q.probe = c.cell AND q.q_id <> c.cand_id),
         |r AS (SELECT q_id, cand_id, cos,
         |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS INTEGER) AS rnk
         |  FROM p)
         |SELECT q_id, cand_id, cos, rnk FROM r WHERE rnk <= ${Similarity.K}
         |ORDER BY q_id, rnk""".stripMargin
    },

    "semdedup_pairs" ->
      s"""WITH ${lloydCtes(Rounds)},
         |v AS (SELECT vec_id, cid, x, sqrt(${dotSql("x", "x", Dim)}) AS nrm
         |  FROM a$Rounds),
         |p AS (SELECT a.cid AS cluster, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    round(${dotSql("a.x", "b.x", Dim)} / (a.nrm * b.nrm), 6) AS cos
         |  FROM v a JOIN v b ON a.cid = b.cid AND a.vec_id < b.vec_id)
         |SELECT cluster, vec_a, vec_b, cos FROM p WHERE cos >= $SemThreshold
         |ORDER BY vec_a, vec_b""".stripMargin,

    "semdedup_stats" ->
      s"""WITH ${lloydCtes(Rounds)},
         |v AS (SELECT vec_id, cid, x, sqrt(${dotSql("x", "x", Dim)}) AS nrm
         |  FROM a$Rounds),
         |p AS (SELECT a.cid AS cluster, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    round(${dotSql("a.x", "b.x", Dim)} / (a.nrm * b.nrm), 6) AS cos
         |  FROM v a JOIN v b ON a.cid = b.cid AND a.vec_id < b.vec_id),
         |f AS (SELECT * FROM p WHERE cos >= $SemThreshold),
         |sz AS (SELECT cid AS cluster, count(*) AS n_vecs FROM a$Rounds GROUP BY cid),
         |dr AS (SELECT cluster, count(DISTINCT vec_b) AS nd FROM f GROUP BY cluster)
         |SELECT sz.cluster, n_vecs,
         |  CAST(coalesce(nd, 0) AS BIGINT) AS n_dropped,
         |  CAST(n_vecs - coalesce(nd, 0) AS BIGINT) AS n_kept
         |FROM sz LEFT JOIN dr USING (cluster) ORDER BY cluster""".stripMargin,

    "kmeans_sizes" ->
      s"""WITH ${lloydCtes(Rounds)},
         |s1 AS (SELECT cid, count(*) AS n_vecs,
         |    CAST(sum(CAST(round(greatest(dist2, 0.0) * 1000000.0) AS BIGINT)) AS BIGINT) AS s6
         |  FROM a$Rounds GROUP BY cid)
         |SELECT s1.cid AS cluster, n_vecs, round(${dotSql("c.c", "c.c", Dim)}, 6) AS centroid_norm2,
         |  CAST(s6 AS DOUBLE) / CAST(n_vecs AS DOUBLE) / 1000000.0 AS mean_dist2
         |FROM s1 JOIN c$Rounds c ON s1.cid = c.cid ORDER BY cluster""".stripMargin,

    "cluster_silhouette" ->
      s"""WITH ${lloydCtes(Rounds)},
         |bx AS (SELECT vec_id, cid, x, ${dotSql("x", "x", Dim)} AS xx
         |  FROM a$Rounds),
         |dd AS (SELECT v.vec_id, v.cid AS cluster, c.cid AS ccid,
         |    greatest(v.xx - 2 * ${dotSql("v.x", "c.c", Dim)}
         |      + ${dotSql("c.c", "c.c", Dim)}, 0) AS d2
         |  FROM bx v CROSS JOIN c$Rounds c),
         |ab AS (SELECT vec_id, cluster,
         |    sqrt(max(CASE WHEN ccid = cluster THEN d2 END)) AS a,
         |    sqrt(min(CASE WHEN ccid <> cluster THEN d2 END)) AS b
         |  FROM dd GROUP BY vec_id, cluster),
         |ss AS (SELECT cluster,
         |    CASE WHEN greatest(a, b) = 0 THEN 0.0
         |         ELSE (b - a) / greatest(a, b) END AS sil
         |  FROM ab)
         |SELECT cluster, count(*) AS n_vecs,
         |  CAST((2 * (sum(CAST(round(sil * 1e6) AS BIGINT))
         |             + count(*) * 1000000) + count(*))
         |       // (2 * count(*)) - 1000000 AS DOUBLE) / 1000000.0 AS mean_sil
         |FROM ss GROUP BY cluster ORDER BY cluster""".stripMargin,

    "cluster_balanced_rates" ->
      s"""WITH ${lloydCtes(Rounds)},
         |$clusterRatesCtes
         |SELECT cid AS cluster, CAST(n_c AS BIGINT) AS n_c,
         |  round(rate, 6) AS rate, thresh
         |FROM crt ORDER BY cluster""".stripMargin,

    "cluster_balanced_sample" ->
      s"""WITH ${lloydCtes(Rounds)},
         |$clusterRatesCtes
         |SELECT a.vec_id, a.cid AS cluster
         |FROM a$Rounds a JOIN crt ON a.cid = crt.cid
         |WHERE ${h60Sql(s"'$CbsSalt' || CAST(a.vec_id AS VARCHAR)")} % 1000000 < thresh
         |ORDER BY a.vec_id""".stripMargin
  )

  /** CTE block mirroring [[clusterRates]] (defines `crt(cid, n_c, rate,
    * thresh)`); assumes a$Rounds from [[lloydCtes]] is in scope.
    */
  private def clusterRatesCtes: String =
    s"""cs AS (SELECT cid, count(*) AS n_c FROM a$Rounds GROUP BY 1),
       |ct AS (SELECT sum(n_c) AS n_total FROM cs),
       |cw AS (SELECT cid, n_c, n_total,
       |  round(sqrt(CAST(n_c AS DOUBLE) / CAST(n_total AS DOUBLE)), 9) AS w
       |  FROM cs CROSS JOIN ct),
       |cww AS (SELECT CAST(sum(CAST(w AS DECIMAL(20,9))) AS DOUBLE) AS w_sum FROM cw),
       |crt AS (SELECT cid, n_c,
       |  least(1.0, ((w / w_sum) * ($CbsFrac * CAST(n_total AS DOUBLE)))
       |    / CAST(n_c AS DOUBLE)) AS rate,
       |  CAST(floor(least(1.0, ((w / w_sum) * ($CbsFrac * CAST(n_total AS DOUBLE)))
       |    / CAST(n_c AS DOUBLE)) * 1000000.0) AS BIGINT) AS thresh
       |  FROM cw CROSS JOIN cww)""".stripMargin
}
