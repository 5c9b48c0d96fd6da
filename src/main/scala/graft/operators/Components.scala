package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructField, StructType}

import graft.Graft.{fill, persist, IterRowsPerPartition}
import graft.Tables._

/** Cluster formation over the near-dup pair graph — the step a real dedup
  * pipeline runs AFTER pair generation: near-dup pairs (Dedup.minhashPairs)
  * are edges of a graph whose connected components are the duplicate
  * clusters; the pipeline then keeps one representative per cluster. The
  * reference has nothing in this category (SURVEY.md §2.5); this is a
  * north-star extension.
  *
  * The kernel is chosen from the size of the undirected edge relation,
  * which is counted anyway when it is materialized. Below
  * [[graft.Graft.IterRowsPerPartition]] rows the edges are collected in one
  * job and a path-compressed union-find labels them on the driver: a small
  * subgraph would otherwise pay ~3 single-stage jobs per round, each one
  * dominated by launch latency, not data. Larger subgraphs run the
  * distributed round loop, which never moves edges to the driver.
  *
  * Round loop: iterative min-label propagation with pointer jumping.
  * Each round does
  *
  *   1. propagate:  L(v) := min(L(v), min over neighbors u of L(u))
  *                  — one equi-join of the label table with the (src, dst)
  *                  edge table, then one map-side-combined min() aggregate;
  *   2. jump:       L(v) := L(L(v))
  *                  — one self-join of the label table (every label IS a
  *                  node id, so the join is total).
  *
  * Propagation alone needs O(diameter) rounds (a 10^4-node path would take
  * 10^4 shuffles); the jump step doubles the distance a small label has
  * travelled per round, giving O(log n) rounds on any topology — the same
  * bound as the large-star/small-star algorithm (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SOCC'14) with a simpler per-round
  * plan. Per round: two shuffles on node id, both map-side combined; the
  * driver sees only a 1-row aggregate (convergence is detected from the
  * label sum — labels only ever decrease, so it is strictly monotone until
  * the fixpoint).
  *
  * Each round's label table is `localCheckpoint`ed, which truncates its
  * lineage — at 100 TB each round's labels are (id, cc) pairs only,
  * orders of magnitude smaller than the documents they index.
  */
object Components {

  /** Connected components of an undirected graph.
    *
    * @param nodes single-column DataFrame of node ids (any integral type)
    * @param edges two-column DataFrame of undirected edges; endpoints
    *              should be node ids (extra endpoints join in as nodes)
    * @return (id, cc) — cc is the minimum node id of the component,
    *         deterministic regardless of kernel, round count or
    *         partitioning
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxRounds: Int = 50): DataFrame =
    components(nodes, edges, maxRounds, driverBelow = IterRowsPerPartition)

  /** [[connectedComponents]] with the round loop at every size: the only
    * kernel for a graph too big for the driver, and the reference the
    * specs hold the driver-side path to.
    */
  private[graft] def connectedComponentsRounds(nodes: DataFrame,
      edges: DataFrame, maxRounds: Int = 50): DataFrame =
    components(nodes, edges, maxRounds, driverBelow = 0L)

  /** Both kernels: the driver-side one when the undirected edge relation
    * has fewer than `driverBelow` rows, the round loop otherwise.
    */
  private def components(nodes: DataFrame, edges: DataFrame, maxRounds: Int,
                         driverBelow: Long): DataFrame = {
    // checkpoint the edge input before mirroring it: the union's plan
    // contains the edge subtree TWICE, so an expensive source (the minhash
    // pair graph) would be computed twice inside und's one materialization
    val e = edges.toDF("src", "dst").localCheckpoint()
    val und = persist(e.union(e.select(col("dst"), col("src"))))
    // the one materialization of und both kernels reuse; its row count
    // picks the kernel and sizes the round loop's shuffles
    val undRows = fill(und, "Components.connectedComponents/und")
    // Singleton fast-path: a node touching no edge keeps cc = id forever,
    // so ONLY edge endpoints enter the iteration. Near-dup graphs are
    // sparse — at corpus scale the endpoint set is orders of magnitude
    // smaller than the node set, and every per-round shuffle shrinks from
    // corpus-sized to subgraph-sized. Singletons are unioned back at the
    // end. (und carries both directions, so src alone covers every
    // endpoint; endpoints outside `nodes` join in as nodes — docstring
    // contract.) The driver-side labels already list every endpoint, so
    // that kernel skips the distinct over und and its fill jobs.
    val (labels, endpoints) =
      if (undRows < driverBelow) {
        val l = unionFindLabels(und)
        (l, l.select(col("id")))
      } else {
        val endpoints = persist(und.select(col("src").as("id")).distinct())
        (roundLabels(und, endpoints, undRows, maxRounds), endpoints)
      }
    val singletons = nodes.toDF("id").join(endpoints, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cc"))
    // materialize the result WHILE und/endpoints are still cached —
    // otherwise the singleton anti-join re-derives the whole edge lineage
    // (for the near-dup graph: a full minhash recompute) at consumption
    val out = labels.union(singletons).localCheckpoint()
    und.unpersist()
    endpoints.unpersist()
    labels.unpersist()
    out
  }

  /** Driver-side kernel: collects `und` and runs a path-compressed
    * union-find, rooting each component at its minimum id. Same rows and
    * schema as [[roundLabels]], NULLs included: a NULL endpoint links
    * nothing and takes the least label among its non-NULL neighbors
    * (no row when it has none).
    */
  private def unionFindLabels(und: DataFrame): DataFrame = {
    val rows = und.collect()
    // ids sorted ascending, so a smaller index is a smaller id
    val ids = rows.iterator.map(_.get(0)).filter(_ != null).distinct.toArray
      .sortWith(_.asInstanceOf[Comparable[Any]].compareTo(_) < 0)
    val index = ids.zipWithIndex.toMap
    val parent = Array.range(0, ids.length)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var c = i
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def at(r: Row, i: Int): Option[Int] = Option(r.get(i)).map(index)
    rows.foreach { r =>
      for (a <- at(r, 0).map(find); b <- at(r, 1).map(find) if a != b)
        parent(math.max(a, b)) = math.min(a, b)
    }
    val nullLabel = rows.filter(_.isNullAt(0)).flatMap(at(_, 1)).map(find)
      .minOption.map(j => Row(null, ids(j)))
    val labels = ids.indices.map(i => Row(ids(i), ids(find(i)))) ++ nullLabel
    val src = und.schema("src")
    und.sparkSession.createDataFrame(labels.asJava, StructType(Seq(
      src.copy(name = "id"), StructField("cc", src.dataType, nullable = true))))
  }

  /** Distributed kernel: the min-label + pointer-jump round loop. */
  private def roundLabels(und: DataFrame, endpoints: DataFrame,
                          undRows: Long, maxRounds: Int): DataFrame = {
    var labels = persist(endpoints.select(col("id"), col("id").as("cc")))
    // Convergence metric: exact (row count, decimal label sum). The node set
    // is fixed after initialization and labels only ever decrease, so the
    // pair is strictly monotone until the fixpoint; comparing the pair (not
    // the sum alone) rules out an added-row increase masking a decrease.
    def state(df: DataFrame): (Long, Option[BigDecimal]) = {
      val r = df.agg(count(lit(1)), sum(col("cc").cast(DecimalType(38, 0)))).head
      (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)))
    }
    // size the per-round shuffles to the SUBGRAPH; see
    // Graft.withIterShufflePartitions for why AQE can't do this here.
    // The node-sized singleton anti-join runs at session parallelism.
    graft.Graft.withIterShufflePartitions(und.sparkSession, undRows) {
    var prev = state(labels)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      // alias-qualified: labels' lineage contains und from round 2 on, so an
      // unaliased labels("id") === und("src") is an ambiguous self-join
      val prop = labels.as("l").join(und.as("e"), col("l.id") === col("e.src"))
        .select(col("e.dst").as("id"), col("l.cc").as("cc"))
      val m = labels.union(prop).groupBy("id").agg(min("cc").as("cc"))
      // the jump self-join below reads m through two exchange map stages
      fill(m, "Components.connectedComponents/m")
      // pointer jump; y.cc = L(L(v)) <= L(v) by the monotone invariant,
      // least() keeps that explicit rather than implied.
      // localCheckpoint (eager) truncates lineage: the self-join doubles the
      // logical plan per round, so without truncation the planner goes
      // exponential (OOMs around round 12). On a cluster the same call uses
      // executor-local storage; a reliable checkpoint dir is the HA variant.
      val next = m.as("x").join(m.as("y"), col("x.cc") === col("y.id"))
        .select(col("x.id").as("id"), least(col("x.cc"), col("y.cc")).as("cc"))
        .localCheckpoint()
      val cur = state(next)
      m.unpersist()
      labels.unpersist()
      labels = next
      converged = cur == prev
      prev = cur
      rounds += 1
    }
    require(converged, s"connectedComponents: not converged after $maxRounds rounds")
    labels
    } // withIterShufflePartitions
  }

  /** (doc_id, component_id) over the minhash near-dup graph — doc ids
    * sharing an LSH-verified pair (est. Jaccard >= 0.5) land in one
    * component; everything else is a singleton.
    */
  def nearDupComponents(s: SparkSession, d: String): DataFrame =
    connectedComponents(
      documents(s, d).select("doc_id"),
      Dedup.minhashPairs(s, d).select("doc_a", "doc_b"))
      .toDF("doc_id", "component_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Full doc -> duplicate-cluster mapping (singletons map to themselves).
    "dedup_components" -> { (s, d) =>
      nearDupComponents(s, d).orderBy("doc_id")
    },

    // The near-dedup keep set: one representative per cluster — the
    // HIGHEST-quality member (tie-break: smallest doc_id), not an arbitrary
    // one — plus the cluster size. This is the corpus a training pipeline
    // actually emits after near-dedup. Both window functions share one
    // shuffle on component_id.
    // Dedup-and-upweight: keep the min-id representative of every
    // near-dup component, carrying the component size as a training
    // weight (log(1 + members)) — the alternative to discarding
    // duplicates when multiplicity is itself signal (a popularity
    // prior). Component-count-sized output; rides the same CC relation
    // as dedup_components.
    "dedup_keep_weights" -> { (s, d) =>
      nearDupComponents(s, d)
        .groupBy("component_id")
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_members"))
        .select(col("doc_id"), col("n_members"),
          round(log(lit(1.0) + col("n_members").cast("double")), 6).as("weight"))
        .orderBy("doc_id")
    },

    "dedup_cluster_keep" -> { (s, d) =>
      val docs = documents(s, d).select("doc_id", "text")
      val quality = TextAnalysis.stats(docs).select("doc_id", "quality_score")
      // Winner + size as ONE map-side-combined aggregate (r13, guide
      // §2.3/§2.4): the former two windows shared an
      // Exchange(component_id) but shuffled every (doc, quality) row and
      // SORTED each partition on (quality desc, doc_id) just to keep
      // rn = 1. max(struct(quality_score, -doc_id)) picks the identical
      // winner — highest quality, smallest doc_id on ties (doubles
      // compare the same way under struct ordering as under the window's
      // desc sort, NaN greatest in both) — while partial aggregation
      // shrinks the exchange to component-grain rows and drops the sort.
      nearDupComponents(s, d)
        .join(quality, "doc_id")
        .groupBy("component_id")
        .agg(max(struct(col("quality_score"), (-col("doc_id")).as("nid")))
            .as("w"),
          count(lit(1)).as("n_docs"))
        .select(col("component_id"), (-col("w.nid")).as("keep_doc_id"),
          col("n_docs"), col("w.quality_score").as("quality_score"))
        .orderBy("component_id")
    },

    // Leakage-free train/val/test split: the assignment hash is keyed on
    // the near-dup COMPONENT id, not the document id, so every member of a
    // duplicate cluster lands in the same split by construction — the fix
    // that Corpus.split_leakage quantifies the need for (a doc-keyed
    // random split always strands near-copies across the eval boundary at
    // corpus scale). Same salt/buckets as corpus_split; the extra cost
    // over the doc-keyed split is exactly one components run.
    "corpus_split_component" -> { (s, d) =>
      val k = TextHash.h60(
        concat(lit(Corpus.SplitSalt), col("component_id").cast("string"))) % 1000
      nearDupComponents(s, d)
        .withColumn("split",
          when(k < 800, "train").when(k < 900, "validation")
            .otherwise("test"))
        .orderBy("doc_id")
    },

    // Contamination blast radius: every doc within BfsRounds hops of
    // benchmark material in the near-dup graph, with its exact hop
    // distance. This is the transitive form of contamination_check —
    // paraphrase chains (bench ↔ near-copy ↔ near-copy-of-the-copy) leak
    // eval data even when the far end no longer shares shingles with the
    // benchmark, so a decontamination pass drops the whole radius, not
    // just direct overlaps. Seeds are a corpus-filter projection; each BFS
    // round is a frontier-sized equi-join against the (persisted) pair
    // edges — never corpus-sized.
    "contamination_blast_radius" -> { (s, d) =>
      // checkpoint before mirroring — the union otherwise re-derives the
      // full minhash pair computation for each direction
      val pairs = Dedup.minhashPairs(s, d).select("doc_a", "doc_b")
        .localCheckpoint()
      val und = pairs.union(pairs.select(col("doc_b"), col("doc_a")))
      val seeds = documents(s, d)
        .where(col("doc_id") % Corpus.BenchMod === 0).select("doc_id")
      Graph.bfsLevels(seeds, und, Graph.BfsRounds)
        .select(col("id").as("doc_id"), col("level"))
        .orderBy("doc_id")
    },

    // Survivorship-bias audit of the near-dedup keep policy: mean quality
    // of the kept representatives vs the dropped duplicates, one row. A
    // best-quality-per-cluster policy SHOULD show kept >= dropped; a gap
    // near zero would mean dedup is discarding content at random — the
    // check a pipeline runs before trusting its dedup stage. Means go
    // through exact DECIMAL sums (double summation is partition-order-
    // dependent); same component/quality relations as dedup_cluster_keep.
    "dedup_quality_bias" -> { (s, d) =>
      val docs = documents(s, d).select("doc_id", "text")
      val quality = TextAnalysis.stats(docs).select("doc_id", "quality_score")
      val q = col("quality_score").cast(DecimalType(12, 6))
      // Same window→aggregate fusion as dedup_cluster_keep (r13): the
      // kept row per component is max(struct(quality, -doc_id)) — the
      // winner's DECIMAL quality rides along as a non-ordering struct
      // field (doc_id makes the first two fields a strict total order,
      // so the third never influences the max) — and the dropped mass is
      // recovered exactly as sum_all - winner per component (DECIMAL
      // arithmetic, no fp reassociation). One component-grain exchange
      // with partial aggregation replaces the row_number window's full
      // (doc, quality) shuffle + sort.
      val per = nearDupComponents(s, d)
        .join(quality, "doc_id")
        .groupBy("component_id")
        .agg(max(struct(col("quality_score"), (-col("doc_id")).as("nid"),
            q.as("qd"))).as("w"),
          count(lit(1)).as("n"),
          sum(q).as("sq"))
      per.agg(
          count(lit(1)).as("n_kept"),
          (sum(col("n")) - count(lit(1))).as("n_dropped"),
          sum(col("w.qd")).as("skq"),
          (sum(col("sq")) - sum(col("w.qd"))).as("sdq"))
        .select(col("n_kept"), col("n_dropped"),
          (col("skq").cast("double") / col("n_kept")).as("mk"),
          // nullif: zero dropped docs must yield NULL (as the old
          // sum-over-no-rows form did), not 0/0 = NaN
          (col("sdq").cast("double") /
            nullif(col("n_dropped"), lit(0L))).as("md"))
        .select(col("n_kept"), col("n_dropped"),
          round(col("mk"), 6).as("mean_quality_kept"),
          round(col("md"), 6).as("mean_quality_dropped"),
          round(col("mk") - col("md"), 6).as("quality_gap"))
    }
  )

  // ---------------------------------------------------------------- oracles

  /** CTE list (no WITH keyword): minhash pairs -> undirected edges ->
    * recursive reachability -> cc(doc_id, component_id), over any
    * (doc_id, text) relation `src` already in scope. Must be prefixed
    * with WITH RECURSIVE by the consuming query. Parameterized so the
    * end-to-end pipeline oracle can run the SAME chain over its gated
    * corpus CTE ([[Pipeline]] `pipeline_pretrain_e2e`).
    */
  private[operators] def ccCtesFor(src: String): String =
    s"""${Dedup.sigCtes(src)},
       |pairs AS (${Dedup.minhashPairsSqlSelect}),
       |und AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |        UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT doc_id AS id, doc_id AS cc FROM $src
       |          UNION
       |          SELECT u.dst, r.cc FROM reach r JOIN und u ON u.src = r.id),
       |cc AS (SELECT id AS doc_id, min(cc) AS component_id FROM reach GROUP BY id)""".stripMargin

  private def ccCtes: String = ccCtesFor("documents")

  val oracles: Map[String, String] = Map(
    "dedup_components" ->
      s"""WITH RECURSIVE $ccCtes
         |SELECT doc_id, component_id FROM cc ORDER BY doc_id""".stripMargin,

    "dedup_keep_weights" ->
      s"""WITH RECURSIVE $ccCtes
         |SELECT min_doc AS doc_id, n_members,
         |  round(ln(1.0 + n_members), 6) AS weight
         |FROM (SELECT component_id, min(doc_id) AS min_doc,
         |        count(*) AS n_members
         |      FROM cc GROUP BY 1)
         |ORDER BY doc_id""".stripMargin,

    "dedup_cluster_keep" ->
      s"""WITH RECURSIVE $ccCtes,
         |qtok AS (SELECT doc_id, text, ${TextHash.toksSql("text")} AS t FROM documents),
         |qual AS (SELECT doc_id, ${TextAnalysis.qualitySql("t", "text")} AS quality_score FROM qtok),
         |ranked AS (SELECT cc.component_id, cc.doc_id, q.quality_score,
         |    row_number() OVER (PARTITION BY cc.component_id
         |                       ORDER BY q.quality_score DESC, cc.doc_id) AS rn,
         |    count(*) OVER (PARTITION BY cc.component_id) AS n_docs
         |  FROM cc JOIN qual q USING (doc_id))
         |SELECT component_id, doc_id AS keep_doc_id, n_docs, quality_score
         |FROM ranked WHERE rn = 1 ORDER BY component_id""".stripMargin,

    "corpus_split_component" ->
      s"""WITH RECURSIVE $ccCtes
         |SELECT doc_id, component_id,
         |  CASE WHEN ${TextHash.h60Sql(s"'${Corpus.SplitSalt}' || CAST(component_id AS VARCHAR)")} % 1000 < 800 THEN 'train'
         |       WHEN ${TextHash.h60Sql(s"'${Corpus.SplitSalt}' || CAST(component_id AS VARCHAR)")} % 1000 < 900 THEN 'validation'
         |       ELSE 'test' END AS split
         |FROM cc ORDER BY doc_id""".stripMargin,

    "contamination_blast_radius" ->
      s"""WITH RECURSIVE ${Dedup.sigCtes("documents")},
         |pairs AS (${Dedup.minhashPairsSqlSelect}),
         |und AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |        UNION ALL SELECT doc_b, doc_a FROM pairs),
         |seeds AS (SELECT doc_id AS id FROM documents
         |          WHERE doc_id % ${Corpus.BenchMod} = 0),
         |bfs AS (SELECT id, 0 AS level FROM seeds
         |  UNION SELECT u.dst, b.level + 1 FROM bfs b
         |    JOIN und u ON u.src = b.id WHERE b.level < ${Graph.BfsRounds})
         |SELECT id AS doc_id, CAST(min(level) AS INTEGER) AS level FROM bfs
         |GROUP BY id ORDER BY doc_id""".stripMargin,

    "dedup_quality_bias" ->
      s"""WITH RECURSIVE $ccCtes,
         |qtok AS (SELECT doc_id, text, ${TextHash.toksSql("text")} AS t FROM documents),
         |qual AS (SELECT doc_id, ${TextAnalysis.qualitySql("t", "text")} AS quality_score FROM qtok),
         |fl AS (SELECT cc.doc_id, q.quality_score,
         |    (row_number() OVER (PARTITION BY cc.component_id
         |                        ORDER BY q.quality_score DESC, cc.doc_id) = 1) AS kept
         |  FROM cc JOIN qual q ON cc.doc_id = q.doc_id),
         |m AS (SELECT
         |    CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |    CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
         |    CAST(sum(CASE WHEN kept THEN CAST(quality_score AS DECIMAL(12,6)) END)
         |      AS DOUBLE) / sum(CASE WHEN kept THEN 1 ELSE 0 END) AS mk,
         |    CAST(sum(CASE WHEN kept THEN NULL
         |      ELSE CAST(quality_score AS DECIMAL(12,6)) END)
         |      AS DOUBLE) / sum(CASE WHEN kept THEN 0 ELSE 1 END) AS md
         |  FROM fl)
         |SELECT n_kept, n_dropped, round(mk, 6) AS mean_quality_kept,
         |  round(md, 6) AS mean_quality_dropped,
         |  round(mk - md, 6) AS quality_gap
         |FROM m""".stripMargin
  )
}
