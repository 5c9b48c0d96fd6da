package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Graft.{fill, persist}
import graft.Tables._
import TextHash.toks

/** Graph analytics over corpus-derived graphs — TextRank keyword scoring
  * (weighted PageRank on the token co-occurrence graph) and the degree
  * diagnostics you'd run before it. The reference has nothing in this
  * category (SURVEY.md §2.5); complements [[Components]] (connected
  * components) with the other classic iterative-graph primitive.
  *
  * Scale shape:
  *   - Graph CONSTRUCTION is the corpus-sized stage: one pass over the
  *     tokens (posexplode + window lead — the same single-shuffle shape as
  *     [[TextHash.shingleRows]]), then a map-side-combined groupBy that
  *     collapses the corpus to a VOCAB²-bounded edge list. At 100 TB the
  *     edge list is orders of magnitude smaller than the corpus — the
  *     iteration never touches the corpus again.
  *   - The ITERATION is vocab-sized: rank ⋈ edges ⋈ out-weights, ten
  *     rounds. Edges and out-weights are persisted once and reused; each
  *     round is one shuffle of a vocabulary-sized relation (AQE broadcasts
  *     it when small). Plan depth is linear in rounds (no self-join lineage
  *     blowup — contributions join the STATIC edge relation, unlike the
  *     label-propagation self-join in Components that needs checkpointing).
  *
  * Cross-engine exactness: PageRank in scaled-integer arithmetic. Ranks
  * live at 10^12 fixed point; contribution = rank*w div out_w (floor),
  * update = (15·base) div 100 + (85·Σcontrib) div 100 — every op is exact
  * BIGINT math, so ten rounds reproduce bit-for-bit in DuckDB's unrolled
  * CTE chain (same trick as the k-means trainer's 1e-9 fixed point,
  * Clustering.scala). Float PageRank would drift in the last ulp across
  * engines and orderings; integer PageRank is associative and exact.
  */
object Graph {

  /** Fixed-point scale for ranks (10^12: 31 nodes × rank ≤ 10^12 × weight
    * ≤ 10^4 stays far under 2^63 in the contribution product).
    */
  val Scale = 1000000000000L

  /** Damping 0.85 expressed as integer percentages. */
  val DampNum = 85L
  val TeleNum = 15L

  /** PageRank rounds — fixed (not convergence-tested) so the oracle can
    * unroll the exact same count.
    */
  val Iters = 10

  /** k-core threshold and peeling rounds — both fixed so the oracle can
    * unroll the identical computation. The spec proves 8 rounds reach the
    * fixpoint on the fixture (every surviving degree >= k).
    */
  val CoreK = 3
  val CoreRounds = 8

  /** BFS depth bound — fixed so the oracle can unroll/bound the identical
    * expansion.
    */
  val BfsRounds = 3

  /** Undirected token co-occurrence edges (adjacent-token pairs, both
    * directions), weight = number of adjacencies in the corpus. Self-loops
    * (repeated tokens) dropped.
    *
    * Adjacency extraction is PURE MAP-SIDE: tokenize once, zip the array
    * with its own 1-shifted slice, explode — no doc_id window. The window
    * form (posexplode + lead) shuffles and sorts the ENTIRE corpus by
    * doc_id before any reduction (measured ~10s of graph_textrank's 11.5s
    * at sf0.1); this shape's only shuffle is the map-side-combined groupBy
    * that lands at vocab² rows. Counts are identical either way.
    */
  def cooccurEdges(docs: DataFrame): DataFrame = {
    val adj = adjacentPairs(docs)
    val und = adj.select(col("tok").as("src"), col("nxt").as("dst"))
      .union(adj.select(col("nxt").as("src"), col("tok").as("dst")))
    und.groupBy("src", "dst").agg(count(lit(1)).as("w"))
  }

  /** One (tok, nxt) row per adjacent token pair, self-pairs dropped —
    * the shared extraction behind [[cooccurEdges]] (both directions) and
    * [[precedenceEdges]] (directed).
    */
  private def adjacentPairs(docs: DataFrame): DataFrame = {
    val n1 = greatest(size(col("t")) - 1, lit(0))
    docs
      .select(toks(col("text")).as("t"))
      .select(explode(arrays_zip(
        slice(col("t"), lit(1), n1), slice(col("t"), lit(2), n1))).as("p"))
      .select(col("p").getField("0").as("tok"), col("p").getField("1").as("nxt"))
      .where(col("tok") =!= col("nxt"))
  }

  /** HITS rounds — fixed so the oracle unrolls the identical count. */
  val HitsRounds = 6

  /** DIRECTED bigram-precedence edges (token -> next token), weight =
    * adjacency count; self-pairs dropped like [[cooccurEdges]]. Same
    * pure-map-side zip extraction; the DIRECTION (precedence) is what
    * makes HITS hubs differ from authorities — the undirected co-occur
    * graph would degenerate to hub == authority.
    */
  def precedenceEdges(docs: DataFrame): DataFrame =
    adjacentPairs(docs)
      .select(col("tok").as("src"), col("nxt").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))

  /** Kleinberg's HITS over a directed weighted edge list: alternating
    * authority (a = A^T h) and hub (h = A a) updates for [[HitsRounds]]
    * rounds, L-infinity-normalized each half-step to [[Scale]] fixed
    * point. Arithmetic is EXACT end-to-end: mass sums accumulate in
    * DECIMAL(38,0) (order-free; longs would overflow at web-scale
    * weights), and each rescale is integer (s * Scale) DIV max with the
    * round's max — a 1-row aggregate — DRIVER-FOLDED into the next
    * round's literal (the treeAggregate shape the trainers use), so the
    * unrolled oracle reproduces every round bit-for-bit. Each round is
    * one shuffle of the vocab-sized score relation against the static
    * persisted edge list (caller releases via Graft.releaseCaches);
    * every score stays > 0 by induction, so only-source nodes take
    * authority 0 and only-sink nodes hub 0 through the closing outer
    * joins.
    */
  def hits(edges: DataFrame, rounds: Int = HitsRounds): DataFrame = {
    val dec = DecimalType(38, 0)
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
    // the node-set union's two legs and each half-round's join stages
    fill(e, "Graph.hits/e")
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint()
    // empty graph (every doc <= 1 token): no rounds to run, and the
    // per-round max would be NULL — return the empty frame the oracle's
    // empty result mirrors
    if (e.isEmpty) {
      return nodes.select(col("node"), lit(0L).as("hub"),
        lit(0L).as("authority"))
    }
    var h = nodes.select(col("node"), lit(Scale).as("h"))
    var a = nodes.limit(0).select(col("node"), lit(0L).as("a"))
    def rescale(raw: DataFrame, out: String): DataFrame = {
      // checkpoint FIRST so the half-round join+agg runs once: a collect
      // for the max and a separate checkpoint of the projection would
      // execute the same plan twice (no shuffle reuse across jobs)
      val mat = raw.localCheckpoint()
      val mx = mat.agg(max("s")).collect()(0).getDecimal(0).toPlainString
      mat.select(col("node"),
        expr(s"CAST((s * $Scale) DIV $mx AS BIGINT)").as(out))
    }
    graft.Graft.withIterShufflePartitions(edges.sparkSession, e.count()) {
      for (_ <- 1 to rounds) {
        val araw = h.as("r").join(e.as("e"), col("r.node") === col("e.src"))
          .groupBy(col("e.dst").as("node"))
          .agg(sum(col("r.h").cast(dec) * col("e.w")).as("s"))
        a = rescale(araw, "a")
        val hraw = a.as("r").join(e.as("e"), col("r.node") === col("e.dst"))
          .groupBy(col("e.src").as("node"))
          .agg(sum(col("r.a").cast(dec) * col("e.w")).as("s"))
        h = rescale(hraw, "h")
      }
    }
    nodes.join(h, Seq("node"), "left").join(a, Seq("node"), "left")
      .select(col("node"), coalesce(col("h"), lit(0L)).as("hub"),
        coalesce(col("a"), lit(0L)).as("authority"))
  }

  /** Weighted PageRank over an edge list, scaled-integer arithmetic.
    * Returns (node, rank) with rank at [[Scale]] fixed point.
    */
  def pagerank(edges: DataFrame, iters: Int = Iters): DataFrame = {
    // persisted for the 10 iterations; the caller releases them after the
    // consuming action (Graft.releaseCaches)
    val e = persist(edges.select(col("src"), col("dst"), col("w").cast("long").as("w")))
    val outw = e.groupBy("src").agg(sum("w").as("out_w"))
    val n = fill(outw, "Graph.pagerank/outw") // vocab-sized scalar
    val base = Scale / n
    val teleport = (TeleNum * base) / 100L
    var ranks = outw.select(col("src").as("node"), lit(base).as("rank"))
    for (_ <- 1 to iters) {
      // contribution floors BEFORE the sum (matches the unrolled oracle)
      val contrib = ranks.as("r")
        .join(e.as("e"), col("r.node") === col("e.src"))
        .join(outw.as("o"), col("r.node") === col("o.src"))
        .select(col("e.dst").as("node"),
          expr("r.rank * e.w DIV o.out_w").as("c"))
      ranks = contrib.groupBy("node")
        .agg((lit(teleport) + expr(s"$DampNum * sum(c) DIV 100")).as("rank"))
    }
    ranks
  }

  /** Personalized PageRank: like [[pagerank]] but ALL teleport mass
    * returns to the `seeds` set (uniformly), so ranks measure proximity to
    * the seeds rather than global centrality. Same scaled-integer
    * arithmetic (restart base Scale/|seeds| at the seeds, contributions
    * floor before summing) — bit-exact against the unrolled oracle.
    *
    * Scale shape mirrors pagerank: edges/out-weights persist once, each
    * round is one shuffle of the (reachable-subgraph)-sized rank relation
    * joined to the STATIC edge list, plus a full-outer join against the
    * tiny seed relation to re-inject restart mass at nodes that received
    * no contribution this round.
    */
  def personalizedPagerank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = Iters): DataFrame = {
    val e = persist(edges.select(col("src"), col("dst"), col("w").cast("long").as("w")))
    val outw = persist(e.groupBy("src").agg(sum("w").as("out_w")))
    val sd = seeds.select("node").distinct()
    val ns = fill(sd, "Graph.personalizedPagerank/sd") // seed-set-sized scalar
    // Empty seed set → the zero vector: return the empty rank relation
    // instead of dividing by zero (the BPE pair-exhausted precedent; the
    // r10 scale probe hit this on a synthetic corpus with no English
    // stopwords). GraphSpec locks the contract.
    if (ns == 0L)
      return sd.select(col("node"), lit(0L).as("rank")).where(lit(false))
    val base = Scale / ns
    val tele = (TeleNum * base) / 100L
    var ranks = sd.select(col("node"), lit(base).as("rank"))
    // each round's rank relation is reachable-subgraph-sized — size the
    // round shuffles to the edge list (Graft.withIterShufflePartitions)
    graft.Graft.withIterShufflePartitions(edges.sparkSession,
      fill(e, "Graph.personalizedPagerank/e")) {
    for (_ <- 1 to iters) {
      val contrib = ranks.as("r")
        .join(e.as("e"), col("r.node") === col("e.src"))
        .join(outw.as("o"), col("r.node") === col("o.src"))
        .select(col("e.dst").as("node"), expr("r.rank * e.w DIV o.out_w").as("c"))
        .groupBy("node").agg(sum("c").as("csum"))
      // localCheckpoint per round (the logreg/Components discipline): the
      // full-outer chain otherwise compounds into a 10-deep plan whose
      // optimization alone dominates runtime (measured 40s -> ~3s at
      // sf0.1); each round's rank relation is reachable-subgraph-sized.
      ranks = contrib
        .join(sd.withColumn("tele", lit(tele)), Seq("node"), "full_outer")
        .select(col("node"),
          (coalesce(col("tele"), lit(0L)) +
            expr(s"$DampNum * coalesce(csum, 0) DIV 100")).as("rank"))
        .localCheckpoint()
    }
    }
    ranks
  }

  /** Triangles of an oriented (each undirected edge exactly once, acyclic
    * orientation) edge list via the two-equi-join wedge closure — each
    * triangle appears exactly once. Property-tested against brute force
    * on random graphs (GraphPropertySpec).
    */
  def orientedTriangles(e: DataFrame): DataFrame =
    e.as("e1")
      .join(e.as("e2"), col("e1.dst") === col("e2.src"))
      .join(e.as("e3"),
        col("e1.src") === col("e3.src") && col("e2.dst") === col("e3.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))

  /** The k-core edge subgraph after `rounds` peeling iterations over a
    * BOTH-DIRECTIONS edge list (so groupBy(src) counts full degree).
    * localCheckpoint per round keeps the plan linear.
    */
  def kcoreEdges(und: DataFrame, k: Int, rounds: Int): DataFrame = {
    var e = und.select("src", "dst").localCheckpoint()
    // per-round shuffles sized to the (shrinking) edge subgraph — see
    // Graft.withIterShufflePartitions; the edge set only decreases, so the
    // initial count is the bound for every round
    graft.Graft.withIterShufflePartitions(und.sparkSession, e.count()) {
      for (_ <- 1 to rounds) {
        val keep = e.groupBy("src").agg(count(lit(1)).as("deg"))
          .where(col("deg") >= k).select(col("src").as("v"))
        e = e.join(keep.as("ka"), col("src") === col("ka.v"))
          .join(keep.as("kb"), col("dst") === col("kb.v"))
          .select("src", "dst").localCheckpoint()
      }
    }
    e
  }

  /** Label-propagation rounds — fixed so the oracle can unroll the
    * identical computation (synchronous LPA oscillates on bipartite
    * structures, but a FIXED round count is deterministic either way).
    */
  val LpRounds = 5

  /** Both-directions near-dup edges: MinHash-LSH pairs weighted by the
    * (exact-integer) count of agreeing signature components.
    */
  def nearDupEdges(s: SparkSession, d: String): DataFrame = {
    // checkpoint before mirroring — the union's plan holds the pair
    // subtree twice, which would re-run the banded signature join per
    // direction inside one materialization
    val pairs = Dedup.minhashPairs(s, d).localCheckpoint()
    val w = (col("est_jaccard") * 32).cast("long").as("w")
    pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"), w)
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"), w))
  }

  /** Synchronous weighted label propagation (Raghavan et al. 2007) over a
    * both-directions edge list: every node starts as its own community;
    * each round EVERY node simultaneously adopts the label carrying the
    * highest total edge weight among its neighbors (ties to the smallest
    * label) — the cheap communities baseline next to the other iterative
    * primitives (connected components = reachability, k-core = density,
    * PageRank = centrality; this = modularity-ish grouping).
    *
    * Each node ALSO votes its own current label through a self-loop
    * weighted at its maximum incident edge weight — the determinism fix
    * for synchronous LPA's label-swap oscillation. Without it a 2-clique
    * swaps labels every round forever (round parity decides the
    * "result"); with it, a node only switches when a competing label
    * strictly outweighs its strongest single tie — or ties with it and is
    * smaller — so the 2-clique resolves to the smaller label in round one
    * and every later round re-elects it 2·w to w. Unlike min-label
    * connected components, the weighted majority can still hold a
    * weakly-bridged node OUT of a neighboring community (GraphSpec locks
    * the fixture assignment, the 2-clique stability property, and a
    * weighted-bridge case where LPA differs from CC).
    *
    * Scale shape: each round is one edge-sized join against the current
    * (node, label) relation, one map-side-combined vote aggregate, and an
    * argmax window over the per-node vote lists — state never exceeds one
    * label per node, and the synchronous update means no sequential
    * dependency inside a round. localCheckpoint per round keeps the plan
    * linear (same discipline as [[kcoreEdges]]/[[bfsLevels]]).
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    // materialize the edge input ONCE: nodes, the self-loop union, and the
    // initial labels all derive from it — unchecked, an expensive edge
    // source (the minhash pair graph costs a full signature run) is
    // recomputed three times before the loop even starts (measured: the
    // lp queries spent ~5 of their 7.6 s re-deriving pairs)
    val base = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .localCheckpoint()
    val nodes = base.groupBy(col("src").as("id")).agg(max("w").as("sw"))
    val e = persist(base
      .union(nodes.select(col("id"), col("id"), col("sw"))))
    var labels = nodes.select(col("id"), col("id").as("lab")).localCheckpoint()
    // votes/labels are edge-subgraph-sized every round — size the round
    // shuffles to that, not the session (Graft.withIterShufflePartitions)
    graft.Graft.withIterShufflePartitions(edges.sparkSession,
      fill(e, "Graph.labelPropagation/e")) {
      for (_ <- 1 to rounds) {
        val votes = labels.as("l").join(e.as("e"), col("l.id") === col("e.src"))
          .groupBy(col("e.dst").as("id"), col("l.lab"))
          .agg(sum(col("e.w")).as("vw"))
        val wnd = Window.partitionBy("id").orderBy(desc("vw"), asc("lab"))
        labels = votes.withColumn("rn", row_number().over(wnd))
          .where(col("rn") === 1).select("id", "lab").localCheckpoint()
      }
    }
    e.unpersist()
    labels
  }

  /** Min-hop BFS levels from a seed set over a both-directions edge list,
    * depth-bounded at `rounds`. Returns (id, level) for every node within
    * `rounds` hops of a seed; level = exact minimum hop count.
    *
    * Scale shape: round r joins ONLY the level-(r−1) frontier against the
    * edge list (the filter keeps the join input frontier-sized, not
    * visited-set-sized), then one map-side-combined min() folds new
    * reachings into the visited table — the standard distributed BFS.
    * State is (id, level) pairs — bounded by the reachable set, orders of
    * magnitude smaller than a corpus at 100 TB. localCheckpoint per round
    * keeps the plan linear in rounds (same discipline as
    * [[Components.connectedComponents]]); depth-bounding makes the round
    * count a constant, so there is no convergence loop to detect.
    */
  def bfsLevels(seeds: DataFrame, und: DataFrame, rounds: Int): DataFrame = {
    val e = persist(und.toDF("src", "dst"))
    var levels = seeds.toDF("id").distinct()
      .select(col("id"), lit(0).as("level")).localCheckpoint()
    // frontier/levels are bounded by the edge subgraph — size the round
    // shuffles to it (Graft.withIterShufflePartitions)
    graft.Graft.withIterShufflePartitions(und.sparkSession,
      fill(e, "Graph.bfsLevels/e")) {
      for (r <- 1 to rounds) {
        val prop = levels.where(col("level") === r - 1).as("f")
          .join(e.as("e"), col("f.id") === col("e.src"))
          .select(col("e.dst").as("id"), lit(r).as("level"))
        levels = levels.union(prop).groupBy("id")
          .agg(min("level").as("level")).localCheckpoint()
      }
    }
    e.unpersist()
    levels
  }

  // -------------------------------------------------------------- queries

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TextRank keyword scores: every vocab token ranked by its stationary
    // weight in the co-occurrence graph. Corpus → vocab-sized edges once,
    // then ten vocab-sized iterations.
    "graph_textrank" -> { (s, d) =>
      pagerank(cooccurEdges(documents(s, d).select("doc_id", "text")))
        .select(col("node"), col("rank").cast("long").as("rank"))
        .orderBy(desc("rank"), asc("node"))
    },

    // Personalized PageRank from the English signature stopwords over the
    // token co-occurrence graph — proximity-to-stopwords scoring (the
    // TextRank refinement that downweights function-word-adjacent tokens
    // when extracting keywords). Seeds restricted to words present in the
    // vocabulary so the restart distribution is well-defined.
    "graph_ppr_stopwords" -> { (s, d) =>
      // persisted: consumed by the seed filter AND the iteration's e/outw
      val edges = persist(cooccurEdges(documents(s, d).select("doc_id", "text")))
      val seedWords = TextAnalysis.langSignatures.toMap.apply("en")
      val seeds = edges.select(col("src").as("node"))
        .where(col("node").isin(seedWords.map(_.asInstanceOf[Any]): _*))
      personalizedPagerank(edges, seeds)
        .select(col("node"), col("rank").cast("long").as("rank"))
        .orderBy(desc("rank"), asc("node"))
    },

    // HITS hubs/authorities on the DIRECTED bigram-precedence graph:
    // authorities are words many distinctive contexts point INTO, hubs
    // words that point into many authorities — link analysis the
    // co-occurrence PageRank can't express (it has no direction).
    "graph_hits" -> { (s, d) =>
      hits(precedenceEdges(documents(s, d).select("doc_id", "text")))
        .orderBy(desc("authority"), asc("node"))
    },

    // Label-propagation communities of the minhash near-dup graph (the
    // token co-occurrence graph is near-complete at fixture scale, so
    // communities there are degenerate; the near-dup graph has the real
    // cluster structure). Edge weight = number of agreeing signature
    // components (est_jaccard * 32 — an exact integer, so the weighted
    // votes stay bit-exact). Only docs with >= 1 near-dup neighbor
    // participate, mirroring the connected-components singleton contract.
    "graph_lp_communities" -> { (s, d) =>
      labelPropagation(nearDupEdges(s, d), LpRounds)
        .select(col("id").as("doc_id"), col("lab").as("community"))
        .orderBy("doc_id")
    },

    // Community-size histogram — the useful summary at scale (the full
    // assignment is node-sized; this is community-count-sized).
    "graph_lp_sizes" -> { (s, d) =>
      labelPropagation(nearDupEdges(s, d), LpRounds)
        .groupBy(col("lab").as("community"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy(desc("n_members"), asc("community"))
    },

    // Degree diagnostics of the same graph — the skew check you run before
    // committing to an iteration count / partitioning.
    "graph_degree_stats" -> { (s, d) =>
      cooccurEdges(documents(s, d).select("doc_id", "text"))
        .groupBy("src")
        .agg(count(lit(1)).as("degree"), sum("w").cast("long").as("wdegree"))
        .select(col("src").as("node"), col("degree"), col("wdegree"))
        .orderBy(desc("wdegree"), asc("node"))
    },

    // Triangle census + global clustering coefficient. Each undirected
    // edge is oriented src<dst, so the two equi-joins enumerate each
    // triangle exactly once (a<b<c) — the standard distributed triangle
    // count; at real scale the orientation function becomes (degree, id)
    // so hub fan-out is bounded (same plan, different comparator). Wedges
    // = Σ deg·(deg−1)/2 in exact longs; the coefficient is the only
    // division.
    "graph_triangles" -> { (s, d) =>
      // und feeds the oriented edges AND the node/wedge censuses —
      // uncached, the corpus-sized edge construction runs 3x. The three
      // broadcast 1-row censuses race the triangle probe, and the
      // triangle self-join reads e through three exchange map stages.
      val und = cooccurEdges(documents(s, d).select("doc_id", "text"))
      fill(und, "Graph.graph_triangles/und")
      val e = und.where(col("src") < col("dst")).select("src", "dst")
      fill(e, "Graph.graph_triangles/e")
      val tri = orientedTriangles(e)
      val nTri = tri.agg(count(lit(1)).as("n_triangles"))
      val nEdges = e.agg(count(lit(1)).as("n_edges"))
      val nNodes = und.select(col("src").as("n")).distinct()
        .agg(count(lit(1)).as("n_nodes"))
      val wedges = und.groupBy("src").agg(count(lit(1)).as("deg"))
        .agg(expr("sum(deg * (deg - 1) DIV 2)").cast("long").as("n_wedges"))
      nNodes.crossJoin(broadcast(nEdges)).crossJoin(broadcast(nTri))
        .crossJoin(broadcast(wedges))
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
          col("n_wedges"),
          round(lit(3.0) * col("n_triangles").cast("double")
            / col("n_wedges").cast("double"), 6).as("clustering_coeff"))
    },

    // Per-node triangle participation — the local-density ranking used to
    // find tightly-knit token communities. Same oriented join, then each
    // triangle credits its three corners.
    "graph_node_triangles" -> { (s, d) =>
      val und = cooccurEdges(documents(s, d).select("doc_id", "text"))
      val e = und.where(col("src") < col("dst")).select("src", "dst")
      // the triangle self-join's three exchange map stages
      fill(e, "Graph.graph_node_triangles/e")
      val tri = orientedTriangles(e)
      tri.select(col("a").as("node"))
        .union(tri.select(col("b").as("node")))
        .union(tri.select(col("c").as("node")))
        .groupBy("node").agg(count(lit(1)).as("n_tri"))
        .orderBy(desc("n_tri"), asc("node"))
        .limit(20)
    },

    // The same census through DEGREE-ORDERED orientation — the plan that
    // survives 100 TB. src<dst orientation lets a hub keep its full
    // fan-out on one side of the first join; orienting low-degree →
    // high-degree (ties by name) bounds every node's out-degree by
    // O(sqrt(edges)), which caps the e1⋈e2 wedge explosion — the standard
    // scalable triangle count. Orientation choice cannot change the
    // census, and the identical output row (vs graph_triangles) proves it.
    "graph_triangles_by_degree" -> { (s, d) =>
      // und feeds the degree table, the oriented edges, and the
      // node/wedge censuses — 4 consumers (see graph_triangles note)
      val und = cooccurEdges(documents(s, d).select("doc_id", "text"))
      fill(und, "Graph.graph_triangles_by_degree/und")
      val deg = und.groupBy("src").agg(count(lit(1)).as("dg"))
        .select(col("src").as("v"), col("dg"))
      val eo = und.join(deg.as("da"), col("src") === col("da.v"))
        .join(deg.as("db"), col("dst") === col("db.v"))
        .where(col("da.dg") < col("db.dg") ||
          (col("da.dg") === col("db.dg") && col("src") < col("dst")))
        .select("src", "dst")
      fill(eo, "Graph.graph_triangles_by_degree/eo")
      val tri = orientedTriangles(eo)
      val nTri = tri.agg(count(lit(1)).as("n_triangles"))
      val nEdges = eo.agg(count(lit(1)).as("n_edges"))
      val nNodes = und.select(col("src").as("n")).distinct()
        .agg(count(lit(1)).as("n_nodes"))
      val wedges = und.groupBy("src").agg(count(lit(1)).as("deg"))
        .agg(expr("sum(deg * (deg - 1) DIV 2)").cast("long").as("n_wedges"))
      nNodes.crossJoin(broadcast(nEdges)).crossJoin(broadcast(nTri))
        .crossJoin(broadcast(wedges))
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
          col("n_wedges"),
          round(lit(3.0) * col("n_triangles").cast("double")
            / col("n_wedges").cast("double"), 6).as("clustering_coeff"))
    },

    // Per-node (local) clustering coefficient: triangles at the node over
    // its wedge count deg·(deg−1)/2 — the density ranking that separates
    // clique-embedded tokens from hub tokens. Same oriented triangle join;
    // exact integer numerator/denominator, one rounded division per row.
    "graph_local_clustering" -> { (s, d) =>
      val und = cooccurEdges(documents(s, d).select("doc_id", "text"))
      fill(und, "Graph.graph_local_clustering/und") // see graph_triangles
      val e = und.where(col("src") < col("dst")).select("src", "dst")
      fill(e, "Graph.graph_local_clustering/e")
      val tri = orientedTriangles(e)
      val perNode = tri.select(col("a").as("node"))
        .union(tri.select(col("b").as("node")))
        .union(tri.select(col("c").as("node")))
        .groupBy("node").agg(count(lit(1)).as("n_tri"))
      und.groupBy("src").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= 2)
        .join(perNode, col("src") === col("node"), "left")
        .select(col("src").as("node"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          round(coalesce(col("n_tri"), lit(0L)).cast("double") /
            (col("deg") * (col("deg") - 1) / 2).cast("double"), 6)
            .as("local_cc"))
        .orderBy(desc("local_cc"), asc("node"))
        .limit(20)
    },

    // k-core decomposition (k = CoreK) by iterative peeling: drop nodes
    // with degree < k, recompute degrees on the induced subgraph, repeat.
    // Every round is vocab-sized (degree agg + two semi-shaped joins that
    // AQE broadcasts); the edge set only ever SHRINKS, and localCheckpoint
    // per round keeps the plan linear — same discipline as the
    // connected-components loop (Components.scala). Fixed CoreRounds so
    // the DuckDB oracle unrolls the identical peel; output is the
    // surviving nodes with their within-core degree.
    "graph_kcore" -> { (s, d) =>
      kcoreEdges(cooccurEdges(documents(s, d).select("doc_id", "text")),
        CoreK, CoreRounds)
        .groupBy("src").agg(count(lit(1)).as("core_degree"))
        .select(col("src").as("node"), col("core_degree"))
        .orderBy(desc("core_degree"), asc("node"))
    },

    // Depth-bounded BFS levels from the lexicographically-smallest token —
    // the hop-distance profile of the co-occurrence graph (the other
    // classic iterative-graph primitive next to PageRank and CC). The seed
    // is a 1-row aggregate joined in by broadcast; every round is a
    // frontier-sized equi-join. Exact integer levels, so the unrolled
    // recursive-CTE oracle is bit-identical.
    "graph_bfs_levels" -> { (s, d) =>
      val e = cooccurEdges(documents(s, d).select("doc_id", "text"))
      // the broadcast seed aggregate and the first BFS round
      fill(e, "Graph.graph_bfs_levels/e")
      val seed = e.agg(min("src").as("id"))
      bfsLevels(seed, e.select("src", "dst"), BfsRounds)
        .select(col("id").as("node"), col("level"))
        .orderBy("level", "node")
    },

    // Newman modularity Q of the LPA partition over the near-dup graph —
    // the standard partition-quality score (how much intra-community
    // weight exceeds the random-graph expectation). With the symmetric
    // (double-counted) edge list of total weight W, Q = Σ_c I_c/W −
    // Σ_c S_c²/W²; both Σ terms fold to ONE exact long each
    // (community-sized aggs), so the only float math is two divisions
    // and a subtraction — no cross-community float accumulation whose
    // order could differ between engines. Overflow precondition is on
    // the AGGREGATE: Σ_c S_c² ≤ (Σ_c S_c)·max_c S_c = 2W·max_c S_c, so
    // sum_s2 stays in a long while 2W · max community strength < 2^63 —
    // beyond that, scale the weights (the moments pipeline is unchanged).
    "graph_modularity" -> { (s, d) =>
      val e = persist(nearDupEdges(s, d)
        .select(col("src"), col("dst"), col("w").cast("long").as("w")))
      val labels = labelPropagation(e, LpRounds)
      val wTot = e.agg(sum("w").as("w_total"))
      val intra = e
        .join(labels.select(col("id").as("src"), col("lab").as("ca")), "src")
        .join(labels.select(col("id").as("dst"), col("lab").as("cb")), "dst")
        .agg(sum(when(col("ca") === col("cb"), col("w")).otherwise(0L))
          .as("sum_intra"))
      val strength = e.groupBy("src").agg(sum("w").as("st"))
      val commStats = strength
        .join(labels.select(col("id").as("src"), col("lab")), "src")
        .groupBy("lab").agg(sum("st").as("sc"))
        .agg(count(lit(1)).as("n_communities"),
          sum(col("sc") * col("sc")).as("sum_s2"))
      val wD = col("w_total").cast("double")
      commStats.crossJoin(broadcast(wTot)).crossJoin(broadcast(intra))
        .select(col("n_communities"), col("w_total"), col("sum_intra"),
          col("sum_s2"),
          round(col("sum_intra").cast("double") / wD -
            col("sum_s2").cast("double") / (wD * wD), 6).as("modularity"))
    },

    // Degree assortativity (Newman's r): Pearson correlation of the
    // degrees at the two endpoints of every edge — hub-to-hub wiring
    // (r > 0, social graphs) vs hub-to-leaf (r < 0, word co-occurrence /
    // infrastructure). The symmetric edge list makes the x and y moments
    // equal, so r = (mΣxy − (Σx)²) / (mΣx² − (Σx)²) over exact integer
    // sums; the moments are one agg over edges joined twice against the
    // vocab-sized degree table (broadcastable at any corpus scale), and
    // the only float math is the final division — shared digit-for-digit
    // with the oracle.
    "graph_assortativity" -> { (s, d) =>
      val e = cooccurEdges(documents(s, d).select("doc_id", "text"))
        .select("src", "dst")
      // the two broadcastable deg build jobs and the moment probe
      fill(e, "Graph.graph_assortativity/e")
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      val m = e
        .join(deg.select(col("src").as("_a"), col("deg").as("dx")),
          col("src") === col("_a"))
        .join(deg.select(col("src").as("_b"), col("deg").as("dy")),
          col("dst") === col("_b"))
        .agg(count(lit(1)).as("m"),
          sum(col("dx")).as("sx"),
          sum(col("dx") * col("dx")).as("sx2"),
          sum(col("dx") * col("dy")).as("sxy"))
      val mD = col("m").cast("double")
      val sxD = col("sx").cast("double")
      val num = mD * col("sxy").cast("double") - sxD * sxD
      val den = mD * col("sx2").cast("double") - sxD * sxD
      // a REGULAR graph (the saturated fixture co-occurrence graph at
      // larger SF is complete: every degree equal) has zero degree
      // variance — assortativity is undefined; NULL, not a 0/0 error
      m.select(col("m"), col("sx"), col("sx2"), col("sxy"),
        when(den === 0.0, lit(null).cast("double"))
          .otherwise(round(num / den, 6)).as("assortativity"))
    }
  )

  // -------------------------------------------------------------- oracles

  private def graphCtes =
    s"""tok AS (SELECT doc_id, ${TextHash.toksSql("text")} AS t FROM documents),
       |adjp AS (SELECT unnest(list_transform(range(1, len(t)),
       |    i -> struct_pack(a := t[i], b := t[i+1]))) AS p FROM tok),
       |adj AS (SELECT p.a AS a, p.b AS b FROM adjp WHERE p.a <> p.b),
       |und AS (SELECT a AS src, b AS dst FROM adj UNION ALL SELECT b, a FROM adj),
       |edges AS (SELECT src, dst, count(*) AS w FROM und GROUP BY 1, 2)""".stripMargin

  /** Unrolled HITS oracle: MATERIALIZED round CTEs (the lpSql lesson —
    * un-hinted plans re-inline every round exponentially), HUGEINT mass
    * sums, per-round max rescale mirroring [[hits]] term for term.
    */
  private def hitsSql: String = {
    val head =
      s"""WITH tok AS (SELECT doc_id, ${TextHash.toksSql("text")} AS t FROM documents),
         |adjp AS (SELECT unnest(list_transform(range(1, len(t)),
         |    i -> struct_pack(a := t[i], b := t[i+1]))) AS p FROM tok),
         |edges AS MATERIALIZED (SELECT p.a AS src, p.b AS dst, count(*) AS w
         |  FROM adjp WHERE p.a <> p.b GROUP BY 1, 2),
         |nodes AS MATERIALIZED (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
         |h0 AS (SELECT node, CAST($Scale AS BIGINT) AS h FROM nodes)""".stripMargin
    val rounds = (1 to HitsRounds).map { k =>
      s""",
         |a${k}r AS MATERIALIZED (SELECT e.dst AS node,
         |    sum(CAST(r.h AS HUGEINT) * e.w) AS s
         |  FROM h${k - 1} r JOIN edges e ON r.node = e.src GROUP BY 1),
         |a$k AS MATERIALIZED (SELECT node,
         |    CAST((s * $Scale) // (SELECT max(s) FROM a${k}r) AS BIGINT) AS a
         |  FROM a${k}r),
         |h${k}r AS MATERIALIZED (SELECT e.src AS node,
         |    sum(CAST(r.a AS HUGEINT) * e.w) AS s
         |  FROM a$k r JOIN edges e ON r.node = e.dst GROUP BY 1),
         |h$k AS MATERIALIZED (SELECT node,
         |    CAST((s * $Scale) // (SELECT max(s) FROM h${k}r) AS BIGINT) AS h
         |  FROM h${k}r)""".stripMargin
    }.mkString
    head + rounds +
      s"""
         |SELECT nodes.node, coalesce(h.h, 0) AS hub,
         |  coalesce(a.a, 0) AS authority
         |FROM nodes LEFT JOIN h$HitsRounds h ON nodes.node = h.node
         |  LEFT JOIN a$HitsRounds a ON nodes.node = a.node
         |ORDER BY authority DESC, nodes.node""".stripMargin
  }

  private def pagerankSql: String = {
    val head =
      s"""WITH $graphCtes,
         |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM edges GROUP BY 1),
         |nn AS (SELECT count(DISTINCT src) AS n FROM edges),
         |r0 AS (SELECT DISTINCT src AS node, (SELECT $Scale // n FROM nn) AS rank FROM edges)""".stripMargin
    val iters = (1 to Iters).map { k =>
      s""",
         |r$k AS (SELECT e.dst AS node,
         |  (SELECT ($TeleNum * ($Scale // n)) // 100 FROM nn)
         |    + ($DampNum * sum((r.rank * e.w) // o.out_w)) // 100 AS rank
         |  FROM r${k - 1} r JOIN edges e ON r.node = e.src JOIN outw o ON o.src = r.node
         |  GROUP BY e.dst)""".stripMargin
    }.mkString
    head + iters +
      s"\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r$Iters ORDER BY rank DESC, node"
  }

  /** Unrolled personalized PageRank — the [[personalizedPagerank]] mirror:
    * restart mass only at the seed set, full-outer re-injection per round.
    */
  private def pprSql: String = {
    val seedList = TextAnalysis.langSignatures.toMap.apply("en")
      .map(w => s"'$w'").mkString(", ")
    val head =
      s"""WITH $graphCtes,
         |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM edges GROUP BY 1),
         |sd AS (SELECT DISTINCT src AS node FROM edges WHERE src IN ($seedList)),
         |ns AS (SELECT count(*) AS n FROM sd),
         |r0 AS (SELECT node, (SELECT $Scale // n FROM ns) AS rank FROM sd)""".stripMargin
    val iters = (1 to Iters).map { k =>
      s""",
         |r$k AS (SELECT coalesce(c.node, s.node) AS node,
         |    coalesce(s.tele, 0) + ($DampNum * coalesce(c.csum, 0)) // 100 AS rank
         |  FROM (SELECT e.dst AS node,
         |        CAST(sum((r.rank * e.w) // o.out_w) AS BIGINT) AS csum
         |      FROM r${k - 1} r JOIN edges e ON r.node = e.src
         |        JOIN outw o ON o.src = r.node
         |      GROUP BY e.dst) c
         |  FULL JOIN (SELECT node,
         |        (SELECT ($TeleNum * ($Scale // n)) // 100 FROM ns) AS tele
         |      FROM sd) s ON s.node = c.node)""".stripMargin
    }.mkString
    head + iters +
      s"\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r$Iters ORDER BY rank DESC, node"
  }

  /** Unrolled synchronous LPA: round CTEs are MATERIALIZED so DuckDB
    * evaluates each exactly once (the un-hinted plan re-inlines every
    * round into the next — exponential).
    */
  private def lpSql(finalSelect: String): String = {
    val head =
      s"""WITH ${Dedup.sigCtes("documents")},
         |pairs AS MATERIALIZED (${Dedup.minhashPairsSqlSelect}),
         |lpb AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst, CAST(est_jaccard * 32 AS BIGINT) AS w FROM pairs
         |  UNION ALL
         |  SELECT doc_b, doc_a, CAST(est_jaccard * 32 AS BIGINT) FROM pairs),
         |lpe AS MATERIALIZED (
         |  SELECT src, dst, w FROM lpb
         |  UNION ALL
         |  SELECT src, src, max(w) FROM lpb GROUP BY src),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lab FROM lpb)""".stripMargin
    val iters = (1 to LpRounds).map { k =>
      s""",
         |l$k AS MATERIALIZED (SELECT id, lab FROM (
         |  SELECT e.dst AS id, l.lab, sum(e.w) AS vw,
         |    row_number() OVER (PARTITION BY e.dst
         |                       ORDER BY sum(e.w) DESC, l.lab) AS rn
         |  FROM lpe e JOIN l${k - 1} l ON l.id = e.src
         |  GROUP BY e.dst, l.lab) WHERE rn = 1)""".stripMargin
    }.mkString
    s"$head$iters\n$finalSelect"
  }

  val oracles: Map[String, String] = Map(
    "graph_textrank" -> pagerankSql,

    "graph_ppr_stopwords" -> pprSql,

    "graph_hits" -> hitsSql,

    "graph_lp_communities" -> lpSql(
      s"SELECT id AS doc_id, lab AS community FROM l$LpRounds ORDER BY doc_id"),

    "graph_lp_sizes" -> lpSql(
      s"""SELECT lab AS community, count(*) AS n_members FROM l$LpRounds
         |GROUP BY lab ORDER BY n_members DESC, community""".stripMargin),

    // continues lpSql's WITH chain (leading comma) with the modularity
    // moments over the self-loop-free lpb edge list
    "graph_modularity" -> lpSql(
      s""", st AS (SELECT src, CAST(sum(w) AS BIGINT) AS s FROM lpb GROUP BY src),
         |sc AS (SELECT l.lab, CAST(sum(st.s) AS BIGINT) AS sc
         |  FROM st JOIN l$LpRounds l ON st.src = l.id GROUP BY l.lab),
         |wt AS (SELECT CAST(sum(w) AS BIGINT) AS w_total FROM lpb),
         |ii AS (SELECT CAST(sum(CASE WHEN la.lab = lb.lab THEN w ELSE 0 END)
         |    AS BIGINT) AS sum_intra
         |  FROM lpb JOIN l$LpRounds la ON lpb.src = la.id
         |           JOIN l$LpRounds lb ON lpb.dst = lb.id),
         |ss AS (SELECT count(*) AS n_communities,
         |    CAST(sum(sc*sc) AS BIGINT) AS sum_s2 FROM sc)
         |SELECT n_communities, w_total, sum_intra, sum_s2,
         |  round(CAST(sum_intra AS DOUBLE) / CAST(w_total AS DOUBLE)
         |    - CAST(sum_s2 AS DOUBLE)
         |      / (CAST(w_total AS DOUBLE) * CAST(w_total AS DOUBLE)), 6)
         |    AS modularity
         |FROM ss CROSS JOIN wt CROSS JOIN ii""".stripMargin),

    "graph_degree_stats" ->
      s"""WITH $graphCtes
         |SELECT src AS node, count(*) AS degree, CAST(sum(w) AS BIGINT) AS wdegree
         |FROM edges GROUP BY src ORDER BY wdegree DESC, node""".stripMargin,

    "graph_assortativity" ->
      s"""WITH $graphCtes,
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |j AS (SELECT a.deg AS dx, b.deg AS dy
         |  FROM edges e JOIN deg a ON e.src = a.src JOIN deg b ON e.dst = b.src),
         |mm AS (SELECT count(*) AS m, CAST(sum(dx) AS BIGINT) AS sx,
         |    CAST(sum(dx*dx) AS BIGINT) AS sx2,
         |    CAST(sum(dx*dy) AS BIGINT) AS sxy FROM j)
         |SELECT m, sx, sx2, sxy,
         |  CASE WHEN CAST(m AS DOUBLE) * CAST(sx2 AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0 THEN NULL
         |  ELSE round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |    / (CAST(m AS DOUBLE) * CAST(sx2 AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) END AS assortativity
         |FROM mm""".stripMargin,

    "graph_triangles" ->
      s"""WITH $graphCtes,
         |e AS (SELECT src, dst FROM edges WHERE src < dst),
         |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |  FROM e e1 JOIN e e2 ON e1.dst = e2.src
         |    JOIN e e3 ON e1.src = e3.src AND e2.dst = e3.dst),
         |nt AS (SELECT count(*) AS n_triangles FROM tri),
         |ne AS (SELECT count(*) AS n_edges FROM e),
         |nn AS (SELECT count(DISTINCT src) AS n_nodes FROM edges),
         |wg AS (SELECT CAST(sum(deg*(deg-1)//2) AS BIGINT) AS n_wedges
         |  FROM (SELECT count(*) AS deg FROM edges GROUP BY src))
         |SELECT n_nodes, n_edges, n_triangles, n_wedges,
         |  round(3.0*CAST(n_triangles AS DOUBLE)/CAST(n_wedges AS DOUBLE), 6)
         |    AS clustering_coeff
         |FROM nn CROSS JOIN ne CROSS JOIN nt CROSS JOIN wg""".stripMargin,

    "graph_node_triangles" ->
      s"""WITH $graphCtes,
         |e AS (SELECT src, dst FROM edges WHERE src < dst),
         |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |  FROM e e1 JOIN e e2 ON e1.dst = e2.src
         |    JOIN e e3 ON e1.src = e3.src AND e2.dst = e3.dst),
         |corners AS (SELECT a AS node FROM tri UNION ALL
         |  SELECT b FROM tri UNION ALL SELECT c FROM tri)
         |SELECT node, count(*) AS n_tri FROM corners
         |GROUP BY node ORDER BY n_tri DESC, node LIMIT 20""".stripMargin,

    "graph_triangles_by_degree" ->
      s"""WITH $graphCtes,
         |deg AS (SELECT src AS v, count(*) AS dg FROM edges GROUP BY src),
         |eo AS (SELECT e.src, e.dst FROM edges e
         |  JOIN deg da ON e.src = da.v JOIN deg db ON e.dst = db.v
         |  WHERE da.dg < db.dg OR (da.dg = db.dg AND e.src < e.dst)),
         |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |  FROM eo e1 JOIN eo e2 ON e1.dst = e2.src
         |    JOIN eo e3 ON e1.src = e3.src AND e2.dst = e3.dst),
         |nt AS (SELECT count(*) AS n_triangles FROM tri),
         |ne AS (SELECT count(*) AS n_edges FROM eo),
         |nn AS (SELECT count(DISTINCT src) AS n_nodes FROM edges),
         |wg AS (SELECT CAST(sum(deg*(deg-1)//2) AS BIGINT) AS n_wedges
         |  FROM (SELECT count(*) AS deg FROM edges GROUP BY src))
         |SELECT n_nodes, n_edges, n_triangles, n_wedges,
         |  round(3.0*CAST(n_triangles AS DOUBLE)/CAST(n_wedges AS DOUBLE), 6)
         |    AS clustering_coeff
         |FROM nn CROSS JOIN ne CROSS JOIN nt CROSS JOIN wg""".stripMargin,

    "graph_local_clustering" ->
      s"""WITH $graphCtes,
         |e AS (SELECT src, dst FROM edges WHERE src < dst),
         |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |  FROM e e1 JOIN e e2 ON e1.dst = e2.src
         |    JOIN e e3 ON e1.src = e3.src AND e2.dst = e3.dst),
         |corners AS (SELECT a AS node FROM tri UNION ALL
         |  SELECT b FROM tri UNION ALL SELECT c FROM tri),
         |pn AS (SELECT node, count(*) AS n_tri FROM corners GROUP BY node),
         |dg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)
         |SELECT dg.src AS node, dg.deg,
         |  COALESCE(pn.n_tri, 0) AS n_tri,
         |  round(CAST(COALESCE(pn.n_tri, 0) AS DOUBLE)
         |    / (dg.deg * (dg.deg - 1) / 2), 6) AS local_cc
         |FROM dg LEFT JOIN pn ON dg.src = pn.node
         |WHERE dg.deg >= 2
         |ORDER BY local_cc DESC, node LIMIT 20""".stripMargin,

    // MATERIALIZED is load-bearing: e_i is referenced by k_{i+1} and
    // e_{i+1} (and k_i twice by e_i) — inlined, the expansion grows 3^R
    // and the oracle never finishes.
    "graph_kcore" -> {
      val peel = (1 to CoreRounds).map { i =>
        s""",
           |k$i AS MATERIALIZED (SELECT src AS v FROM e${i - 1} GROUP BY src
           |  HAVING count(*) >= $CoreK),
           |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
           |  JOIN k$i a ON e.src = a.v JOIN k$i b ON e.dst = b.v)""".stripMargin
      }.mkString
      s"""WITH $graphCtes,
         |e0 AS MATERIALIZED (SELECT src, dst FROM edges)$peel
         |SELECT src AS node, count(*) AS core_degree FROM e$CoreRounds
         |GROUP BY src ORDER BY core_degree DESC, node""".stripMargin
    },

    "graph_bfs_levels" ->
      s"""WITH RECURSIVE $graphCtes,
         |seed AS (SELECT min(src) AS id FROM edges),
         |bfs AS (SELECT id, 0 AS level FROM seed
         |  UNION SELECT e.dst, b.level + 1 FROM bfs b
         |    JOIN edges e ON e.src = b.id WHERE b.level < $BfsRounds)
         |SELECT id AS node, CAST(min(level) AS INTEGER) AS level FROM bfs
         |GROUP BY id ORDER BY level, node""".stripMargin
  )
}
