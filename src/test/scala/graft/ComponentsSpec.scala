package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.LongType
import graft.operators.{Components, Dedup}

/** Connected components: known graphs and a seeded random-graph property
  * against a brute-force union-find, each run through the public entry
  * (which labels these small graphs on the driver) and through the
  * distributed round loop; parity of the two kernels on schema, foreign
  * endpoints and NULL endpoints; the deep-path case that would defeat
  * plain min-label propagation (proving the pointer-jump round bound); and
  * the fixture-level invariants of the oracled queries.
  */
class ComponentsSpec extends SparkSpecBase {
  import spark.implicits._

  private type Kernel = (DataFrame, DataFrame, Int) => DataFrame
  private val public: Kernel = Components.connectedComponents(_, _, _)
  private val rounds: Kernel = Components.connectedComponentsRounds(_, _, _)
  private val kernels = Seq("connectedComponents" -> public, "round loop" -> rounds)

  private def cc(kernel: Kernel, nodes: Seq[Long], edges: Seq[(Long, Long)],
                 maxRounds: Int = 50): Map[Long, Long] =
    kernel(nodes.toDF("id"), edges.toDF("src", "dst"), maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Rows of `df` as (id, cc) options, sorted: NULL-safe and order-free. */
  private def rowsOf(df: DataFrame): Seq[(Option[Long], Option[Long])] = {
    def at(r: Row, i: Int) = if (r.isNullAt(i)) None else Some(r.getAs[Number](i).longValue)
    df.collect().toSeq.map(r => (at(r, 0), at(r, 1))).sorted
  }

  private def asRows(labels: Map[Long, Long]): Seq[(Option[Long], Option[Long])] =
    labels.toSeq.map { case (v, c) => (Option(v), Option(c)) }.sorted

  /** Both kernels on the same inputs: identical schema and rows. Returns
    * the public entry's result.
    */
  private def assertParity(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val (a, b) = (public(nodes, edges, 50), rounds(nodes, edges, 50))
    assert(a.schema === b.schema)
    assert(rowsOf(a) === rowsOf(b))
    a
  }

  /** Reference implementation: path-compressed union-find. */
  private def bruteCc(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(v => v -> v): _*)
    def find(v: Long): Long = {
      var r = v
      while (parent(r) != r) r = parent(r)
      var c = v
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // root at the minimum id: union always hangs the larger root under the
    // smaller, so find() already returns the component min
    nodes.map(v => v -> find(v)).toMap
  }

  test("known graph: chain + pair + isolated node") {
    kernels.foreach { case (name, k) =>
      val got = cc(k, Seq(1L, 2L, 3L, 4L, 5L, 6L), Seq((1L, 2L), (2L, 3L), (5L, 6L)))
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L), name)
      assert(got === bruteCc(1L to 6L, Seq((1L, 2L), (2L, 3L), (5L, 6L))), name)
    }
  }

  test("empty edge set: every node is its own component") {
    kernels.foreach { case (name, k) =>
      val got = cc(k, Seq(10L, 20L, 30L), Seq.empty)
      assert(got === Map(10L -> 10L, 20L -> 20L, 30L -> 30L), name)
      assert(got === bruteCc(Seq(10L, 20L, 30L), Seq.empty), name)
    }
  }

  test("deep path (64 nodes) converges within the O(log n) round budget") {
    val nodes = (1L to 64L)
    val edges = (1L until 64L).map(v => (v, v + 1))
    // plain min-propagation would need 63 rounds; pointer jumping must land
    // well under the 12-round cap (2*log2(64) = 12)
    val got = cc(rounds, nodes, edges, maxRounds = 12)
    assert(got === nodes.map(_ -> 1L).toMap)
  }

  test("property: matches union-find on random graphs (seeded)") {
    val rng = new scala.util.Random(7)
    (1 to 12).foreach { _ =>
      val n = 1 + rng.nextInt(24)
      val nodes = (1L to n.toLong).toList
      val edges = List.fill(rng.nextInt(31)) {
        (1L + rng.nextInt(n), 1L + rng.nextInt(n))
      }.filter { case (a, b) => a != b }
      kernels.foreach { case (name, k) =>
        assert(cc(k, nodes, edges) === bruteCc(nodes, edges), name)
      }
    }
  }

  test("kernel parity: an edge endpoint absent from nodes joins in as a node") {
    val edges = Seq((2L, 9L), (9L, 12L), (20L, 21L))
    val got = assertParity(Seq(1L, 2L, 3L).toDF("id"), edges.toDF("src", "dst"))
    assert(rowsOf(got) === asRows(bruteCc(Seq(1L, 2L, 3L, 9L, 12L, 20L, 21L), edges)))
  }

  test("kernel parity: Int edges with Long nodes give the same schema and rows") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val edges = Seq((1, 2), (2, 3), (7, 5)).toDF("src", "dst")
    val got = assertParity(nodes, edges)
    assert(got.schema.map(_.dataType) === Seq(LongType, LongType))
    assert(rowsOf(got) === asRows(Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 7L -> 5L)))
  }

  test("kernel parity: a NULL edge endpoint links nothing") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(3L), None), (None, Some(5L)), (None, None),
      (Some(5L), Some(6L))).toDF("src", "dst")
    val rows = rowsOf(assertParity(nodes, edges))
    // the non-NULL rows are the components of the non-NULL edges alone
    assert(rows.filter(_._1.nonEmpty) === asRows(bruteCc(1L to 6L, Seq((1L, 2L), (5L, 6L)))))
  }

  test("dedup_components: every minhash pair is intra-component; labels are component minima") {
    val comp = SparkEntry.queries("dedup_components")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.minhashPairs(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture should contain near-dup pairs")
    pairs.foreach { case (a, b) => assert(comp(a) === comp(b)) }
    // the label IS the min member id of its component
    comp.groupBy(_._2).foreach { case (label, members) =>
      assert(members.keys.min === label)
    }
    // and matches union-find over the same edge set
    assert(comp === bruteCc(comp.keys.toSeq, pairs.toSeq))
  }

  test("dedup_cluster_keep: one row per component, keeps the best-quality member") {
    val keep = SparkEntry.queries("dedup_cluster_keep")(spark, sfDir).collect()
    val comp = SparkEntry.queries("dedup_components")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keep.map(_.getLong(0)).toSet === comp.values.toSet)
    val sizes = comp.groupBy(_._2).view.mapValues(_.size).toMap
    keep.foreach { r =>
      assert(r.getLong(2) === sizes(r.getLong(0)).toLong)
      assert(comp(r.getLong(1)) === r.getLong(0)) // rep belongs to its cluster
    }
  }

  test("dedup_quality_bias: counts reconcile with cluster-keep; keep-best policy shows a gap") {
    val r = SparkEntry.queries("dedup_quality_bias")(spark, sfDir).head()
    val nKeep = SparkEntry.queries("dedup_cluster_keep")(spark, sfDir).count()
    val nDocs = graft.Tables.documents(spark, sfDir).count()
    assert(r.getLong(0) == nKeep, "kept = one representative per component")
    assert(r.getLong(0) + r.getLong(1) == nDocs, "kept + dropped partition the corpus")
    assert(r.getLong(1) > 0, "fixture must have dropped duplicates")
    // means recompute from the component + quality relations
    val comp = SparkEntry.queries("dedup_components")(spark, sfDir)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val qual = graft.operators.TextAnalysis
      .queries("text_stats")(spark, sfDir).collect()
      .map(x => x.getLong(0) -> x.getDouble(6)).toMap
    val best = comp.groupBy(_._2).view.mapValues(ms =>
      ms.keys.minBy(id => (-qual(id), id))).toMap
    val kept = comp.keys.filter(id => best(comp(id)) == id).toSeq
    val dropped = comp.keys.filterNot(id => best(comp(id)) == id).toSeq
    def mean(ids: Seq[Long]) = ids.map(qual).sum / ids.length
    assert(math.abs(r.getDouble(2) - mean(kept)) < 1e-5)
    assert(math.abs(r.getDouble(3) - mean(dropped)) < 1e-5)
  }

  test("corpus_split_component: zero leakage — every near-dup pair stays in one split") {
    val split = SparkEntry.queries("corpus_split_component")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val pairs = Dedup.minhashPairs(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    Graft.releaseCaches(spark)
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) => assert(split(a)._2 == split(b)._2) }
    // still a genuine 3-way partition (all splits populated at sf0.001)
    assert(split.values.map(_._2).toSet == Set("train", "validation", "test"))
    // assignment is the component-keyed hash, not accidental
    split.values.foreach { case (cid, sp) => assert(sp.nonEmpty && cid >= 0) }
  }
}
