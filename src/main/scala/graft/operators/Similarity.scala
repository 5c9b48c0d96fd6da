package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Graft.{fill, persist}
import graft.Tables._
import TextHash._

/** Approximate-nearest-neighbor search over the `embeddings` fixture
  * (64-dim float vectors). Two paths:
  *
  *   - `ann_cosine_topk`: brute-force cosine top-k — the correctness
  *     baseline. The query set is broadcast against a distributed scan of
  *     the candidates, so even "brute force" is shuffle-free at scale
  *     (cost = one pass over the corpus per query batch).
  *   - `ann_lsh_topk`: random-hyperplane signs -> 2^NumPlanes buckets;
  *     top-k is computed only within the query vector's bucket. The bucket
  *     join is an equi-join on the bucket id — the 100 TB shape (the corpus
  *     is shuffled/bucketed once; each query touches only its bucket).
  *
  * Hyperplanes are deterministic literals (seed 42), embedded identically
  * into the Spark plan and the DuckDB oracle; all dot products are
  * sequential double folds (TextHash.dot) so cosines agree bit-for-bit.
  * Ranking uses round(cos, 6) with vec_id tie-break — deterministic in
  * both engines.
  */
object Similarity {

  val Dim = 64
  // 2^NumPlanes buckets; sized so fixture buckets hold ~8 vectors (at 100 TB
  // you'd raise this with corpus size to keep per-bucket candidate counts flat).
  val NumPlanes = 6
  val K = 5
  /** Query subset for the fixtures: first 10 vectors. */
  val QuerySet = 10

  /** Hard negatives packed per contrastive training example. */
  val NegK = 3
  /** Examples per contrastive batch. */
  val BatchB = 32

  /** Deterministic hyperplanes for ANY plane count (seed 42, 6-dp-rounded
    * so SQL literals parse back to the exact double; sequential draws, so
    * planesFor(m).take(n) == planesFor(n) for n <= m — growing the key
    * only APPENDS planes). This is the kNN-graph occupancy knob: at N
    * vectors, numPlanes ~ log2(N / target bucket size) keeps per-bucket
    * pair counts flat (the same rule as [[pairPlanesFor]]; the fixture's
    * 6 planes give ~8-vector buckets at 500 vectors, ~625 at 40k —
    * SCALEPROBE.md).
    */
  def planesFor(n: Int): Array[Array[Double]] = {
    val r = new scala.util.Random(42)
    Array.fill(n, Dim)(math.rint(r.nextGaussian() * 1e6) / 1e6)
  }

  /** Deterministic hyperplanes, rounded to 6 dp so the SQL literal parses
    * back to the exact same double.
    */
  lazy val planes: Array[Array[Double]] = planesFor(NumPlanes)

  /** numPlanes-bit LSH bucket under an explicit plane set (LONG-typed:
    * keys up to 62 bits).
    */
  private def bucketOf(e: Column, numPlanes: Int,
                       ps: Array[Array[Double]]): Column =
    (0 until numPlanes).map { j =>
      when(dot(e, array(ps(j).map(lit): _*)) >= 0.0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-blocked corpus kNN edges over ANY (vec_id, e) relation with an
    * explicit bucket width — the 100 TB entry point behind ann_knn_graph
    * (which keeps the fixture's NumPlanes for the oracle). Cosines are
    * exact within a bucket, so numPlanes trades RECALL and bucket-pair
    * cost only; per-node top-k rides the GroupTopK rewrite as in the
    * fixture query.
    */
  /** [[knnGraphOn]] with the bucket width DERIVED from a corpus-size hint
    * via the measured log2 occupancy rule ([[planesForCorpus]]) — the
    * overload a 100 TB caller should reach for so fixture-scale geometry
    * never silently ships. Hint-derived geometry is exactly
    * `knnGraphOn(vecs, k, planesForCorpus(n))` (SimilaritySpec locks the
    * equality), and plane growth is prefix-compatible (planesFor law).
    */
  def knnGraphSized(vecs: DataFrame, n: Long, k: Int = K): DataFrame =
    knnGraphOn(vecs, k, planesForCorpus(n))

  def knnGraphOn(vecs: DataFrame, k: Int = K,
                 numPlanes: Int = NumPlanes): DataFrame = {
    require(numPlanes >= 1 && numPlanes <= 62,
      s"numPlanes must be in [1, 62] (Long key bits), got $numPlanes")
    val ps = planesFor(numPlanes)
    val b = vecs.select(col("vec_id"), col("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      .withColumn("bkt", bucketOf(col("e"), numPlanes, ps))
    val q = b.select(col("vec_id").as("q_id"), col("e").as("qe"),
      col("nrm").as("qn"), col("bkt").as("qb"))
    val c = b.select(col("vec_id").as("cand_id"), col("e").as("ce"),
      col("nrm").as("cn"), col("bkt").as("cb"))
    ranked(q.join(c, col("qb") === col("cb") && col("q_id") =!= col("cand_id")), k)
  }

  private def planeLit(j: Int): Column = array(planes(j).map(lit): _*)

  private def planeSqlList(j: Int): String =
    planes(j).mkString("[", ", ", "]")

  /** NumPlanes-bit LSH bucket: bit j = sign of dot(e, plane_j). */
  private def bucket(e: Column): Column =
    (0 until NumPlanes).map { j =>
      when(dot(e, planeLit(j)) >= 0.0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  private def bucketSql(e: String): String =
    (0 until NumPlanes).map { j =>
      s"CASE WHEN ${dotSql(e, planeSqlList(j), Dim)} >= 0.0 THEN ${1 << j} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** Every XOR probe mask touching at most `radius` of the low `bits` sign
    * bits, ascending (deterministic order; mask 0 = the query's own
    * bucket). Probing all masks of radius r over a `bits`-bit prefix key
    * covers every bucket within Hamming distance r — the recall/cost dial
    * `ann_recall_frontier` measures: candidate volume ~ corpus *
    * n_masks / 2^bits, recall rises with both fewer bits and larger r.
    */
  private[operators] def probeMasks(bits: Int, radius: Int): Seq[Int] =
    (0 until (1 << bits)).filter(m => Integer.bitCount(m) <= radius)

  /** (bits, radius) operating points `ann_recall_frontier` measures:
    * radius sweep at the full 6-bit key plus coarser 4-bit points.
    */
  val FrontierGrid: Seq[(Int, Int)] =
    Seq((6, 0), (6, 1), (6, 2), (6, 3), (4, 1), (4, 2))

  /** Multi-probe DEFAULTS, adopted from the measured frontier (the
    * `ann_recall_frontier` rows are the recorded evidence): probe every
    * bucket within Hamming radius [[MultiProbeRadius]] of the query's
    * [[MultiProbeBits]]-bit prefix key. Measured recall@5: 0.82 (sf0.01)
    * / 0.78 (sf0.1) — vs 0.14 for the previous radius-1 full-key probe —
    * at the best recall-per-candidate of any ≥0.5 grid point. On the
    * fixture's tiny key space that is ~2/3 of the corpus per query; at
    * real scale the key grows with log2(N) (scaling rule above) and the
    * same radius probes a vanishing fraction.
    */
  val MultiProbeBits = 4
  val MultiProbeRadius = 2

  /** LSH key width for a corpus of `n` vectors from the MEASURED
    * occupancy rule (SCALEPROBE.md, r9): per-bucket candidate pairs stay
    * flat when the key carries ~log2(n / targetBucket) bits — the r9
    * probe measured the fixture's fixed 4-bit band keys at 40k vectors
    * producing ~50M candidate pairs / 6.1 GB shuffle (162.7 s) vs 22.5 MB
    * and 37.4 s with the log2-rule's 13-bit keys. Clamped to [1, 62]
    * (Long key bits); n below one bucket degenerates to 1 bit.
    */
  def planesForCorpus(n: Long, targetBucket: Long = 8L): Int = {
    require(n > 0 && targetBucket > 0, s"need positive sizes: n=$n bucket=$targetBucket")
    // Integer-exact form of ceil(log2(max(2, n/targetBucket))) clamped to
    // [1, 62]: the smallest b >= 1 with targetBucket * 2^b >= n. Same law
    // as the float version at every input (ceil(log2(ceil(x))) ==
    // ceil(log2(x)) for x > 1 since the bracketing powers of 2 are
    // integers) but with no log-of-a-power-of-two rounding hazard — the
    // DuckDB oracle of the sized queries replicates this exact loop as
    // list_min(list_filter(range(1, 63), b -> (1 << b) >= q)).
    val q = (n - 1) / targetBucket + 1 // ceil(n / targetBucket), no overflow
    var b = 1
    while (b < 62 && (1L << b) < q) b += 1
    b
  }

  /** Plane cap for the SIZED-geometry oracles (`ann_knn_graph_sized`,
    * `dedup_embedding_cosine_sized`): their static SQL embeds this many
    * planes (per band, for the pair query), so the data-driven
    * pb = planesForCorpus(count(*)) law replays up to corpora of
    * 8 * 2^OraclePlanesCap = 8192 vectors — both fixture SFs (500 -> 6
    * bits, 2000 -> 8 bits) with headroom. Beyond the cap the oracle
    * THROWS (DuckDB error()) instead of silently indexing planes out of
    * range; the ENGINE has no such cap (planesForCorpus clamps at 62).
    */
  val OraclePlanesCap = 10

  /** CTE (no WITH) computing `par(pb)` = planesForCorpus(count(*)) of the
    * embeddings relation in DuckDB — the integer law replicated verbatim:
    * smallest b in [1, 62] with 2^b >= ceil(n / 8), capped loudly.
    */
  private[operators] def sizedPbCteSql: String =
    s"""par AS (
       |  SELECT CASE WHEN pb > $OraclePlanesCap
       |    THEN CAST(error('corpus exceeds sized-oracle plane cap') AS INT)
       |    ELSE pb END AS pb
       |  FROM (SELECT CAST(COALESCE(list_min(list_filter(range(1, 63),
       |      b -> (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) >= (count(*) + 7) // 8)),
       |    62) AS INT) AS pb FROM embeddings))""".stripMargin

  /** Flat list-of-lists SQL literal for a plane (or any double-matrix)
    * set — embedded ONCE and indexed by the data-driven geometry, unlike
    * the fixture oracles' per-plane unrolled dot products.
    */
  private[operators] def planesSqlLit(ps: Array[Array[Double]]): String =
    ps.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")

  /** DuckDB expression for the low-`pbExpr`-bit sign key of `e` over the
    * flat plane list `p` starting at plane offset `offExpr` (0-based):
    * bit j = sign of dot(e, p[off + j]), matching [[pairBandKeyOf]] /
    * [[bucketOf]] bit-for-bit (list_sum(list_transform(...)) is the same
    * left-to-right double fold as graft_dot — the dotSql contract).
    */
  private[operators] def sizedKeySql(e: String, offExpr: String,
                                     pbExpr: String): String =
    s"""list_sum(list_transform(range(0, $pbExpr), j ->
       |    CASE WHEN list_sum(list_transform(range(1, ${Dim + 1}),
       |        i -> CAST($e[i] AS DOUBLE) * pl.p[$offExpr + CAST(j AS INTEGER) + 1][i])) >= 0.0
       |      THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
       |      ELSE CAST(0 AS BIGINT) END))""".stripMargin

  // ------------------------------------------------------------------
  // Banded hyperplane geometry for pairwise near-dup candidate generation
  // (Dedup.dedup_embedding_cosine). Minhash-style banding over sign bits:
  // a pair is a candidate iff ALL plane signs agree in at least one band.
  // 16 bands x 4 planes: a cos 0.98 near-dup collides with probability
  // ~1 - 7e-11; a borderline cos 0.4 pair with ~0.94 — tune bands up for
  // higher recall at the cost of more candidates.
  //
  // SCALING RULE (the constants below are fixture-tuned): a band key has
  // `planesPerBand` bits, so random pairs collide per band with ~2^-r —
  // candidate volume is ~bands * N^2 / 2^r. To keep it linear-ish in N,
  // grow planesPerBand with log2(N) (r ~ log2(N) - log2(avg bucket size))
  // and add bands to buy back recall; at a true NEAR-DUP threshold
  // (cos >= 0.8, p_plane >= 0.8) each extra plane costs little recall.
  // The fixture query deliberately keeps a low 0.4 threshold to exercise
  // the verification join, which is why r stays at 4 here.
  // ------------------------------------------------------------------
  val PairBands = 16
  val PairPlanesPerBand = 4

  /** Deterministic banded planes for ANY (bands, planesPerBand) geometry
    * (seed 7, 6-dp-rounded like [[planes]]); the (PairBands,
    * PairPlanesPerBand) instance is [[pairPlanes]]. The generalization is
    * the scaling rule made callable: at N vectors, planesPerBand ~
    * log2(N / target bucket size) keeps per-bucket candidate counts flat
    * (SCALEPROBE.md records the fixture geometry's 40k-vector cliff).
    */
  def pairPlanesFor(bands: Int, planesPerBand: Int): Array[Array[Double]] =
    graft.functions.LshOps.planes(bands, planesPerBand) // single source (seed 7)

  /** Deterministic banded planes (seed 7), 6-dp-rounded like [[planes]]. */
  lazy val pairPlanes: Array[Array[Double]] =
    pairPlanesFor(PairBands, PairPlanesPerBand)

  /** planesPerBand-bit key of band `b` under an explicit plane set
    * (LONG-typed: geometries up to 62 bits/band).
    */
  // private[graft]: since the LshOps loop kernel took over the query
  // path, the unrolled form's remaining caller is the SimilaritySpec
  // parity pin (kernel == unrolled through a real plan)
  private[graft] def pairBandKeyOf(e: Column, b: Int, planesPerBand: Int,
                                   planes: Array[Array[Double]]): Column =
    (0 until planesPerBand).map { j =>
      val p = array(planes(b * planesPerBand + j).map(lit): _*)
      when(dot(e, p) >= 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  private[operators] def pairBandKeySql(e: String, b: Int): String =
    (0 until PairPlanesPerBand).map { j =>
      val p = pairPlanes(b * PairPlanesPerBand + j).mkString("[", ", ", "]")
      s"CASE WHEN ${dotSql(e, p, Dim)} >= 0.0 THEN ${1 << j} ELSE 0 END"
    }.mkString("(", " + ", ")")

  // ------------------------------------------------------------------
  // IVF-style cells: a fixed set of seeded "centroids"; every vector is
  // assigned to its argmax-dot centroid (coarse quantization), queries
  // probe their top-`IvfProbes` cells. Unlike trained k-means centroids,
  // the seeded ones are deterministic and embeddable in the DuckDB oracle
  // verbatim — the PLUMBING (assignment, multi-probe, cell-local top-k) is
  // the operator under test; swap in trained centroids without touching it.
  // ------------------------------------------------------------------
  /** ADOPTED from the measured (cells, probes) frontier — the oracled
    * `ann_ivf_recall_frontier` rows are the recorded evidence (r10):
    * among grid points reaching recall@5 >= 0.5, (16, 4) has the best
    * recall per candidate at BOTH SFs (sf0.1: 0.52 recall / 5,045
    * candidates = 103e-6, vs 80e-6 for (16, 8) and 66e-6 for (8, 4);
    * sf0.01: 0.56 / 1,374). Doubling probes to 8 buys 0.80 recall at 2x
    * the candidate volume — the dial a recall-critical caller turns.
    */
  val IvfCells = 16
  val IvfProbes = 4

  lazy val centroids: Array[Array[Double]] = {
    val r = new scala.util.Random(99)
    Array.fill(IvfCells, Dim)(math.rint(r.nextGaussian() * 1e6) / 1e6)
  }

  /** Array of the 16 centroid dot products — pure per-row map. */
  private def centroidDots(e: Column): Column =
    array((0 until IvfCells).map { j =>
      dot(e, array(centroids(j).map(lit): _*))
    }: _*)

  private def centroidDotsSql(e: String): String =
    (0 until IvfCells).map { j =>
      dotSql(e, centroids(j).mkString("[", ", ", "]"), Dim)
    }.mkString("[", ", ", "]")

  /** 1-based cell id: FIRST index of the max dot (array_position and
    * DuckDB's list_position both return the first match, so ties — which
    * cannot occur with these centroids anyway — break identically).
    */
  private def cellOf(ds: Column): Column = array_position(ds, array_max(ds))

  /** Mask the winning index to -inf so the next argmax finds the runner-up. */
  private def maskCell(ds: Column, c: Column): Column =
    maskCellN(ds, c, IvfCells)

  /** [[maskCell]] over a dots array of arbitrary length `nc` — the
    * generalization `ann_ivf_recall_frontier` sweeps cell counts with.
    */
  private def maskCellN(ds: Column, c: Column, nc: Int): Column =
    transform(sequence(lit(1), lit(nc)), i =>
      when(i === c, lit(-1e308)).otherwise(element_at(ds, i)))

  /** First-`nc`-centroid dot array (prefix of the seeded centroid set, so
    * growing the cell count only APPENDS cells — same prefix law as
    * [[planesFor]]).
    */
  private def centroidDotsN(e: Column, nc: Int): Column =
    array((0 until nc).map { j =>
      dot(e, array(centroids(j).map(lit): _*))
    }: _*)

  private def centroidDotsSqlN(e: String, nc: Int): String =
    (0 until nc).map { j =>
      dotSql(e, centroids(j).mkString("[", ", ", "]"), Dim)
    }.mkString("[", ", ", "]")

  /** (cells, probes) operating points `ann_ivf_recall_frontier` measures:
    * probe sweep at the full 16-cell set plus a coarser 8-cell column.
    */
  val IvfFrontierGrid: Seq[(Int, Int)] =
    Seq((8, 1), (8, 2), (8, 4), (16, 1), (16, 2), (16, 4), (16, 8))

  // ------------------------------------------------------------------
  // Product quantization (PQ): the 64-dim vector is split into PqBlocks
  // sub-vectors of PqSub dims; each sub-vector is quantized to its nearest
  // of PqK per-block codebook centroids — 8 bytes per vector instead of
  // 256, the memory step an IVF-PQ index runs at 100 TB. Like the IVF
  // cells above, the codebooks are SEEDED deterministic literals so the
  // PLUMBING (blockwise argmin assignment, reconstruction error) is
  // oracle-able verbatim; swap in per-block trained codebooks (a
  // Clustering.lloyd run over each slice) without touching the path.
  // ------------------------------------------------------------------
  val PqBlocks = 8
  val PqSub: Int = Dim / PqBlocks
  val PqK = 16

  /** [block][centroid][subdim], seed 31, 6-dp-rounded like [[planes]].
    * Since r12 the single source of truth lives in
    * [[graft.functions.PqOps]] (the loop-codegen kernel embeds them
    * statically); this alias keeps the oracle-literal builders below and
    * every existing caller on the same arrays.
    */
  lazy val pqCodebooks: Array[Array[Array[Double]]] = graft.functions.PqOps.books

  /** Per-centroid self-dot c·c, computed ONCE here in Scala and embedded
    * as the same literal in both engines — no cross-engine arithmetic.
    */
  lazy val pqCC: Array[Array[Double]] = graft.functions.PqOps.cc

  // ------------------------------------------------------------------
  // Random projection (Johnson-Lindenstrauss): a deterministic Gaussian
  // matrix maps 64-dim embeddings to RpDim=16 dims. At 100 TB this is
  // the cheapest pre-filter there is — 4x less storage and per-pair math
  // than full vectors with distance distortion bounded by JL — and the
  // natural stage-1 of a "filter cheap, re-rank exact" cascade.
  // ------------------------------------------------------------------
  val RpDim = 16
  /** Stage-1 shortlist size for the two-stage rerank search. */
  val RpShortlist = 25

  /** Matryoshka-style prefix truncations audited by `ann_truncate_recall`:
    * top-k search over only the FIRST d dimensions (the storage/compute
    * cascade modern embedding models are trained to support — Kusupati et
    * al., "Matryoshka Representation Learning", NeurIPS 2022). Unlike the
    * JL projection above, truncation needs no matrix multiply at all.
    */
  val TruncDims: Seq[Int] = Seq(8, 16, 32)

  /** [projected dim][input dim], seed 7, 6-dp literals like [[planes]]. */
  lazy val rpPlanes: Array[Array[Double]] = {
    val r = new scala.util.Random(7)
    Array.fill(RpDim, Dim)(math.rint(r.nextGaussian() * 1e6) / 1e6)
  }

  private def rpProject(x: Column): Column =
    array((0 until RpDim).map(j => dot(x, array(rpPlanes(j).map(lit): _*))): _*)

  private def rpProjectSql(x: String): String =
    (0 until RpDim).map(j =>
      dotSql(x, rpPlanes(j).mkString("[", ", ", "]"), Dim))
      .mkString("[", ",\n    ", "]")

  // ------------------------------------------------------------------
  // TRAINED PQ codebooks: the per-block Lloyd run the seeded path above
  // documents as its upgrade. All 8 blocks train in ONE grouped pass —
  // vectors explode into (vec_id, b, slice) block rows once, centroids
  // key on (b, cid), assignment is a broadcast join on b — so a round
  // costs one corpus scan regardless of PqBlocks, and per-round state is
  // codebook-sized (8×16 sub-vectors, driver-folded between rounds — see
  // pqTrain). Centroid updates use the same 1e-9 fixed-point
  // sums as Clustering.lloyd so the unrolled DuckDB training CTEs are
  // bit-identical.
  // ------------------------------------------------------------------
  val PqTrainRounds = 2

  /** (vec_id, b, xs, xx): any (vec_id, x) relation split into per-block
    * sub-vectors — the corpus for plain PQ, residuals for IVF-PQ.
    */
  private def pqBlocksOf(vecs: DataFrame): DataFrame =
    vecs
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${PqBlocks - 1}), " +
          s"b -> named_struct('b', b, 'xs', slice(x, b * $PqSub + 1, $PqSub)))"))
        .as("t"))
      .select(col("vec_id"), col("t.b").as("b"), col("t.xs").as("xs"))
      .withColumn("xx", dot(col("xs"), col("xs")))

  /** [[pqBlocksOf]] over the raw embeddings. */
  private def pqBlocks(s: SparkSession, d: String): DataFrame = {
    graft.Graft.init(s)
    pqBlocksOf(embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("x")))
  }

  /** [[PqTrainRounds]] grouped Lloyd rounds from deterministic seeds (the
    * block slices of vectors 0..PqK-1). Returns (b, cid, c) — clusters
    * that lose every member drop out, mirrored by the oracle.
    */
  private def pqTrain(blocks: DataFrame): DataFrame = {
    val s = blocks.sparkSession
    import s.implicits._
    // Codebooks are O(blocks·k·sub) MODEL STATE held on the DRIVER between
    // rounds (the Clustering.lloyd driver-fold shape — MLlib KMeans' own
    // per-iteration center collect): each round runs ONE distributed job
    // whose result is blocks·k·sub fixed-point longs, never corpus rows.
    // Driver arithmetic replays the Catalyst terms token-for-token
    // ((s9 / n) / 1e9) — codebooks stay bit-identical to the oracle CTEs.
    var cents: Seq[(Int, Long, Seq[Double])] = blocks.where(col("vec_id") < PqK)
      .select(col("b"), col("vec_id").as("cid"), col("xs").as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      .toSeq.sortBy(t => (t._1, t._2))
    def centsDf: DataFrame = cents.toDF("b", "cid", "c")
    for (_ <- 1 to PqTrainRounds) {
      val cc = centsDf.select(col("b"), col("cid"), col("c"),
        dot(col("c"), col("c")).as("cc"))
      cents = blocks.join(broadcast(cc), Seq("b"))
        .withColumn("dist2",
          col("xx") - lit(2.0) * dot(col("xs"), col("c")) + col("cc"))
        .groupBy("vec_id", "b")
        .agg(min(struct(col("dist2"), col("cid"))).as("m"),
          first(col("xs")).as("xs"))
        .select(col("b"), col("m.cid").as("cid"),
          posexplode(col("xs")).as(Seq("pos", "v")))
        .withColumn("v9", round(col("v") * lit(1e9)).cast("long"))
        .groupBy("b", "cid", "pos")
        .agg(sum("v9").as("s9"), count(lit(1)).as("n"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getLong(1)))
        .map { case ((b, cid), rows) =>
          (b, cid, rows.sortBy(_.getInt(2)).toSeq
            .map(r => r.getLong(3).toDouble / r.getLong(4).toDouble / 1e9))
        }
        .toSeq.sortBy(t => (t._1, t._2))
    }
    centsDf
  }

  /** (vec_id, b, code, d2): per-block argmin against the FINAL trained
    * codebooks — (dist2 asc, cid asc), same tie order as the oracle.
    */
  private def pqTrainedCodes(blocks: DataFrame, cents: DataFrame): DataFrame = {
    val cc = cents.select(col("b"), col("cid"), col("c"),
      dot(col("c"), col("c")).as("cc"))
    blocks.join(broadcast(cc), Seq("b"))
      .withColumn("dist2",
        col("xx") - lit(2.0) * dot(col("xs"), col("c")) + col("cc"))
      .groupBy("vec_id", "b")
      .agg(min(struct(col("dist2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("b"), col("m.cid").as("code"),
        col("m.dist2").as("d2"))
  }

  /** CTE block shared by the PQ oracles: defines `d(vec_id, ds0..ds7)`
    * where dsb = the 16 squared centroid distances of block b, mirroring
    * the Spark `dists(b)` expression term-for-term.
    */
  private def pqDistCtes: String = {
    def xsb(b: Int) = s"b$b"
    val slices = (0 until PqBlocks).map { b =>
      s"x[${b * PqSub + 1}:${(b + 1) * PqSub}] AS ${xsb(b)}"
    }.mkString(", ")
    val dsCols = (0 until PqBlocks).map { b =>
      val ds = (0 until PqK).map { j =>
        val c = pqCodebooks(b)(j).mkString("[", ", ", "]")
        s"(${dotSql(xsb(b), xsb(b), PqSub)} - 2.0 * ${dotSql(xsb(b), c, PqSub)} + ${pqCC(b)(j)})"
      }.mkString("[", ",\n    ", "]")
      s"$ds AS ds$b"
    }.mkString(",\n  ")
    s"""x AS (SELECT vec_id,
       |    list_transform(range(1, ${Dim + 1}), i -> CAST(embedding[i] AS DOUBLE)) AS x
       |  FROM embeddings),
       |s AS (SELECT vec_id, $slices FROM x),
       |d AS (SELECT vec_id,
       |  $dsCols
       |  FROM s)""".stripMargin
  }

  /** (vec_id, e: array<double>, nrm) — the shared normalized-embedding
    * projection every cosine path builds on (Dedup's LSH/brute pair paths
    * included; one definition so the cosines stay bit-identical).
    */
  private[operators] def base(s: SparkSession, d: String): DataFrame = {
    graft.Graft.init(s)
    embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
  }

  /** Top-k ranking contract shared by every similarity query (Multimodal's
    * feature top-k included): round-6 cosine from (qe, qn) x (ce, cn),
    * row_number over (cos desc, cand_id) — one definition so the
    * rounding/tie-break parity with the oracles lives in one place.
    */
  private[operators] def ranked(joined: DataFrame, k: Int = K): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
    joined
      .select(col("q_id"), col("cand_id"),
        round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .orderBy("q_id", "rnk")
  }

  /** (anchor_id, pos_id, pos_cos, negs, n_negs): the contrastive example
    * assembly shared by `contrastive_examples` and `contrastive_batches`.
    * The kNN graph feeds both the positive and negative branches, so it
    * is filled (caller releases via Graft.releaseCaches).
    */
  private def contrastiveExamples(s: SparkSession, d: String): DataFrame = {
    val lab = embeddings(s, d).select(col("vec_id"), col("label"))
    val g = knnGraph(s, d)
      .join(lab.select(col("vec_id").as("q_id"), col("label").as("ql")), "q_id")
      .join(lab.select(col("vec_id").as("cand_id"), col("label").as("cl")), "cand_id")
    // the pos and neg window branches read g through two exchange map stages
    fill(g, "Similarity.contrastiveExamples/g")
    val wq = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
    val pos = g.where(col("ql") === col("cl"))
      .withColumn("pr", row_number().over(wq)).where(col("pr") === 1)
      .select(col("q_id").as("anchor_id"), col("cand_id").as("pos_id"),
        col("cos").as("pos_cos"))
    val neg = g.where(col("ql") =!= col("cl"))
      .withColumn("nr", row_number().over(wq)).where(col("nr") <= NegK)
      .groupBy("q_id")
      .agg(concat_ws(",",
          transform(array_sort(collect_list(struct(col("nr"), col("cand_id")))),
            x => x.getField("cand_id").cast("string"))).as("negs"),
        count(lit(1)).as("n_negs"))
      .withColumnRenamed("q_id", "anchor_id")
    pos.join(neg, "anchor_id")
  }

  /** LSH-blocked corpus kNN edges (q_id, cand_id, cos, rnk ≤ K) — every
    * vector ranked against its own bucket (see ann_knn_graph). One line:
    * the oracled fixture query IS [[knnGraphOn]] at the default width
    * (SimilaritySpec asserts the identity), so there is exactly one
    * implementation to keep in sync with the oracle.
    */
  private def knnGraph(s: SparkSession, d: String): DataFrame =
    knnGraphOn(base(s, d).select(col("vec_id"), col("e")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact top-k by cosine: broadcast the (small) query batch, stream the
    // corpus — no shuffle of the big side; the window is per-query-id over
    // at most |corpus| rows.
    "ann_cosine_topk" -> { (s, d) =>
      val b = base(s, d)
      val q = b.where(col("vec_id") < QuerySet)
        .select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn"))
      val c = b.select(col("vec_id").as("cand_id"), col("e").as("ce"), col("nrm").as("cn"))
      ranked(broadcast(q).join(c, col("q_id") =!= col("cand_id")))
    },

    // LSH-bucketed top-k: equi-join on the hyperplane bucket (shuffle on a
    // 16-bit key instead of a cross join). Recall < 1 by construction; the
    // oracle implements the identical bucketing, so results still match.
    "ann_lsh_topk" -> { (s, d) =>
      val b = base(s, d).withColumn("bkt", bucket(col("e")))
      val q = b.where(col("vec_id") < QuerySet)
        .select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn"),
          col("bkt").as("qb"))
      val c = b.select(col("vec_id").as("cand_id"), col("e").as("ce"),
        col("nrm").as("cn"), col("bkt").as("cb"))
      ranked(broadcast(q).join(c,
        col("qb") === col("cb") && col("q_id") =!= col("cand_id")))
    },

    // MULTI-PROBE LSH top-k: each query probes every bucket within
    // Hamming radius MultiProbeRadius of its MultiProbeBits-bit prefix
    // key — the hyperplane analogue of IVF's multi-probe. Near-misses
    // land a few sign flips away far more often than uniformly, so
    // recall rises steeply with radius; the (bits, radius) default is
    // ADOPTED FROM the measured ann_recall_frontier (recall@5 0.78-0.82
    // vs 0.14 for the old radius-1 full-key probe). Probe buckets are
    // distinct, so no candidate pair duplicates; the probe explode is
    // query-side only (QuerySet × n_probes rows, still broadcast).
    "ann_lsh_multiprobe_topk" -> { (s, d) =>
      val mod = 1 << MultiProbeBits
      val masks = probeMasks(MultiProbeBits, MultiProbeRadius)
      val b = base(s, d).withColumn("bkt", bucket(col("e")) % mod)
      val q = b.where(col("vec_id") < QuerySet)
        .select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn"),
          col("bkt"), explode(array(masks.map(lit(_)): _*)).as("m"))
        .select(col("q_id"), col("qe"), col("qn"),
          col("m").bitwiseXOR(col("bkt")).as("qb"))
      val c = b.select(col("vec_id").as("cand_id"), col("e").as("ce"),
        col("nrm").as("cn"), col("bkt").as("cb"))
      ranked(broadcast(q).join(c,
        col("qb") === col("cb") && col("q_id") =!= col("cand_id")))
    },

    // Recall@K audit of the two LSH variants against the exact scan:
    // the measured evidence multi-probe exists for.
    "ann_lsh_recall" -> { (s, d) =>
      val exact = queries("ann_cosine_topk")(s, d).select("q_id", "cand_id")
      def recallOf(name: String, v: DataFrame): DataFrame =
        exact.join(v.select("q_id", "cand_id"), Seq("q_id", "cand_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(broadcast(exact.agg(count(lit(1)).as("total"))))
          .select(lit(name).as("variant"), col("hits"), col("total"),
            round(col("hits").cast("double") / col("total").cast("double"), 6)
              .as("recall"))
      recallOf("multi_probe", queries("ann_lsh_multiprobe_topk")(s, d))
        .unionByName(recallOf("single_probe", queries("ann_lsh_topk")(s, d)))
        .orderBy("variant")
    },

    // The recall/cost FRONTIER behind the multi-probe defaults: one row
    // per (prefix bits, Hamming probe radius) operating point, with the
    // measured candidate volume (n_cand = joined rows before ranking —
    // the real cost at scale) next to recall@K vs the exact scan. Fewer
    // bits coarsen the buckets; larger radius probes more of them — both
    // trade candidates for recall along different curves, and THIS query
    // is the recorded evidence for which point the engine defaults to.
    // Every point is the same broadcast-query equi-join as the production
    // path (query side explodes to n_probes rows, still broadcast; the
    // corpus streams once per point).
    "ann_recall_frontier" -> { (s, d) =>
      val b2 = persist(base(s, d).withColumn("bkt", bucket(col("e"))))
      val exact = persist(queries("ann_cosine_topk")(s, d)
        .select("q_id", "cand_id"))
      // per bits branch, the broadcast q subtree, the corpus probe, the
      // n_cand broadcast agg and the total broadcast agg all read b2/exact
      fill(b2, "Similarity.ann_recall_frontier/b2")
      fill(exact, "Similarity.ann_recall_frontier/exact")
      // ARM-FUSED (r13): the radius-r mask set {m : bitCount(m) <= r} is
      // a PREFIX of the radius-(r+1) set, and a candidate matches a query
      // through exactly ONE mask (m = qb0 ^ cb) — so the whole radius
      // sweep at one bit width shares a single match relation tagged with
      // k = bitCount(m), and point (bits, r) is precisely the k <= r
      // slice. One probe join + one window per bit width replaces a
      // persisted candidate relation + eager fill + rank subtree + two
      // broadcast aggs PER GRID POINT (job-launch latency dominated this
      // query at bench scale: ~20 sequential mini-jobs). Identical rows:
      // the per-arm candidate multiset, the round-6 cosine, and the
      // (cos desc, cand_id) row_number tie-break are unchanged per point.
      def branch(bits: Int, radii: Seq[Int]): DataFrame = {
        val maxR = radii.max
        val masks = probeMasks(bits, maxR)
        val mod = 1 << bits
        val q = b2.where(col("vec_id") < QuerySet)
          .select(col("vec_id").as("q_id"), col("e").as("qe"),
            col("nrm").as("qn"), (col("bkt") % mod).as("qb0"),
            explode(array(masks.map(lit(_)): _*)).as("m"))
          .select(col("q_id"), col("qe"), col("qn"), bit_count(col("m")).as("k"),
            col("m").bitwiseXOR(col("qb0")).as("qb"))
        val c = b2.select(col("vec_id").as("cand_id"), col("e").as("ce"),
          col("nrm").as("cn"), (col("bkt") % mod).as("cb"))
        // the match relation feeds the per-arm rank AND the per-arm
        // n_cand count (broadcast join — no exchange for ReusedExchange
        // to share)
        val m = broadcast(q).join(c,
            col("qb") === col("cb") && col("q_id") =!= col("cand_id"))
          .select(col("q_id"), col("cand_id"), col("k"),
            round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6)
              .as("cos"))
        fill(m, "Similarity.ann_recall_frontier/m")
        // expand to (radius, match) rows: arm r owns the k <= r slice
        val mArm = m.select(col("q_id"), col("cand_id"), col("cos"), col("k"),
            explode(array(radii.map(r => lit(r.toLong)): _*)).as("radius"))
          .where(col("k") <= col("radius"))
        val w = Window.partitionBy("radius", "q_id")
          .orderBy(col("cos").desc, col("cand_id"))
        val got = mArm.withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= K).select("radius", "q_id", "cand_id")
        val hits = got.join(exact, Seq("q_id", "cand_id"))
          .groupBy("radius").agg(count(lit(1)).as("hits"))
        val nCand = mArm.groupBy("radius").agg(count(lit(1)).as("n_cand"))
        val arms = s.range(1).select(explode(array(radii.map(r =>
            struct(lit(r.toLong).as("radius"),
              lit(probeMasks(bits, r).size.toLong).as("n_probes"))): _*))
            .as("a"))
          .select(col("a.radius"), col("a.n_probes"))
        arms
          .join(nCand, Seq("radius"), "left")
          .join(hits, Seq("radius"), "left")
          .crossJoin(broadcast(exact.agg(count(lit(1)).as("total"))))
          .select(lit(bits.toLong).as("bits"), col("radius"), col("n_probes"),
            coalesce(col("n_cand"), lit(0L)).as("n_cand"),
            coalesce(col("hits"), lit(0L)).as("hits"), col("total"),
            round(coalesce(col("hits"), lit(0L)).cast("double") /
              col("total").cast("double"), 6).as("recall"))
      }
      FrontierGrid.groupBy(_._1).toSeq.sortBy(_._1).map { case (bits, pts) =>
        branch(bits, pts.map(_._2))
      }.reduce(_ unionByName _).orderBy("bits", "radius")
    },

    // The recall/cost frontier for the IVF family — the measurement
    // `ann_recall_frontier` provides for multi-probe LSH, extended to
    // coarse quantization per the r9 verdict: one row per (cells probed
    // over, probes per query) point with candidate volume next to
    // recall@K vs the exact scan. Cell sets are PREFIXES of the seeded
    // centroid list (growing cells only appends, like the plane law), so
    // points are comparable; every point is the production ann_ivf_topk
    // shape (argmax-then-mask probe chain, broadcast query side, corpus
    // streamed once per point from the persisted base).
    "ann_ivf_recall_frontier" -> { (s, d) =>
      val b2 = persist(base(s, d))
      val exact = persist(queries("ann_cosine_topk")(s, d)
        .select("q_id", "cand_id"))
      // same per-point consumers as ann_recall_frontier (see there)
      fill(b2, "Similarity.ann_ivf_recall_frontier/b2")
      fill(exact, "Similarity.ann_ivf_recall_frontier/exact")
      // ARM-FUSED (r13, same law as ann_recall_frontier): the argmax-
      // then-mask probe chain for p probes is a PREFIX of the chain for
      // p' > p (masking only removes the already-probed cell), and a
      // candidate sits in exactly ONE cell per cell count — so the whole
      // probe sweep at one cell count shares a single match relation
      // tagged with k = the probe index that hit, and point (nc, p) is
      // precisely the k <= p slice. One probe join + one window per cell
      // count replaces a persisted candidate relation + eager fill + rank
      // subtree + two broadcast aggs PER GRID POINT. Identical rows per
      // point: same candidate multiset, round-6 cosine, and
      // (cos desc, cand_id) row_number tie-break.
      def branch(nc: Int, ps: Seq[Int]): DataFrame = {
        val maxp = ps.max
        val c = b2.select(col("vec_id").as("cand_id"), col("e").as("ce"),
          col("nrm").as("cn"), cellOf(centroidDotsN(col("e"), nc)).as("cell"))
        val q0 = b2.where(col("vec_id") < QuerySet)
          .withColumn("ds1", centroidDotsN(col("e"), nc))
        val probed = (1 to maxp).foldLeft(q0) { (df, k) =>
          df.withColumn(s"c$k", cellOf(col(s"ds$k")))
            .withColumn(s"ds${k + 1}", maskCellN(col(s"ds$k"), col(s"c$k"), nc))
        }
        val q = probed.select(col("vec_id").as("q_id"), col("e").as("qe"),
          col("nrm").as("qn"),
          posexplode(array((1 to maxp).map(k => col(s"c$k")): _*))
            .as(Seq("k0", "probe")))
        // the match relation feeds the per-arm rank AND the per-arm
        // n_cand count (broadcast join — no exchange to reuse)
        val m = broadcast(q).join(c,
            col("probe") === col("cell") && col("q_id") =!= col("cand_id"))
          .select(col("q_id"), col("cand_id"), (col("k0") + 1).as("k"),
            round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6)
              .as("cos"))
        fill(m, "Similarity.ann_ivf_recall_frontier/m")
        val mArm = m.select(col("q_id"), col("cand_id"), col("cos"), col("k"),
            explode(array(ps.map(p => lit(p.toLong)): _*)).as("probes"))
          .where(col("k") <= col("probes"))
        val w = Window.partitionBy("probes", "q_id")
          .orderBy(col("cos").desc, col("cand_id"))
        val got = mArm.withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= K).select("probes", "q_id", "cand_id")
        val hits = got.join(exact, Seq("q_id", "cand_id"))
          .groupBy("probes").agg(count(lit(1)).as("hits"))
        val nCand = mArm.groupBy("probes").agg(count(lit(1)).as("n_cand"))
        val arms = s.range(1).select(explode(array(ps.map(p =>
            lit(p.toLong)): _*)).as("probes"))
        arms
          .join(nCand, Seq("probes"), "left")
          .join(hits, Seq("probes"), "left")
          .crossJoin(broadcast(exact.agg(count(lit(1)).as("total"))))
          .select(lit(nc.toLong).as("cells"), col("probes"),
            coalesce(col("n_cand"), lit(0L)).as("n_cand"),
            coalesce(col("hits"), lit(0L)).as("hits"), col("total"),
            round(coalesce(col("hits"), lit(0L)).cast("double") /
              col("total").cast("double"), 6).as("recall"))
      }
      IvfFrontierGrid.groupBy(_._1).toSeq.sortBy(_._1).map { case (nc, pts) =>
        branch(nc, pts.map(_._2))
      }.reduce(_ unionByName _).orderBy("cells", "probes")
    },

    // Recall@K when searching over only the first d dims (d in TruncDims)
    // vs the full-dim exact scan — the measurement that decides how far a
    // Matryoshka-style truncation cascade can cut the stage-1 cost before
    // re-ranking. Each variant is the same broadcast-query brute scan on a
    // prefix slice; the corpus streams once per variant and the full-dim
    // ground truth is computed once and persisted across the three
    // variants (caller releases via Graft.releaseCaches).
    "ann_truncate_recall" -> { (s, d) =>
      val b = base(s, d)
      def topkAt(dims: Int): DataFrame = {
        val t = b.select(col("vec_id"), slice(col("e"), 1, dims).as("e"))
          .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
        val q = t.where(col("vec_id") < QuerySet)
          .select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn"))
        val c = t.select(col("vec_id").as("cand_id"), col("e").as("ce"),
          col("nrm").as("cn"))
        ranked(broadcast(q).join(c, col("q_id") =!= col("cand_id")))
          .select("q_id", "cand_id")
      }
      val exact = topkAt(Dim)
      // the three per-variant semi-join probes and the total broadcast agg
      fill(exact, "Similarity.ann_truncate_recall/exact")
      def recallOf(dims: Int): DataFrame =
        exact.join(topkAt(dims), Seq("q_id", "cand_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(broadcast(exact.agg(count(lit(1)).as("total"))))
          .select(lit(dims.toLong).as("dims"), col("hits"), col("total"),
            round(col("hits").cast("double") / col("total").cast("double"), 6)
              .as("recall"))
      TruncDims.map(recallOf).reduce(_ unionByName _).orderBy("dims")
    },

    // CORPUS-WIDE kNN graph, LSH-blocked: every vector's top-k cosine
    // neighbors WITHIN its hyperplane bucket (the blocked kNN-graph build
    // that SemDeDup/agglomerative pipelines start from — corpus×corpus,
    // not query-batch×corpus, so the bucket equi-join is what keeps it off
    // the N² cliff; per-node top-k rides the GroupTopK rewrite).
    "ann_knn_graph" -> { (s, d) =>
      knnGraph(s, d).orderBy("q_id", "rnk")
    },

    // The SIZED kNN graph — [[knnGraphSized]] end-to-end with the bucket
    // width DERIVED from the measured corpus size (planesForCorpus), so
    // the production-default geometry path is DuckDB-oracled, not just
    // spec-locked (r10 verdict #2). At sf0.01 (500 vectors) the law lands
    // on the fixture's 6 bits; at sf0.1 (2000) it derives 8 — a geometry
    // no pinned query exercises. The oracle replays the same law from
    // count(*) against a flat plane-literal prefix (planesFor's sequential
    // draws make width growth append-only).
    "ann_knn_graph_sized" -> { (s, d) =>
      val b = base(s, d).select(col("vec_id"), col("e"))
      knnGraphSized(b, graft.Tables.embeddings(s, d).count())
        .orderBy("q_id", "rnk")
    },

    // Mutual-kNN pruning of that graph: keep (a,b) only when each is in
    // the other's top-k — the standard symmetrization that kills hub
    // false-neighbors before clustering. Self-join of the kNN edge list on
    // the reversed key pair (edge-list-sized, not corpus-sized).
    "ann_mutual_knn" -> { (s, d) =>
      // the fwd and rev branches both read the banded-join + window
      // graph; uncached, the corpus×bucket join runs twice
      val g = knnGraph(s, d)
      fill(g, "Similarity.ann_mutual_knn/g")
      val fwd = g.where(col("q_id") < col("cand_id"))
        .select(col("q_id").as("a"), col("cand_id").as("b"), col("cos"))
      val rev = g.where(col("q_id") > col("cand_id"))
        .select(col("cand_id").as("a"), col("q_id").as("b"))
      fwd.join(rev, Seq("a", "b"), "left_semi")
        .orderBy("a", "b")
    },

    // Embedding-space clustering: connected components over the
    // mutual-kNN graph — the standard "chain near-neighbors into
    // clusters" step (mutual-kNN edges are the densest trustworthy
    // signal; CC chains them transitively). Reuses the shared iterative
    // CC kernel: singletons never iterate, rounds are edge-subgraph-sized.
    "ann_knn_components" -> { (s, d) =>
      // fwd + rev both read the kNN graph, and the CC kernel's edge
      // materialization would otherwise recompute the banded join again
      // (measured 12.4 s -> the graph is the dominant cost)
      val g = knnGraph(s, d)
      fill(g, "Similarity.ann_knn_components/g")
      val fwd = g.where(col("q_id") < col("cand_id"))
        .select(col("q_id").as("a"), col("cand_id").as("b"))
      val rev = g.where(col("q_id") > col("cand_id"))
        .select(col("cand_id").as("a"), col("q_id").as("b"))
      val mutual = fwd.join(rev, Seq("a", "b"), "left_semi")
      Components.connectedComponents(
          base(s, d).select(col("vec_id")),
          mutual.select(col("a").as("src"), col("b").as("dst")))
        .toDF("vec_id", "component_id")
        .orderBy("vec_id")
    },

    // Bucket histogram: how balanced is the LSH partitioning? (Also the
    // skew diagnostic you'd run before trusting the bucket join at scale.)
    "ann_lsh_buckets" -> { (s, d) =>
      base(s, d)
        .select(bucket(col("e")).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    },

    // IVF top-k: corpus assigned to argmax-dot cells (pure map, no
    // shuffle); each query probes its `IvfProbes` best cells; top-k within
    // the probed cells only. The probe explode keeps the broadcast tiny
    // (IvfProbes rows/query); the corpus is streamed once, equi-joined on
    // cell id.
    "ann_ivf_topk" -> { (s, d) =>
      val b = base(s, d).withColumn("ds", centroidDots(col("e")))
      val c = b.select(col("vec_id").as("cand_id"), col("e").as("ce"),
        col("nrm").as("cn"), cellOf(col("ds")).as("cell"))
      // iterative argmax-then-mask, one named column per step (no
      // exponential expression duplication)
      val q0 = b.where(col("vec_id") < QuerySet).withColumn("ds1", col("ds"))
      val probed = (1 to IvfProbes).foldLeft(q0) { (df, k) =>
        df.withColumn(s"c$k", cellOf(col(s"ds$k")))
          .withColumn(s"ds${k + 1}", maskCell(col(s"ds$k"), col(s"c$k")))
      }
      val q = probed.select(col("vec_id").as("q_id"), col("e").as("qe"),
        col("nrm").as("qn"),
        explode(array((1 to IvfProbes).map(k => col(s"c$k")): _*)).as("probe"))
      ranked(broadcast(q).join(c,
        col("probe") === col("cell") && col("q_id") =!= col("cand_id")))
    },

    // Cell histogram: the balance diagnostic for the IVF partitioning.
    "ann_ivf_cells" -> { (s, d) =>
      base(s, d)
        .select(cellOf(centroidDots(col("e"))).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .orderBy("cell")
    },

    // Scalar quantization (SQ8): per-dimension [min, max] over the corpus
    // (one map-side-combined agg, 64 rows), broadcast back as two ordered
    // arrays, then a pure per-row map emits the uint8 codes + the L1
    // reconstruction error of mid-bucket decoding. This is the memory-4x
    // compression step a vector index runs before IVF/LSH at 100 TB — the
    // corpus is scanned once, never shuffled. Exactness: quantize/decode
    // are fixed-order IEEE double expressions (identical in the oracle),
    // the error sum is a sequential fold (list_sum parity, like dot),
    // rounded to 6 dp. The per-dim scale is clamped to >= 1e-300 so a
    // constant dimension quantizes to code 0 with ~zero error instead of
    // 0/0 = NaN (1e-300 parses to the identical IEEE double in both
    // engines, keeping the oracle bit-exact). The codes array is emitted
    // as a comma-joined string so the driver's pandas-based hash compare
    // can sort on it (ndarray cells are unhashable as sort keys).
    // ADC top-k over the PQ codes — the search half of IVF-PQ, closing the
    // loop with emb_quantize_pq: the corpus is reduced to 8 small codes
    // per vector ONCE; each query builds its per-block lookup table (the
    // 16 exact centroid distances = the classic ADC LUT) in full
    // precision, the 10-row query side is broadcast, and every corpus row
    // costs 8 array lookups + 7 adds — no full-precision corpus math, no
    // shuffle of the big side. Approximation error comes only from the
    // codebook (same ranking contract as the other ann_* queries:
    // round-6 distance asc, cand_id tie-break).
    // r12: same loop-kernel swap as emb_quantize_pq — codes from
    // graft_pq_codes (1-based, matching array_position), the per-query
    // ADC table as ONE flattened graft_pq_luts array (block b, code c →
    // element b*16 + c, both 1-based at the element_at seam).
    "ann_pq_adc_topk" -> { (s, d) =>
      graft.Graft.init(s)
      val e = embeddings(s, d).select(col("vec_id"), toDouble(col("embedding")).as("x"))
      val codes = e.select(col("vec_id").as("cand_id") +:
        (0 until PqBlocks).map(b =>
          element_at(call_function("graft_pq_codes", col("x")), b + 1)
            .as(s"c$b")): _*)
      val luts = e.where(col("vec_id") < QuerySet)
        .select(col("vec_id").as("q_id"),
          call_function("graft_pq_luts", col("x")).as("lut"))
      val adc = (0 until PqBlocks)
        .map(b => element_at(col("lut"), (lit(b * PqK) + col(s"c$b")).cast("int")))
        .reduce(_ + _)
      val w = Window.partitionBy("q_id").orderBy(col("adc").asc, col("cand_id").asc)
      codes.join(broadcast(luts), col("q_id") =!= col("cand_id"))
        .select(col("q_id"), col("cand_id"), round(adc, 6).as("adc"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= K)
        .orderBy("q_id", "rnk")
    },

    // Product quantization: per block, the 16 squared distances
    // ||xs - c_j||² = xs·xs − 2·xs·c_j + c_j·c_j (xs·xs shared across the
    // block's centroids via codegen CSE; c_j·c_j a precomputed literal),
    // argmin via first-position-of-min (ties break identically to DuckDB's
    // list_position), reconstruction error = sum of the 8 block minima in
    // fixed block order. Pure per-row map over one corpus scan — never a
    // shuffle; codes emitted as a comma-joined string (atomic-column
    // contract). 0-based codes.
    // r12: the 8x16 distance grid runs as graft.functions.PqOps LOOP
    // kernels instead of an unrolled 44,879-bytecode projection (which
    // HotSpot refused to JIT — the BytecodeAudit's largest row). Same
    // arithmetic in the same association order; oracle hashes unchanged.
    "emb_quantize_pq" -> { (s, d) =>
      graft.Graft.init(s)
      val e = embeddings(s, d).select(col("vec_id"), toDouble(col("embedding")).as("x"))
      val withC = e.select(col("vec_id"),
        call_function("graft_pq_codes", col("x")).as("c1"),
        call_function("graft_pq_err2", col("x")).as("err"))
      withC.select(col("vec_id"),
        concat_ws(",", (0 until PqBlocks).map(b =>
          (element_at(col("c1"), b + 1) - 1).cast("string")): _*).as("codes"),
        round(col("err"), 6).as("recon_err2"))
        .orderBy("vec_id")
    },

    // TRAINED PQ: same code/error contract as emb_quantize_pq, but the
    // codebooks come from the per-block grouped Lloyd run. recon_err2 sums
    // the 6-dp-rounded block minima as exact DECIMALs (the block rows
    // arrive via a groupBy, so a double fold would be order-dependent).
    "emb_quantize_pq_trained" -> { (s, d) =>
      val blocks = persist(pqBlocks(s, d))
      pqTrainedCodes(blocks, pqTrain(blocks))
        .groupBy("vec_id")
        .agg(
          concat_ws(",",
            transform(array_sort(collect_list(struct(col("b"), col("code")))),
              t => t.getField("code").cast("string"))).as("codes"),
          sum(round(col("d2"), 6).cast(DecimalType(18, 6))).as("errD"))
        .select(col("vec_id"), col("codes"),
          col("errD").cast("double").as("recon_err2"))
        .orderBy("vec_id")
    },

    // The measured training gain: corpus-mean reconstruction error of the
    // seeded vs trained codebooks (exact decimal sums; the whole point of
    // Lloyd — trained must come out lower, spec-asserted).
    "emb_pq_train_gain" -> { (s, d) =>
      def meanOf(name: String, v: DataFrame): DataFrame =
        v.agg(sum(col("recon_err2").cast(DecimalType(20, 6))).as("se"),
            count(lit(1)).as("n"))
          .select(lit(name).as("variant"),
            round(col("se").cast("double") / col("n").cast("double"), 6)
              .as("mean_err2"))
      meanOf("seeded", queries("emb_quantize_pq")(s, d))
        .unionByName(meanOf("trained", queries("emb_quantize_pq_trained")(s, d)))
        .orderBy("variant")
    },

    // ADC search over the TRAINED codebooks: corpus rows carry 8 codes,
    // each query's exact per-block centroid distances form its LUT
    // (broadcast), and the ADC distance assembles by joining code = cid
    // per block — the per-(query, candidate) sum is an exact DECIMAL of
    // 9-dp-rounded block terms (order-independent, so the relational
    // groupBy sum matches DuckDB bit-for-bit). Partial aggregation
    // collapses the 8 block rows map-side, so the shuffle is one row per
    // (query, candidate) — the same volume every per-query ranking pays.
    "ann_pq_trained_topk" -> { (s, d) =>
      val blocks = persist(pqBlocks(s, d))
      val cents = pqTrain(blocks)
      val codes = pqTrainedCodes(blocks, cents)
        .select(col("vec_id").as("cand_id"), col("b"), col("code"))
      val cc = cents.select(col("b"), col("cid"), col("c"),
        dot(col("c"), col("c")).as("cc"))
      val qluts = blocks.where(col("vec_id") < QuerySet)
        .join(broadcast(cc), Seq("b"))
        .select(col("vec_id").as("q_id"), col("b").as("qb"), col("cid"),
          (col("xx") - lit(2.0) * dot(col("xs"), col("c")) + col("cc"))
            .as("dist"))
      val w = Window.partitionBy("q_id").orderBy(col("adc").asc, col("cand_id").asc)
      codes.join(broadcast(qluts),
          col("b") === col("qb") && col("code") === col("cid") &&
            col("q_id") =!= col("cand_id"))
        .groupBy("q_id", "cand_id")
        .agg(sum(round(col("dist"), 9).cast(DecimalType(20, 9))).as("adcD"))
        .select(col("q_id"), col("cand_id"),
          round(col("adcD").cast("double"), 6).as("adc"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= K)
        .orderBy("q_id", "rnk")
    },

    // Hard-negative mining for contrastive training: each query's top-K
    // most-similar candidates with a DIFFERENT label — the pairs a
    // contrastive objective learns most from. Same broadcast-query /
    // streamed-corpus shape as ann_cosine_topk with the label inequality
    // folded into the join.
    "ann_hard_negatives" -> { (s, d) =>
      graft.Graft.init(s)
      val bl = embeddings(s, d)
        .select(col("vec_id"), toDouble(col("embedding")).as("e"), col("label"))
        .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      val q = bl.where(col("vec_id") < QuerySet)
        .select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn"),
          col("label").as("ql"))
      val c = bl.select(col("vec_id").as("cand_id"), col("e").as("ce"),
        col("nrm").as("cn"), col("label").as("cl"))
      ranked(broadcast(q).join(c,
        col("q_id") =!= col("cand_id") && col("ql") =!= col("cl")))
    },

    // kNN label-consistency eval: every vector's label predicted by the
    // majority vote of its bucketed top-K neighbors (ties: count desc,
    // label asc), scored against its own label per class — the quality
    // signal for an embedding space ("do nearby points share labels?").
    // Rides the existing LSH-bucketed kNN graph; vectors whose bucket
    // holds no neighbor are not scored (coverage is part of the output).
    "knn_label_eval" -> { (s, d) =>
      val lab = embeddings(s, d).select(col("vec_id"), col("label"))
      val votes = knnGraph(s, d)
        .join(lab.select(col("vec_id").as("cand_id"), col("label").as("cl")), "cand_id")
        .groupBy("q_id", "cl")
        .agg(count(lit(1)).as("n_votes"))
      val wv = Window.partitionBy("q_id")
        .orderBy(col("n_votes").desc, col("cl").asc)
      votes.withColumn("vr", row_number().over(wv))
        .where(col("vr") === 1)
        .select(col("q_id").as("vec_id"), col("cl").as("pred"))
        .join(lab, "vec_id")
        .groupBy("label")
        .agg(count(lit(1)).as("n_scored"),
          sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("acc",
          round(col("n_correct").cast("double") / col("n_scored").cast("double"), 6))
        .select("label", "n_scored", "n_correct", "acc")
        .orderBy("label")
    },

    // Contrastive training EXAMPLES, corpus-wide: every vector whose
    // bucketed top-K neighborhood contains BOTH a same-label neighbor
    // (the positive: best same-label by cosine) and >= 1 different-label
    // neighbor (up to NegK hard negatives, packed rank-ordered) becomes
    // an (anchor, positive, negatives) training row — the assembly step
    // between hard-negative mining and an InfoNCE-style trainer. Rides
    // the LSH-bucketed kNN graph (no all-pairs), label join is
    // corpus-keyed; everything downstream is anchor-keyed.
    "contrastive_examples" -> { (s, d) =>
      contrastiveExamples(s, d).orderBy("anchor_id")
    },

    // Deterministic BATCH PACKING of those examples with an in-batch
    // false-negative audit: examples shuffle by md5 draw (corpus_shuffle
    // discipline), pack BatchB per batch by distributed global rank
    // (never a single-task global window), and each batch reports member
    // collisions — a vector appearing twice in one batch (as two
    // anchors' shared neighbor) is exactly the in-batch-negatives bug
    // that silently corrupts a contrastive objective at scale.
    "contrastive_batches" -> { (s, d) =>
      val ex = contrastiveExamples(s, d)
        .withColumn("skey",
          graft.operators.TextHash.h60(
            concat(lit("cb:"), col("anchor_id").cast("string"))))
      Ranking.globalRank(ex, Seq(col("skey"), col("anchor_id")))
        .withColumn("batch_id", expr(s"(rank - 1) div $BatchB"))
        .select(col("batch_id"), col("anchor_id"),
          explode(concat(array(col("anchor_id"), col("pos_id")),
            transform(split(col("negs"), ","), _.cast("long")))).as("member"))
        .groupBy("batch_id")
        // collect_set sizes instead of two countDistincts (r13): the
        // multi-distinct plan EXPANDs every exploded member row x3
        // through the exchange; the sets dedup map-side and are bounded
        // by the batch geometry (<= BatchB anchors, <= BatchB*(2+negs)
        // members per batch), so one plain hash aggregate replaces it.
        .agg(size(collect_set(col("anchor_id"))).cast("long").as("n_examples"),
          count(lit(1)).as("n_slots"),
          size(collect_set(col("member"))).cast("long").as("n_distinct"))
        .withColumn("n_collisions", col("n_slots") - col("n_distinct"))
        .orderBy("batch_id")
    },

    // JL projection audit: per-vector 16-dim projection (fixed-point
    // token string — never a raw-double string, whose formatting differs
    // across engines) plus the norm-preservation ratio
    // ||Px|| / (sqrt(RpDim) * ||x||), which JL says concentrates near 1.
    "emb_rp_project" -> { (s, d) =>
      val b = base(s, d).withColumn("p", rpProject(col("e")))
      b.select(col("vec_id"),
          concat_ws(",", transform(col("p"),
            v => round(v * lit(1e6)).cast("long").cast("string"))).as("proj_q6"),
          round(sqrt(dot(col("p"), col("p"))) /
            (sqrt(lit(RpDim.toDouble)) * col("nrm")), 6).as("norm_ratio"))
        .orderBy("vec_id")
    },

    // Two-stage search: stage 1 ranks candidates by SQUARED L2 in the
    // cheap 16-dim projected space (a 4x-smaller scan), stage 2 re-ranks
    // only the RpShortlist survivors by exact cosine — the cascade shape
    // every production retrieval system runs. Both stages are
    // deterministic total orders, so both engines agree exactly.
    "ann_rp_rerank_topk" -> { (s, d) =>
      val b = base(s, d).withColumn("p", rpProject(col("e")))
      val q = b.where(col("vec_id") < QuerySet)
        .select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn"),
          col("p").as("qp"))
      val c = b.select(col("vec_id").as("cand_id"), col("e").as("ce"),
        col("nrm").as("cn"), col("p").as("cp"))
      val ws = Window.partitionBy("q_id").orderBy(col("pd2").asc, col("cand_id").asc)
      val shortlist = broadcast(q).join(c, col("q_id") =!= col("cand_id"))
        .withColumn("pd2",
          dot(col("qp"), col("qp")) - lit(2.0) * dot(col("qp"), col("cp")) +
            dot(col("cp"), col("cp")))
        .withColumn("srn", row_number().over(ws))
        .where(col("srn") <= RpShortlist)
      ranked(shortlist.select("q_id", "cand_id", "qe", "qn", "ce", "cn"))
    },

    // The full IVF-PQ index shape (the FAISS IVFPQ memory/search
    // architecture a 100 TB ANN deployment actually runs): a trained
    // coarse quantizer (the shared Lloyd kernel) partitions the corpus
    // into cells; PQ codebooks train on the RESIDUALS x - c(cell) (they
    // are what PQ has left to encode once the cell is known); queries
    // probe their nearest cells, build a per-(query, cell) residual ADC
    // LUT, and rank only candidates in probed cells. Model state (8 cell
    // centroids + 8x16 residual codebooks) broadcasts; the corpus is
    // scanned for assignment and joined on the cell id — never all-pairs.
    // ADC sums are exact 9-dp decimals, order-independent across engines.
    "ann_ivfpq_topk" -> { (s, d) =>
      val (_, coarse) = Clustering.lloyd(s, d, eagerAssign = false)
      val cc = coarse.select(col("cid"), col("c"), dot(col("c"), col("c")).as("cc"))
      val e = embeddings(s, d)
        .select(col("vec_id"), toDouble(col("embedding")).as("x"))
        .withColumn("xx", dot(col("x"), col("x")))
      val dists = e.crossJoin(broadcast(cc))
        .withColumn("dist2",
          col("xx") - lit(2.0) * dot(col("x"), col("c")) + col("cc"))
      // final-centroid cell assignment (consumed by the residual build
      // AND the code join), then residual vs the OWN cell
      val assigned = persist(dists.groupBy("vec_id")
        .agg(min(struct(col("dist2"), col("cid"))).as("m"), first(col("x")).as("x"))
        .select(col("vec_id"), col("m.cid").as("cell"), col("x")))
      val res = assigned
        .join(broadcast(coarse.select(col("cid").as("cell"), col("c"))), "cell")
        .select(col("vec_id"), zip_with(col("x"), col("c"), (a, b) => a - b).as("x"))
      val blocks = persist(pqBlocksOf(res))
      val pqc = pqTrain(blocks)
      val codes = pqTrainedCodes(blocks, pqc)
        .join(assigned.select("vec_id", "cell"), "vec_id")
        .select(col("vec_id").as("cand_id"), col("cell"), col("b"), col("code"))
      val wp = Window.partitionBy("q_id").orderBy(col("dist2").asc, col("cid").asc)
      val qprobe = dists.where(col("vec_id") < QuerySet)
        .select(col("vec_id").as("q_id"), col("cid"), col("dist2"), col("x"), col("c"))
        .withColumn("rn", row_number().over(wp))
        .where(col("rn") <= Clustering.TrainedProbes)
        .select(col("q_id"), col("cid").as("cell"),
          zip_with(col("x"), col("c"), (a, b) => a - b).as("qres"))
      val qb = qprobe.select(col("q_id"), col("cell"), explode(expr(
          s"transform(sequence(0, ${PqBlocks - 1}), " +
            s"b -> named_struct('b', b, 'xs', slice(qres, b * $PqSub + 1, $PqSub)))"))
          .as("t"))
        .select(col("q_id"), col("cell"), col("t.b").as("b"), col("t.xs").as("xs"))
        .withColumn("xx", dot(col("xs"), col("xs")))
      val pcc = pqc.select(col("b"), col("cid").as("pqcid"), col("c"),
        dot(col("c"), col("c")).as("pcc"))
      val qlut = qb.join(broadcast(pcc), Seq("b"))
        .select(col("q_id"), col("cell"), col("b"), col("pqcid"),
          (col("xx") - lit(2.0) * dot(col("xs"), col("c")) + col("pcc")).as("dist"))
      val w = Window.partitionBy("q_id").orderBy(col("adc").asc, col("cand_id").asc)
      codes.join(broadcast(qlut), Seq("cell", "b"))
        .where(col("code") === col("pqcid") && col("q_id") =!= col("cand_id"))
        .groupBy("q_id", "cand_id")
        .agg(sum(round(col("dist"), 9).cast(DecimalType(20, 9))).as("adcD"))
        .select(col("q_id"), col("cand_id"),
          round(col("adcD").cast("double"), 6).as("adc"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= K)
        .orderBy("q_id", "rnk")
    },

    "emb_quantize_sq8" -> { (s, d) =>
      val e = embeddings(s, d).select(col("vec_id"), toDouble(col("embedding")).as("x"))
      val stats = e.select(posexplode(col("x")).as(Seq("dim", "v")))
        .groupBy("dim").agg(min("v").as("mn"), max("v").as("mx"))
      val arrs = stats.agg(
        transform(array_sort(collect_list(struct(col("dim"), col("mn")))),
          t => t.getField("mn")).as("mns"),
        transform(array_sort(collect_list(struct(col("dim"), col("mx")))),
          t => t.getField("mx")).as("mxs"))
      def mn(i: Column) = element_at(col("mns"), i)
      def mx(i: Column) = element_at(col("mxs"), i)
      def xi(i: Column) = element_at(col("x"), i)
      def scale(i: Column) = greatest(mx(i) - mn(i), lit(1e-300))
      def code(i: Column) =
        floor(((xi(i) - mn(i)) * 255.0) / scale(i))
      e.crossJoin(broadcast(arrs))
        .select(col("vec_id"),
          concat_ws(",", transform(sequence(lit(1), lit(Dim)),
            i => code(i).cast("int").cast("string"))).as("q"),
          round(aggregate(sequence(lit(1), lit(Dim)), lit(0.0), (acc, i) =>
            acc + abs(xi(i) - (mn(i) + (code(i).cast("double") + 0.5) *
              (scale(i) / 255.0)))), 6).as("recon_err"))
        .orderBy("vec_id")
    },

    // 1-bit (sign) quantization: each dimension collapses to one bit —
    // above or below the per-dimension corpus mean — packed into two
    // 32-bit halves of BIGINTs (64x compression; the modern binary-
    // embedding practice). The threshold test is EXACT integer
    // arithmetic: bit_i = (x9_i * n > s9_i), the cross-multiplied form
    // of x_i > mean_i with 1e-9-quantized values, in DECIMAL so
    // web-scale n cannot overflow — no double ever enters the bit.
    // The 64-row (n, s9) model state broadcasts as sorted arrays; the
    // packing is a pure per-row expression (no shuffle).
    "emb_quantize_binary" -> { (s, d) =>
      binaryBits(s, d)
        .select(col("vec_id"), col("bits_lo"), col("bits_hi"),
          (expr("bit_count(bits_lo)") + expr("bit_count(bits_hi)"))
            .cast("long").as("n_set"))
        .orderBy("vec_id")
    },

    // Brute-force top-k under Hamming distance on the packed bits — the
    // stage-1 scan of a binary-quantized ANN cascade: xor + popcount per
    // candidate (two long ops) instead of a 64-term float dot product.
    // Same broadcast-query/stream-corpus shape as ann_cosine_topk.
    "ann_hamming_topk" -> { (s, d) =>
      val p = binaryBits(s, d)
      // the broadcast query subtree and the corpus probe
      fill(p, "Similarity.ann_hamming_topk/p")
      val q = p.where(col("vec_id") < QuerySet)
        .select(col("vec_id").as("q_id"), col("bits_lo").as("qlo"),
          col("bits_hi").as("qhi"))
      val w = Window.partitionBy("q_id").orderBy(col("hamming").asc, col("cand_id").asc)
      broadcast(q).join(p.select(col("vec_id").as("cand_id"),
          col("bits_lo").as("clo"), col("bits_hi").as("chi")),
          col("q_id") =!= col("cand_id"))
        .select(col("q_id"), col("cand_id"),
          (expr("bit_count(qlo ^ clo)") + expr("bit_count(qhi ^ chi)"))
            .cast("long").as("hamming"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= K)
        .orderBy("q_id", "rnk")
    },

    // Recall@K of the 1-bit Hamming scan against the exact cosine top-k
    // — the audit that decides whether 64x compression keeps enough
    // neighborhood structure to serve as a cascade's cheap first stage.
    "ann_hamming_recall" -> { (s, d) =>
      val exact = queries("ann_cosine_topk")(s, d).select("q_id", "cand_id")
      exact.join(queries("ann_hamming_topk")(s, d).select("q_id", "cand_id"),
          Seq("q_id", "cand_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(broadcast(exact.agg(count(lit(1)).as("total"))))
        .select(lit("hamming64").as("variant"), col("hits"), col("total"),
          round(col("hits").cast("double") / col("total").cast("double"), 6)
            .as("recall"))
    },

    // Per-dimension z-score standardization — the preconditioning step
    // before k-means / LSH when dimensions have uneven spread (a
    // high-variance dimension otherwise dominates every distance). One
    // map-side-combined aggregate produces the 64-row (dim, mean, std)
    // relation, broadcast back onto the corpus; the corpus is scanned
    // twice but shuffled never. Moments are EXACT: values quantize to
    // 1e-9 longs, sums of squares accumulate in DECIMAL(38,0) integer
    // arithmetic (order-free), and doubles appear only in the final
    // per-dim division — so the z-scores hash-match the oracle.
    "emb_standardize_stats" -> { (s, d) =>
      standardizeStats(s, d)
        .select(col("dim"), round(col("mean"), 6).as("mean"),
          round(col("std"), 6).as("std"))
        .orderBy("dim")
    },

    "emb_standardize" -> { (s, d) =>
      embDims9(s, d)
        .join(broadcast(standardizeStats(s, d)), "dim")
        .withColumn("z6",
          round((col("x9").cast("double") / lit(1e9) - col("mean"))
            / col("std") * lit(1e6)).cast("long"))
        .groupBy("vec_id")
        .agg(concat_ws(",",
          transform(array_sort(collect_list(struct(col("dim"), col("z6")))),
            t => t.getField("z6").cast("string"))).as("z"))
        .orderBy("vec_id")
    }
  )

  /** (vec_id, dim [1-based], x9): embedding values quantized to 1e-9
    * scaled longs — the exact-integer domain the standardization moments
    * accumulate in.
    */
  private def embDims9(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"), posexplode(toDouble(col("embedding"))).as(Seq("dim0", "v")))
      .select(col("vec_id"), (col("dim0") + 1).cast("long").as("dim"),
        round(col("v") * lit(1e9)).cast("long").as("x9"))

  /** (vec_id, bits_lo, bits_hi): mean-centered sign bits of the 64 dims
    * packed into two 32-bit halves (bit i of lo = dim i+1; of hi = dim
    * i+33). Thresholding is exact integer arithmetic against the
    * broadcast per-dim 1e-9 sums — see emb_quantize_binary's scaladoc.
    */
  private def binaryBits(s: SparkSession, d: String): DataFrame = {
    val arrs = embDims9(s, d)
      .groupBy("dim").agg(sum(col("x9").cast("decimal(38,0)")).as("s9"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("s9")))),
        t => t.getField("s9")).as("s9s"))
    val n = embeddings(s, d).agg(count(lit(1)).as("n"))
    def pack(lo: Int): Column = expr(
      s"""aggregate(sequence(1, 32), CAST(0 AS BIGINT), (acc, i) ->
         |  acc + IF(CAST(CAST(round(CAST(element_at(e, i + $lo) AS DOUBLE) * 1e9)
         |        AS BIGINT) AS DECIMAL(38,0)) * n > element_at(s9s, i + $lo),
         |    shiftleft(CAST(1 AS BIGINT), i - 1), CAST(0 AS BIGINT)))""".stripMargin)
    embeddings(s, d).select(col("vec_id"), col("embedding").as("e"))
      .crossJoin(broadcast(arrs)).crossJoin(broadcast(n))
      .select(col("vec_id"), pack(0).as("bits_lo"), pack(32).as("bits_hi"))
  }

  /** (dim, mean, std) with population std; exact integer moments, one
    * double division sequence at the end (identical in the oracle).
    */
  private def standardizeStats(s: SparkSession, d: String): DataFrame = {
    val mean = col("s9").cast("double") / lit(1e9) / col("n").cast("double")
    val ex2 = col("ssq").cast("double") / lit(1e18) / col("n").cast("double")
    embDims9(s, d)
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("x9").as("s9"),
        sum(col("x9").cast("decimal(38,0)") * col("x9")).as("ssq"))
      .select(col("dim"), mean.as("mean"),
        sqrt(ex2 - mean * mean).as("std"))
  }

  /** CTEs mirroring [[binaryBits]], ending in `p(vec_id, bits_lo,
    * bits_hi)`. The oracle may explode+join (no broadcast concern);
    * the threshold stays the same exact HUGEINT cross-multiplication.
    */
  private def binaryBitsCtes: String =
    s"""WITH nn AS (SELECT count(*) AS n FROM embeddings),
       |d9 AS (SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e9) AS BIGINT) AS x9
       |  FROM embeddings),
       |s9 AS (SELECT dim, sum(CAST(x9 AS HUGEINT)) AS s9 FROM d9 GROUP BY 1),
       |bits AS (SELECT vec_id, d9.dim,
       |    CASE WHEN CAST(d9.x9 AS HUGEINT) * nn.n > s9.s9 THEN 1 ELSE 0 END AS bit
       |  FROM d9 JOIN s9 ON d9.dim = s9.dim CROSS JOIN nn),
       |p AS (SELECT vec_id,
       |    CAST(sum(CASE WHEN dim <= 32 AND bit = 1
       |      THEN (CAST(1 AS BIGINT) << CAST(dim - 1 AS INTEGER)) ELSE 0 END)
       |      AS BIGINT) AS bits_lo,
       |    CAST(sum(CASE WHEN dim > 32 AND bit = 1
       |      THEN (CAST(1 AS BIGINT) << CAST(dim - 33 AS INTEGER)) ELSE 0 END)
       |      AS BIGINT) AS bits_hi
       |  FROM bits GROUP BY vec_id)""".stripMargin

  private def baseSqlCte: String =
    s"""WITH base AS (SELECT vec_id, embedding AS e,
       |  sqrt(${dotSql("embedding", "embedding", Dim)}) AS nrm FROM embeddings)""".stripMargin

  /** Corpus×corpus bucketed ranking CTEs for the kNN-graph oracles (the
    * no-QuerySet-filter sibling of [[rankedSql]]).
    */
  /** Oracle CTEs ending in `ex(anchor_id, pos_id, pos_cos, negs, n_negs)`,
    * mirroring [[contrastiveExamples]].
    */
  private def contrastiveSqlCtes: String =
    s"""$knnGraphSqlCtes,
       |g AS (SELECT q_id, cand_id, cos FROM r WHERE rnk <= $K),
       |gl AS (SELECT g.q_id, g.cand_id, g.cos, qe.label AS ql, ce.label AS cl
       |  FROM g JOIN embeddings qe ON g.q_id = qe.vec_id
       |  JOIN embeddings ce ON g.cand_id = ce.vec_id),
       |pos AS (SELECT q_id AS anchor_id, cand_id AS pos_id, cos AS pos_cos FROM
       |  (SELECT *, row_number() OVER (PARTITION BY q_id
       |     ORDER BY cos DESC, cand_id) AS pr
       |   FROM gl WHERE ql = cl) WHERE pr = 1),
       |neg AS (SELECT q_id AS anchor_id,
       |    string_agg(CAST(cand_id AS VARCHAR), ',' ORDER BY nr) AS negs,
       |    count(*) AS n_negs
       |  FROM (SELECT * FROM
       |    (SELECT *, row_number() OVER (PARTITION BY q_id
       |       ORDER BY cos DESC, cand_id) AS nr
       |     FROM gl WHERE ql <> cl) WHERE nr <= $NegK)
       |  GROUP BY q_id),
       |ex AS (SELECT pos.anchor_id, pos_id, pos_cos, negs, n_negs
       |  FROM pos JOIN neg USING (anchor_id))""".stripMargin

  private def knnGraphSqlCtes: String =
    s"""$baseSqlCte,
       |b2 AS (SELECT vec_id, e, nrm, ${bucketSql("e")} AS bkt FROM base),
       |p AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       |  round(${dotSql("q.e", "c.e", Dim)} / (q.nrm * c.nrm), 6) AS cos
       |  FROM b2 q JOIN b2 c ON q.bkt = c.bkt AND q.vec_id <> c.vec_id),
       |r AS (SELECT q_id, cand_id, cos,
       |  CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, cand_id) AS INTEGER) AS rnk
       |  FROM p)""".stripMargin

  private def rankedSql(bucketed: Boolean): String = {
    val bktCol = if (bucketed) s", ${bucketSql("e")} AS bkt" else ""
    val joinCond =
      if (bucketed) "q.bkt = c.bkt AND q.vec_id <> c.vec_id"
      else "q.vec_id <> c.vec_id"
    s"""$baseSqlCte,
       |b2 AS (SELECT vec_id, e, nrm$bktCol FROM base),
       |p AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       |  round(${dotSql("q.e", "c.e", Dim)} / (q.nrm * c.nrm), 6) AS cos
       |  FROM b2 q JOIN b2 c ON $joinCond
       |  WHERE q.vec_id < $QuerySet),
       |r AS (SELECT q_id, cand_id, cos,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS INTEGER) AS rnk
       |  FROM p)
       |SELECT q_id, cand_id, cos, rnk FROM r WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin
  }

  /** Unrolled grouped-Lloyd PQ training CTEs, mirroring [[pqTrain]] +
    * [[pqTrainedCodes]]: bx = block rows, tc0 = seed codebooks, per round
    * td/ta/tu/tg/tc (distances → argmin → fixed-point sums → rebuilt
    * centroids), then fa = final assignment (vec_id, b, code, dist2)
    * against tc`rounds`.
    */
  private def pqTrainCtes(rounds: Int): String =
    s"""e AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x FROM embeddings),
       |${pqTrainCtesFrom(rounds, "e")}""".stripMargin

  /** [[pqTrainCtes]] over an arbitrary prior CTE `src` providing
    * (vec_id, x) — residual relations for the IVF-PQ oracle.
    */
  private def pqTrainCtesFrom(rounds: Int, src: String): String = {
    val sb = new StringBuilder(
      s"""blk AS (SELECT vec_id, b, x[b * $PqSub + 1:(b + 1) * $PqSub] AS xs
         |  FROM $src, (SELECT unnest(range(0, $PqBlocks)) AS b) t),
         |bx AS (SELECT vec_id, b, xs, ${dotSql("xs", "xs", PqSub)} AS xx FROM blk),
         |tc0 AS (SELECT b, vec_id AS cid, xs AS c FROM blk WHERE vec_id < $PqK)""".stripMargin)
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(
        s""",
           |td$r AS (SELECT v.vec_id, v.b, v.xs, c.cid,
           |    v.xx - 2 * ${dotSql("v.xs", "c.c", PqSub)} + ${dotSql("c.c", "c.c", PqSub)} AS dist2
           |  FROM bx v JOIN tc$p c ON v.b = c.b),
           |ta$r AS (SELECT vec_id, b, xs, cid FROM
           |  (SELECT *, row_number() OVER (PARTITION BY vec_id, b ORDER BY dist2, cid) AS rn FROM td$r)
           |  WHERE rn = 1),
           |tu$r AS (SELECT b, cid, unnest(range(1, ${PqSub + 1})) AS pos,
           |    unnest(list_transform(xs, v -> CAST(round(v * 1000000000.0) AS BIGINT))) AS v9
           |  FROM ta$r),
           |tg$r AS (SELECT b, cid, pos, CAST(sum(v9) AS BIGINT) AS s9, count(*) AS n
           |  FROM tu$r GROUP BY b, cid, pos),
           |tc$r AS (SELECT b, cid,
           |    list(CAST(s9 AS DOUBLE) / CAST(n AS DOUBLE) / 1000000000.0 ORDER BY pos) AS c
           |  FROM tg$r GROUP BY b, cid)""".stripMargin)
    }
    sb.append(
      s""",
         |fd AS (SELECT v.vec_id, v.b, c.cid,
         |    v.xx - 2 * ${dotSql("v.xs", "c.c", PqSub)} + ${dotSql("c.c", "c.c", PqSub)} AS dist2
         |  FROM bx v JOIN tc$rounds c ON v.b = c.b),
         |fa AS (SELECT vec_id, b, cid AS code, dist2 FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id, b ORDER BY dist2, cid) AS rn FROM fd)
         |  WHERE rn = 1)""".stripMargin)
    sb.toString
  }

  /** Flip-mask list for the multi-probe oracles: own bucket + Hamming-1. */
  private def flipMaskSql: String =
    probeMasks(MultiProbeBits, MultiProbeRadius).mkString("[", ", ", "]")

  /** Multi-probe CTE chain ending in ranked relation `r` (same shape as
    * [[rankedSql]]'s, so the final SELECT is shared). Mirrors the adopted
    * (MultiProbeBits, MultiProbeRadius) defaults: prefix key = bkt mod
    * 2^bits, probe masks = every value of Hamming weight <= radius.
    */
  private def multiProbeCtes: String = {
    val mod = 1 << MultiProbeBits
    s"""$baseSqlCte,
       |b2 AS (SELECT vec_id, e, nrm, ${bucketSql("e")} AS bkt FROM base),
       |qp AS (SELECT vec_id, e, nrm, xor(bkt % $mod, m) AS qb
       |  FROM b2, (SELECT unnest($flipMaskSql) AS m) t
       |  WHERE vec_id < $QuerySet),
       |p AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       |  round(${dotSql("q.e", "c.e", Dim)} / (q.nrm * c.nrm), 6) AS cos
       |  FROM qp q JOIN b2 c ON q.qb = (c.bkt % $mod) AND q.vec_id <> c.vec_id),
       |r AS (SELECT q_id, cand_id, cos,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS INTEGER) AS rnk
       |  FROM p)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "ann_cosine_topk" -> rankedSql(bucketed = false),
    "ann_lsh_topk" -> rankedSql(bucketed = true),

    // dotSql over the first d elements of the full array == dot of the
    // sliced prefix (same left-to-right accumulation)
    "ann_truncate_recall" -> {
      val dimsAll = TruncDims :+ Dim
      val ctes = dimsAll.map { dm =>
        s"""t$dm AS (SELECT vec_id, embedding AS e,
           |    sqrt(${dotSql("embedding", "embedding", dm)}) AS nrm FROM embeddings),
           |p$dm AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
           |    round(${dotSql("q.e", "c.e", dm)} / (q.nrm * c.nrm), 6) AS cos
           |  FROM t$dm q JOIN t$dm c ON q.vec_id <> c.vec_id
           |  WHERE q.vec_id < $QuerySet),
           |r$dm AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
           |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rnk
           |  FROM p$dm) WHERE rnk <= $K)""".stripMargin
      }.mkString(",\n")
      val rows = TruncDims.map { dm =>
        s"""SELECT CAST($dm AS BIGINT) AS dims,
           |  (SELECT count(*) FROM r$Dim ex WHERE EXISTS
           |    (SELECT 1 FROM r$dm t WHERE t.q_id = ex.q_id AND t.cand_id = ex.cand_id))
           |    AS hits,
           |  (SELECT count(*) FROM r$Dim) AS total""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $ctes
         |SELECT dims, hits, total,
         |  round(CAST(hits AS DOUBLE) / CAST(total AS DOUBLE), 6) AS recall
         |FROM ($rows) ORDER BY dims""".stripMargin
    },

    "ann_lsh_multiprobe_topk" ->
      s"""$multiProbeCtes
         |SELECT q_id, cand_id, cos, rnk FROM r WHERE rnk <= $K
         |ORDER BY q_id, rnk""".stripMargin,

    "ann_lsh_recall" ->
      s"""$multiProbeCtes,
         |mp AS (SELECT q_id, cand_id FROM r WHERE rnk <= $K),
         |pe AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         |  round(${dotSql("q.e", "c.e", Dim)} / (q.nrm * c.nrm), 6) AS cos
         |  FROM b2 q JOIN b2 c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < $QuerySet),
         |ex AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rnk
         |  FROM pe) WHERE rnk <= $K),
         |ps AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         |  round(${dotSql("q.e", "c.e", Dim)} / (q.nrm * c.nrm), 6) AS cos
         |  FROM b2 q JOIN b2 c ON q.bkt = c.bkt AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < $QuerySet),
         |sp AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rnk
         |  FROM ps) WHERE rnk <= $K),
         |tot AS (SELECT count(*) AS total FROM ex),
         |hm AS (SELECT count(*) AS hits FROM ex
         |  WHERE EXISTS (SELECT 1 FROM mp WHERE mp.q_id = ex.q_id AND mp.cand_id = ex.cand_id)),
         |hs AS (SELECT count(*) AS hits FROM ex
         |  WHERE EXISTS (SELECT 1 FROM sp WHERE sp.q_id = ex.q_id AND sp.cand_id = ex.cand_id))
         |SELECT 'multi_probe' AS variant, hits, total,
         |  round(CAST(hits AS DOUBLE) / CAST(total AS DOUBLE), 6) AS recall
         |FROM hm, tot
         |UNION ALL
         |SELECT 'single_probe', hits, total,
         |  round(CAST(hits AS DOUBLE) / CAST(total AS DOUBLE), 6)
         |FROM hs, tot
         |ORDER BY variant""".stripMargin,

    "ann_recall_frontier" -> {
      // per-point CTE chain: masked query buckets (qb) x masked corpus
      // buckets, exact cosine, rank; one UNION ALL row per grid point
      val pointCtes = FrontierGrid.map { case (bits, radius) =>
        val masks = probeMasks(bits, radius).mkString("[", ", ", "]")
        val mod = 1 << bits
        val t = s"${bits}_$radius"
        s"""qp_$t AS (SELECT vec_id, e, nrm, xor(bkt % $mod, m) AS qb
           |  FROM b2, (SELECT unnest($masks) AS m) t
           |  WHERE vec_id < $QuerySet),
           |cd_$t AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
           |  round(${dotSql("q.e", "c.e", Dim)} / (q.nrm * c.nrm), 6) AS cos
           |  FROM qp_$t q JOIN b2 c
           |    ON q.qb = (c.bkt % $mod) AND q.vec_id <> c.vec_id),
           |rk_$t AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
           |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rnk
           |  FROM cd_$t) WHERE rnk <= $K)""".stripMargin
      }.mkString(",\n")
      val pointRows = FrontierGrid.map { case (bits, radius) =>
        val nProbes = probeMasks(bits, radius).size
        val t = s"${bits}_$radius"
        s"""SELECT CAST($bits AS BIGINT) AS bits, CAST($radius AS BIGINT) AS radius,
           |  CAST($nProbes AS BIGINT) AS n_probes,
           |  (SELECT count(*) FROM cd_$t) AS n_cand,
           |  (SELECT count(*) FROM ex WHERE EXISTS (SELECT 1 FROM rk_$t g
           |     WHERE g.q_id = ex.q_id AND g.cand_id = ex.cand_id)) AS hits,
           |  (SELECT count(*) FROM ex) AS total,
           |  round(CAST((SELECT count(*) FROM ex WHERE EXISTS
           |      (SELECT 1 FROM rk_$t g
           |       WHERE g.q_id = ex.q_id AND g.cand_id = ex.cand_id)) AS DOUBLE)
           |    / CAST((SELECT count(*) FROM ex) AS DOUBLE), 6) AS recall""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$baseSqlCte,
         |b2 AS (SELECT vec_id, e, nrm, ${bucketSql("e")} AS bkt FROM base),
         |pe AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         |  round(${dotSql("q.e", "c.e", Dim)} / (q.nrm * c.nrm), 6) AS cos
         |  FROM b2 q JOIN b2 c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < $QuerySet),
         |ex AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rnk
         |  FROM pe) WHERE rnk <= $K),
         |$pointCtes
         |$pointRows
         |ORDER BY bits, radius""".stripMargin
    },

    "ann_ivf_recall_frontier" -> {
      // per-point: query dot prefix + argmax-then-mask probe steps
      // (ann_ivf_topk's chain, parameterized by cell count), corpus cell
      // assignment over the same prefix, exact-cosine join, rank; one
      // UNION ALL row per grid point
      val pointCtes = IvfFrontierGrid.map { case (nc, p) =>
        val t = s"${nc}_$p"
        val steps = (1 to p).map { k =>
          val prev = if (k == 1) s"d_$t" else s"s${k - 1}_$t"
          val carry = (1 until k).map(q => s"c$q, ").mkString
          s"""t${k}_$t AS (SELECT vec_id, e, nrm, ${carry}ds$k,
             |  list_position(ds$k, list_max(ds$k)) AS c$k FROM $prev),
             |s${k}_$t AS (SELECT vec_id, e, nrm, ${carry}c$k,
             |  list_transform(range(1, ${nc + 1}),
             |    i -> CASE WHEN i = c$k THEN -1e308 ELSE ds$k[i] END) AS ds${k + 1}
             |  FROM t${k}_$t)""".stripMargin
        }.mkString(",\n")
        val probeList = (1 to p).map(k => s"c$k").mkString("[", ", ", "]")
        s"""d_$t AS (SELECT vec_id, e, nrm, ${centroidDotsSqlN("e", nc)} AS ds1
           |  FROM base WHERE vec_id < $QuerySet),
           |$steps,
           |pr_$t AS (SELECT vec_id, e, nrm, unnest($probeList) AS probe FROM s${p}_$t),
           |cl_$t AS (SELECT vec_id, e, nrm,
           |  list_position(${centroidDotsSqlN("e", nc)},
           |    list_max(${centroidDotsSqlN("e", nc)})) AS cell FROM base),
           |cd_$t AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
           |  round(${dotSql("q.e", "c.e", Dim)} / (q.nrm * c.nrm), 6) AS cos
           |  FROM pr_$t q JOIN cl_$t c
           |    ON q.probe = c.cell AND q.vec_id <> c.vec_id),
           |rk_$t AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
           |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rnk
           |  FROM cd_$t) WHERE rnk <= $K)""".stripMargin
      }.mkString(",\n")
      val pointRows = IvfFrontierGrid.map { case (nc, p) =>
        val t = s"${nc}_$p"
        s"""SELECT CAST($nc AS BIGINT) AS cells, CAST($p AS BIGINT) AS probes,
           |  (SELECT count(*) FROM cd_$t) AS n_cand,
           |  (SELECT count(*) FROM ex WHERE EXISTS (SELECT 1 FROM rk_$t g
           |     WHERE g.q_id = ex.q_id AND g.cand_id = ex.cand_id)) AS hits,
           |  (SELECT count(*) FROM ex) AS total,
           |  round(CAST((SELECT count(*) FROM ex WHERE EXISTS
           |      (SELECT 1 FROM rk_$t g
           |       WHERE g.q_id = ex.q_id AND g.cand_id = ex.cand_id)) AS DOUBLE)
           |    / CAST((SELECT count(*) FROM ex) AS DOUBLE), 6) AS recall""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$baseSqlCte,
         |pe AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         |  round(${dotSql("q.e", "c.e", Dim)} / (q.nrm * c.nrm), 6) AS cos
         |  FROM base q JOIN base c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < $QuerySet),
         |ex AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rnk
         |  FROM pe) WHERE rnk <= $K),
         |$pointCtes
         |$pointRows
         |ORDER BY cells, probes""".stripMargin
    },

    "ann_knn_graph" ->
      s"""$knnGraphSqlCtes
         |SELECT q_id, cand_id, cos, rnk FROM r WHERE rnk <= $K
         |ORDER BY q_id, rnk""".stripMargin,

    "ann_knn_graph_sized" ->
      s"""WITH $sizedPbCteSql,
         |pl AS (SELECT ${planesSqlLit(planesFor(OraclePlanesCap))} AS p),
         |base AS (SELECT vec_id, embedding AS e,
         |  sqrt(${dotSql("embedding", "embedding", Dim)}) AS nrm FROM embeddings),
         |b2 AS (SELECT vec_id, e, nrm,
         |  ${sizedKeySql("e", "0", "par.pb")} AS bkt
         |  FROM base, par, pl),
         |p AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         |  round(${dotSql("q.e", "c.e", Dim)} / (q.nrm * c.nrm), 6) AS cos
         |  FROM b2 q JOIN b2 c ON q.bkt = c.bkt AND q.vec_id <> c.vec_id),
         |r AS (SELECT q_id, cand_id, cos,
         |  CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, cand_id) AS INTEGER) AS rnk
         |  FROM p)
         |SELECT q_id, cand_id, cos, rnk FROM r WHERE rnk <= $K
         |ORDER BY q_id, rnk""".stripMargin,

    "ann_mutual_knn" ->
      s"""$knnGraphSqlCtes,
         |g AS (SELECT q_id, cand_id, cos FROM r WHERE rnk <= $K),
         |fwd AS (SELECT q_id AS a, cand_id AS b, cos FROM g WHERE q_id < cand_id),
         |rev AS (SELECT cand_id AS a, q_id AS b FROM g WHERE q_id > cand_id)
         |SELECT f.a, f.b, f.cos FROM fwd f
         |WHERE EXISTS (SELECT 1 FROM rev v WHERE v.a = f.a AND v.b = f.b)
         |ORDER BY a, b""".stripMargin,

    "ann_knn_components" ->
      s"""WITH RECURSIVE ${knnGraphSqlCtes.stripPrefix("WITH ")},
         |g AS (SELECT q_id, cand_id FROM r WHERE rnk <= $K),
         |fwd AS (SELECT q_id AS a, cand_id AS b FROM g WHERE q_id < cand_id),
         |rev AS (SELECT cand_id AS a, q_id AS b FROM g WHERE q_id > cand_id),
         |mut AS (SELECT f.a, f.b FROM fwd f
         |  WHERE EXISTS (SELECT 1 FROM rev v WHERE v.a = f.a AND v.b = f.b)),
         |und AS (SELECT a AS src, b AS dst FROM mut UNION ALL SELECT b, a FROM mut),
         |reach AS (SELECT vec_id AS id, vec_id AS cc FROM embeddings
         |          UNION
         |          SELECT u.dst, r2.cc FROM reach r2 JOIN und u ON u.src = r2.id),
         |comp AS (SELECT id AS vec_id, min(cc) AS component_id FROM reach GROUP BY id)
         |SELECT vec_id, component_id FROM comp ORDER BY vec_id""".stripMargin,

    "ann_lsh_buckets" ->
      s"""$baseSqlCte
         |SELECT ${bucketSql("e")} AS bucket, count(*) AS n
         |FROM base GROUP BY 1 ORDER BY bucket""".stripMargin,

    "ann_ivf_topk" -> {
      // same iterative argmax-then-mask chain as the Spark side: two CTEs
      // per probe step (pick the argmax, then mask it for the next step),
      // carrying the already-chosen probe cells forward
      val steps = (1 to IvfProbes).map { k =>
        val prev = if (k == 1) "d" else s"s${k - 1}"
        val carry = (1 until k).map(p => s"c$p, ").mkString
        s"""t$k AS (SELECT vec_id, e, nrm, ${carry}ds$k,
           |  list_position(ds$k, list_max(ds$k)) AS c$k FROM $prev),
           |s$k AS (SELECT vec_id, e, nrm, ${carry}c$k,
           |  list_transform(range(1, ${IvfCells + 1}),
           |    i -> CASE WHEN i = c$k THEN -1e308 ELSE ds$k[i] END) AS ds${k + 1}
           |  FROM t$k)""".stripMargin
      }.mkString(",\n")
      val probeList = (1 to IvfProbes).map(k => s"c$k").mkString("[", ", ", "]")
      s"""$baseSqlCte,
         |d AS (SELECT vec_id, e, nrm, ${centroidDotsSql("e")} AS ds1 FROM base
         |      WHERE vec_id < $QuerySet),
         |$steps,
         |pr AS (SELECT vec_id, e, nrm, unnest($probeList) AS probe FROM s$IvfProbes),
         |c AS (SELECT vec_id, e, nrm,
         |  list_position(${centroidDotsSql("e")}, list_max(${centroidDotsSql("e")})) AS cell
         |  FROM base),
         |p AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         |  round(${dotSql("q.e", "c.e", Dim)} / (q.nrm * c.nrm), 6) AS cos
         |  FROM pr q JOIN c ON q.probe = c.cell AND q.vec_id <> c.vec_id),
         |r AS (SELECT q_id, cand_id, cos,
         |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS INTEGER) AS rnk
         |  FROM p)
         |SELECT q_id, cand_id, cos, rnk FROM r WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin
    },

    "ann_ivf_cells" ->
      s"""$baseSqlCte,
         |d AS (SELECT ${centroidDotsSql("e")} AS ds FROM base)
         |SELECT CAST(list_position(ds, list_max(ds)) AS BIGINT) AS cell, count(*) AS n
         |FROM d GROUP BY 1 ORDER BY cell""".stripMargin,

    "ann_pq_adc_topk" -> {
      val luts = (0 until PqBlocks).map(b => s"ds$b AS lut$b").mkString(", ")
      val cs = (0 until PqBlocks)
        .map(b => s"list_position(ds$b, list_min(ds$b)) AS c$b").mkString(", ")
      val adcSum = (0 until PqBlocks).map(b => s"lut$b[c$b]").mkString(" + ")
      s"""WITH $pqDistCtes,
         |c AS (SELECT vec_id AS cand_id, $cs FROM d),
         |q AS (SELECT vec_id AS q_id, $luts FROM d WHERE vec_id < $QuerySet),
         |p AS (SELECT q_id, cand_id, round($adcSum, 6) AS adc
         |  FROM c JOIN q ON q_id <> cand_id),
         |r AS (SELECT q_id, cand_id, adc,
         |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc, cand_id) AS INTEGER) AS rnk
         |  FROM p)
         |SELECT q_id, cand_id, adc, rnk FROM r WHERE rnk <= $K
         |ORDER BY q_id, rnk""".stripMargin
    },

    "emb_quantize_pq" -> {
      val codes = (0 until PqBlocks)
        .map(b => s"CAST(list_position(ds$b, list_min(ds$b)) - 1 AS VARCHAR)")
        .mkString("[", ", ", "]")
      val err = (0 until PqBlocks).map(b => s"list_min(ds$b)").mkString(" + ")
      s"""WITH $pqDistCtes
         |SELECT vec_id, array_to_string($codes, ',') AS codes,
         |  round($err, 6) AS recon_err2
         |FROM d ORDER BY vec_id""".stripMargin
    },

    "emb_quantize_pq_trained" ->
      s"""WITH ${pqTrainCtes(PqTrainRounds)}
         |SELECT vec_id,
         |  string_agg(CAST(code AS VARCHAR), ',' ORDER BY b) AS codes,
         |  CAST(sum(CAST(round(dist2, 6) AS DECIMAL(18, 6))) AS DOUBLE) AS recon_err2
         |FROM fa GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "emb_pq_train_gain" -> {
      val err = (0 until PqBlocks).map(b => s"list_min(ds$b)").mkString(" + ")
      s"""WITH ${pqTrainCtes(PqTrainRounds)},
         |${pqDistCtes},
         |sv AS (SELECT vec_id, round($err, 6) AS recon_err2 FROM d),
         |tv AS (SELECT vec_id,
         |    CAST(sum(CAST(round(dist2, 6) AS DECIMAL(18, 6))) AS DOUBLE) AS recon_err2
         |  FROM fa GROUP BY vec_id),
         |sm AS (SELECT CAST(sum(CAST(recon_err2 AS DECIMAL(20, 6))) AS DOUBLE) AS se,
         |    count(*) AS n FROM sv),
         |tm AS (SELECT CAST(sum(CAST(recon_err2 AS DECIMAL(20, 6))) AS DOUBLE) AS se,
         |    count(*) AS n FROM tv)
         |SELECT 'seeded' AS variant, round(se / n, 6) AS mean_err2 FROM sm
         |UNION ALL
         |SELECT 'trained', round(se / n, 6) FROM tm
         |ORDER BY variant""".stripMargin
    },

    "ann_pq_trained_topk" ->
      s"""WITH ${pqTrainCtes(PqTrainRounds)},
         |ql AS (SELECT v.vec_id AS q_id, v.b, c.cid,
         |    v.xx - 2 * ${dotSql("v.xs", "c.c", PqSub)} + ${dotSql("c.c", "c.c", PqSub)} AS dist
         |  FROM bx v JOIN tc$PqTrainRounds c ON v.b = c.b
         |  WHERE v.vec_id < $QuerySet),
         |pd AS (SELECT q.q_id, f.vec_id AS cand_id,
         |    CAST(sum(CAST(round(q.dist, 9) AS DECIMAL(20, 9))) AS DOUBLE) AS adcd
         |  FROM fa f JOIN ql q ON f.b = q.b AND f.code = q.cid
         |    AND q.q_id <> f.vec_id
         |  GROUP BY q.q_id, f.vec_id),
         |pr AS (SELECT q_id, cand_id, round(adcd, 6) AS adc,
         |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY round(adcd, 6), cand_id) AS INTEGER) AS rnk
         |  FROM pd)
         |SELECT q_id, cand_id, adc, rnk FROM pr WHERE rnk <= $K
         |ORDER BY q_id, rnk""".stripMargin,

    "ann_hard_negatives" ->
      s"""WITH bl AS (SELECT vec_id, label,
         |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e FROM embeddings),
         |b2 AS (SELECT vec_id, label, e, sqrt(${dotSql("e", "e", Dim)}) AS nrm FROM bl),
         |p AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         |  round(${dotSql("q.e", "c.e", Dim)} / (q.nrm * c.nrm), 6) AS cos
         |  FROM b2 q JOIN b2 c ON q.vec_id <> c.vec_id AND q.label <> c.label
         |  WHERE q.vec_id < $QuerySet),
         |r AS (SELECT q_id, cand_id, cos,
         |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS INTEGER) AS rnk
         |  FROM p)
         |SELECT q_id, cand_id, cos, rnk FROM r WHERE rnk <= $K
         |ORDER BY q_id, rnk""".stripMargin,

    "contrastive_examples" ->
      s"""$contrastiveSqlCtes
         |SELECT anchor_id, pos_id, pos_cos, negs, n_negs
         |FROM ex ORDER BY anchor_id""".stripMargin,

    "contrastive_batches" ->
      s"""$contrastiveSqlCtes,
         |rk AS (SELECT *, ${h60Sql("'cb:' || CAST(anchor_id AS VARCHAR)")} AS skey
         |  FROM ex),
         |rr AS (SELECT *, row_number() OVER (ORDER BY skey, anchor_id) AS rnk2
         |  FROM rk),
         |mm AS (SELECT (rnk2 - 1) // $BatchB AS batch_id, anchor_id,
         |    unnest(list_concat([anchor_id, pos_id],
         |      list_transform(string_split(negs, ','),
         |        x -> CAST(x AS BIGINT)))) AS member
         |  FROM rr)
         |SELECT batch_id, count(DISTINCT anchor_id) AS n_examples,
         |  count(*) AS n_slots, count(DISTINCT member) AS n_distinct,
         |  count(*) - count(DISTINCT member) AS n_collisions
         |FROM mm GROUP BY batch_id ORDER BY batch_id""".stripMargin,

    "knn_label_eval" ->
      s"""$knnGraphSqlCtes,
         |g AS (SELECT q_id, cand_id FROM r WHERE rnk <= $K),
         |v AS (SELECT g.q_id, e.label AS cl, count(*) AS n_votes
         |  FROM g JOIN embeddings e ON g.cand_id = e.vec_id GROUP BY 1, 2),
         |pr AS (SELECT q_id AS vec_id, cl AS pred FROM
         |  (SELECT *, row_number() OVER (PARTITION BY q_id
         |     ORDER BY n_votes DESC, cl) AS vr FROM v) WHERE vr = 1),
         |sc AS (SELECT e.label, pr.pred FROM pr JOIN embeddings e USING (vec_id))
         |SELECT label, count(*) AS n_scored,
         |  CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  round(CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS acc
         |FROM sc GROUP BY label ORDER BY label""".stripMargin,

    "emb_rp_project" ->
      s"""$baseSqlCte,
         |bp AS (SELECT vec_id, e, nrm, ${rpProjectSql("e")} AS p FROM base)
         |SELECT vec_id,
         |  array_to_string(list_transform(p,
         |    v -> CAST(CAST(round(v * 1000000.0) AS BIGINT) AS VARCHAR)), ',') AS proj_q6,
         |  round(sqrt(${dotSql("p", "p", RpDim)})
         |    / (sqrt(${RpDim}.0) * nrm), 6) AS norm_ratio
         |FROM bp ORDER BY vec_id""".stripMargin,

    "ann_rp_rerank_topk" ->
      s"""$baseSqlCte,
         |bp AS (SELECT vec_id, e, nrm, ${rpProjectSql("e")} AS p FROM base),
         |s1 AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         |    q.e AS qe, q.nrm AS qn, c.e AS ce, c.nrm AS cn,
         |    ${dotSql("q.p", "q.p", RpDim)} - 2 * ${dotSql("q.p", "c.p", RpDim)}
         |      + ${dotSql("c.p", "c.p", RpDim)} AS pd2
         |  FROM bp q JOIN bp c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < $QuerySet),
         |sl AS (SELECT q_id, cand_id, qe, qn, ce, cn FROM
         |  (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY pd2, cand_id) AS srn
         |   FROM s1) WHERE srn <= $RpShortlist),
         |p AS (SELECT q_id, cand_id,
         |    round(${dotSql("qe", "ce", Dim)} / (qn * cn), 6) AS cos FROM sl),
         |r AS (SELECT q_id, cand_id, cos,
         |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS INTEGER) AS rnk
         |  FROM p)
         |SELECT q_id, cand_id, cos, rnk FROM r WHERE rnk <= $K
         |ORDER BY q_id, rnk""".stripMargin,

    "ann_ivfpq_topk" -> {
      val R = Clustering.Rounds
      val T = PqTrainRounds
      s"""WITH ${Clustering.lloydCtes(R)},
         |b2c AS (SELECT vec_id, x, ${dotSql("x", "x", Dim)} AS xx FROM e),
         |dd AS (SELECT v.vec_id, v.x, v.xx, c.cid, c.c,
         |    v.xx - 2 * ${dotSql("v.x", "c.c", Dim)} + ${dotSql("c.c", "c.c", Dim)} AS dist2
         |  FROM b2c v CROSS JOIN c$R c),
         |asg AS (SELECT vec_id, cid AS cell, x, c FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
         |   FROM dd) WHERE rn = 1),
         |res AS (SELECT vec_id,
         |    list_transform(range(1, ${Dim + 1}), i -> x[i] - c[i]) AS x FROM asg),
         |${pqTrainCtesFrom(T, "res")},
         |fc AS (SELECT f.vec_id AS cand_id, a.cell, f.b, f.code
         |  FROM fa f JOIN asg a ON f.vec_id = a.vec_id),
         |qp AS (SELECT vec_id AS q_id, cid AS cell,
         |    list_transform(range(1, ${Dim + 1}), i -> x[i] - c[i]) AS qres FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
         |   FROM dd WHERE vec_id < $QuerySet) WHERE rn <= ${Clustering.TrainedProbes}),
         |qbk AS (SELECT q_id, cell, b, qres[b * $PqSub + 1:(b + 1) * $PqSub] AS xs
         |  FROM qp, (SELECT unnest(range(0, $PqBlocks)) AS b) t),
         |qx AS (SELECT q_id, cell, b, xs, ${dotSql("xs", "xs", PqSub)} AS xx FROM qbk),
         |qlut AS (SELECT q.q_id, q.cell, q.b, c.cid AS pqcid,
         |    q.xx - 2 * ${dotSql("q.xs", "c.c", PqSub)} + ${dotSql("c.c", "c.c", PqSub)} AS dist
         |  FROM qx q JOIN tc$T c ON q.b = c.b),
         |pd AS (SELECT l.q_id, f.cand_id,
         |    CAST(sum(CAST(round(l.dist, 9) AS DECIMAL(20, 9))) AS DOUBLE) AS adcd
         |  FROM fc f JOIN qlut l ON f.cell = l.cell AND f.b = l.b AND f.code = l.pqcid
         |    AND l.q_id <> f.cand_id
         |  GROUP BY l.q_id, f.cand_id),
         |pr AS (SELECT q_id, cand_id, round(adcd, 6) AS adc,
         |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY round(adcd, 6), cand_id) AS INTEGER) AS rnk
         |  FROM pd)
         |SELECT q_id, cand_id, adc, rnk FROM pr WHERE rnk <= $K
         |ORDER BY q_id, rnk""".stripMargin
    },

    "emb_quantize_sq8" -> {
      val xi = "CAST(embedding[i] AS DOUBLE)"
      val scaleI = "greatest(mxs[i] - mns[i], 1e-300)"
      val codeI = s"floor((($xi - mns[i]) * 255.0) / $scaleI)"
      s"""WITH d AS (SELECT generate_subscripts(embedding, 1) AS dim,
         |    CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
         |st AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM d GROUP BY dim),
         |sa AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs FROM st)
         |SELECT vec_id,
         |  array_to_string(list_transform(range(1, ${Dim + 1}),
         |    i -> CAST(CAST($codeI AS INTEGER) AS VARCHAR)), ',') AS q,
         |  round(list_sum(list_transform(range(1, ${Dim + 1}), i ->
         |    abs($xi - (mns[i] + (CAST($codeI AS DOUBLE) + 0.5)
         |      * ($scaleI / 255.0))))), 6) AS recon_err
         |FROM embeddings CROSS JOIN sa ORDER BY vec_id""".stripMargin
    },

    "emb_quantize_binary" ->
      s"""$binaryBitsCtes
         |SELECT vec_id, bits_lo, bits_hi,
         |  CAST(bit_count(bits_lo) + bit_count(bits_hi) AS BIGINT) AS n_set
         |FROM p ORDER BY vec_id""".stripMargin,

    "ann_hamming_topk" ->
      s"""$binaryBitsCtes,
         |q AS (SELECT vec_id AS q_id, bits_lo AS qlo, bits_hi AS qhi
         |  FROM p WHERE vec_id < $QuerySet),
         |pr AS (SELECT q.q_id, c.vec_id AS cand_id,
         |    CAST(bit_count(xor(q.qlo, c.bits_lo))
         |      + bit_count(xor(q.qhi, c.bits_hi)) AS BIGINT) AS hamming
         |  FROM q JOIN p c ON q.q_id <> c.vec_id),
         |r AS (SELECT q_id, cand_id, hamming,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY hamming, cand_id) AS INTEGER) AS rnk FROM pr)
         |SELECT q_id, cand_id, hamming, rnk FROM r WHERE rnk <= $K
         |ORDER BY q_id, rnk""".stripMargin,

    "ann_hamming_recall" ->
      s"""$binaryBitsCtes,
         |q AS (SELECT vec_id AS q_id, bits_lo AS qlo, bits_hi AS qhi
         |  FROM p WHERE vec_id < $QuerySet),
         |hr AS (SELECT q_id, cand_id FROM (SELECT q.q_id, c.vec_id AS cand_id,
         |    CAST(row_number() OVER (PARTITION BY q.q_id ORDER BY
         |      bit_count(xor(q.qlo, c.bits_lo)) + bit_count(xor(q.qhi, c.bits_hi)),
         |      c.vec_id) AS INTEGER) AS rnk
         |  FROM q JOIN p c ON q.q_id <> c.vec_id) WHERE rnk <= $K),
         |base AS (SELECT vec_id, embedding AS e,
         |  sqrt(${dotSql("embedding", "embedding", Dim)}) AS nrm FROM embeddings),
         |pe AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         |  round(${dotSql("q.e", "c.e", Dim)} / (q.nrm * c.nrm), 6) AS cos
         |  FROM base q JOIN base c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < $QuerySet),
         |ex AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rnk
         |  FROM pe) WHERE rnk <= $K),
         |tot AS (SELECT count(*) AS total FROM ex),
         |hm AS (SELECT count(*) AS hits FROM ex
         |  WHERE EXISTS (SELECT 1 FROM hr WHERE hr.q_id = ex.q_id AND hr.cand_id = ex.cand_id))
         |SELECT 'hamming64' AS variant, hits, total,
         |  round(CAST(hits AS DOUBLE) / CAST(total AS DOUBLE), 6) AS recall
         |FROM hm, tot""".stripMargin,

    "emb_standardize_stats" ->
      s"""$standardizeSqlCte
         |SELECT dim, round(mean, 6) AS mean, round(std, 6) AS std
         |FROM ms ORDER BY dim""".stripMargin,

    "emb_standardize" ->
      s"""$standardizeSqlCte
         |SELECT vec_id, string_agg(CAST(
         |    CAST(round((CAST(x9 AS DOUBLE)/1e9 - mean)/std*1e6) AS BIGINT)
         |    AS VARCHAR), ',' ORDER BY dim) AS z
         |FROM d JOIN ms USING (dim)
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin
  )

  /** CTEs mirroring [[embDims9]] + [[standardizeStats]]: 1e-9-quantized
    * values, HUGEINT square sums (the DECIMAL(38,0) analog), identical
    * final double division order.
    */
  private def standardizeSqlCte: String = {
    val meanSql = "CAST(s9 AS DOUBLE)/1e9/CAST(n AS DOUBLE)"
    s"""WITH d AS (SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE)*1e9) AS BIGINT) AS x9
       |  FROM embeddings),
       |st AS (SELECT dim, count(*) AS n, sum(x9) AS s9,
       |    sum(CAST(x9 AS HUGEINT)*x9) AS ssq FROM d GROUP BY dim),
       |ms AS (SELECT dim, $meanSql AS mean,
       |    sqrt(CAST(ssq AS DOUBLE)/1e18/CAST(n AS DOUBLE)
       |         - ($meanSql) * ($meanSql)) AS std
       |  FROM st)""".stripMargin
  }
}
