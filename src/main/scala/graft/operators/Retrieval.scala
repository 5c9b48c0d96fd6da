package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Graft.{fill, persist}
import graft.Tables._
import TextHash._

/** Retrieval primitives a training-data pipeline needs around its corpus:
  * Okapi BM25 term scoring / top-k ranking (the classic lexical retriever —
  * the usual first-stage filter in front of embedding re-rankers, and the
  * standard tool for "find training docs matching this eval prompt" leakage
  * hunts), and fixed-width overlapping character chunking (RAG-style
  * windowing that turns long documents into model-sized pieces).
  *
  * The reference has nothing in this category (SURVEY.md §2.5 extensions).
  *
  * 100 TB shape:
  *   - BM25: tf aggregates on (doc_id, term) with map-side combine after an
  *     early `isin(queryTerms)` filter — the corpus token stream is pruned
  *     to the query vocabulary BEFORE the shuffle, so the exchanged
  *     relation is (docs containing a query term) × (query terms), not the
  *     token stream. df/N/avgdl are vocabulary/corpus-constant-sized and
  *     broadcast back. No all-pairs anything; one shuffle.
  *   - top-k per term goes through row_number ≤ k — the exact Filter-over-
  *     Window shape `RewriteGroupTopK` turns into the bounded-heap
  *     partial/final operator, so ≤ k rows per term per partition cross
  *     the shuffle.
  *   - chunking is a pure per-row explode (no shuffle at all): each doc
  *     emits its window starts from `sequence`, then substring — stays
  *     inside whole-stage codegen.
  *
  * Cross-engine determinism: BM25 is double arithmetic on identical
  * operands in an identical expression shape (the SQL is written
  * literal-for-literal like the Column expression, left-associative in
  * both), rounded to 6 dp at the end; multi-term totals go through the
  * fixed-point sum discipline (scaled-long sums are associative; double
  * sums are partial-agg-order dependent).
  */
object Retrieval {

  /** Okapi parameters, pre-folded: K1 = 1.2, B = 0.75 -> k1+1 = 2.2,
    * 1-b = 0.25. Kept as literals so Spark and DuckDB parse the identical
    * expression tree.
    */
  private val QueryTerms = Seq("join", "vector", "scan", "filter")
  // private[graft]: RetrievalSpec's fused-vs-semantic-leg nontriviality
  // check compares against this same cutoff (a drifted literal there would
  // make the check vacuous — r10 advisory)
  private[graft] val TopK = 10
  /** Retrieval-eval list depth and binary-relevance tf threshold. */
  private val EvalK = 100
  /** Cutoff for retrieval_ndcg. */
  private val NdcgK = 10
  private val RelTf = 3
  /** RRF dampening constant (the standard 60 from Cormack et al.). */
  val RrfK = 60
  /** Chunk window / stride in characters (stride < width -> overlap). */
  val ChunkWidth = 120
  val ChunkStride = 90

  /** Per-(term, doc) BM25 over the query vocabulary.
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5));
    * score = idf * tf*(k1+1) / (tf + k1*((1-b) + b*dl/avgdl)).
    */
  private def bm25(s: SparkSession, d: String): DataFrame = {
    val docs = persist(documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).cast("long").as("dl")))
    // Prune to the query vocabulary BEFORE the (doc_id, term) shuffle.
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("t")).as("term"))
      .where(col("term").isin(QueryTerms: _*))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
    // the `corpus` and `dfreq` broadcast builds and the tf probe would
    // each re-tokenize the corpus (toks() is the dominant per-row cost of
    // the bm25 family); filling tf also fills docs transitively
    fill(tf, "Retrieval.bm25/tf")
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val corpus = docs.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(corpus))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("score", round(
        col("idf") * (col("tf") * lit(2.2))
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))),
        6))
  }

  /** Doc chunk windows: one row per (doc, window start). Pure map-side.
    * Rides [[TextHash.ownedPositions]] on the ChunkStride grid with
    * fullWindowOnly=false (tail windows shorter than ChunkWidth are
    * real RAG chunks): the direct substr(text, s+1, W) loop scans O(s)
    * chars per window — quadratic on long docs.
    */
  private def chunks(s: SparkSession, d: String): DataFrame =
    TextHash.ownedPositions(
        documents(s, d).select("doc_id", "source", "text"),
        window = ChunkWidth, stride = 8 * ChunkStride, grid = ChunkStride,
        fullWindowOnly = false, carry = Seq("source"))
      .select(col("doc_id"), col("source"),
        ((col("i") - 1) / ChunkStride).cast("long").as("chunk_id"),
        (col("i") - 1).cast("long").as("chunk_start"),
        col("chunk").substr(col("li"), lit(ChunkWidth)).as("chunk"))
      .withColumn("chunk_len", length(col("chunk")).cast("long"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Full BM25 score table for the query vocabulary.
    "bm25_scores" -> { (s, d) =>
      bm25(s, d)
        .select("term", "doc_id", "tf", "dl", "score")
        .orderBy("term", "doc_id")
    },

    // Top-10 docs per query term — the Filter-over-Window shape the
    // GroupTopK whole-operator rewrite picks up.
    "bm25_topk" -> { (s, d) =>
      val w = Window.partitionBy("term").orderBy(col("score").desc, col("doc_id"))
      bm25(s, d)
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= TopK)
        .select("term", "doc_id", "score", "rnk")
        .orderBy("term", "rnk")
    },

    // Multi-term query: additive BM25 over all query terms per doc, top-10
    // docs. Per-term 6-dp scores go through the fixed-point sum (scaled
    // longs) so the total is partial-agg-order independent.
    // Hybrid retrieval via reciprocal-rank fusion: per term, the BM25
    // relevance ranking fuses with the corpus-wide quality ranking (the
    // static prior) as 1/(60+r_rel) + 1/(60+r_prior) — the standard RRF
    // combiner, rank-based so the two signals need no score calibration.
    // Fusion math runs on exact integer ranks (identical doubles in both
    // engines); the quality rank rides Ranking.globalRank, so the prior
    // never crosses one task.
    "retrieval_rrf" -> { (s, d) =>
      val wB = Window.partitionBy("term").orderBy(col("score").desc, col("doc_id"))
      val bm = bm25(s, d)
        .withColumn("r_bm25", row_number().over(wB))
        .select("term", "doc_id", "r_bm25")
      val q = TextAnalysis.stats(documents(s, d).select("doc_id", "text"))
        .select(col("doc_id"), col("quality_score"))
      val qr = Ranking.globalRank(q, Seq(desc("quality_score"), asc("doc_id")))
        .select(col("doc_id"), col("rank").as("r_quality"))
      val wF = Window.partitionBy("term").orderBy(col("rrf").desc, col("doc_id"))
      bm.join(qr, "doc_id")
        .withColumn("rrf",
          lit(1.0) / (lit(RrfK) + col("r_bm25")) +
            lit(1.0) / (lit(RrfK) + col("r_quality")))
        .withColumn("rnk", row_number().over(wF))
        .where(col("rnk") <= TopK)
        .select(col("term"), col("doc_id"), round(col("rrf"), 6).as("rrf"), col("rnk"))
        .orderBy("term", "rnk")
    },

    "bm25_query_topk" -> { (s, d) =>
      bm25(s, d)
        .groupBy("doc_id")
        .agg(sum(round(col("score") * lit(1e6)).cast("long")).as("s6"),
          count(lit(1)).as("n_terms"))
        .select(col("doc_id"), col("n_terms"),
          (col("s6").cast("double") / lit(1e6)).as("qscore"))
        .orderBy(col("qscore").desc, col("doc_id"))
        .limit(TopK)
    },

    // Rank-quality metrics for the BM25 rankings: per query term, MRR,
    // precision@5 and average precision over the top-EvalK retrieved
    // list, against deterministic binary relevance (tf >= RelTf — BM25's
    // length normalization reorders raw tf, so the metrics are
    // nontrivial). Truncating to the retrieved list first is both the
    // standard IR protocol (metrics@k) and the scale guard: the
    // truncation is a row_number-over-window filter (the GroupTopK
    // whole-operator path), after which every window runs over ≤ EvalK
    // rows per term. AP's precision contributions are summed as 6-dp
    // scaled longs (exact, order-free) with one double division at the
    // end — the same fixed-point discipline as bm25_query_topk.
    "retrieval_eval" -> { (s, d) =>
      val w = Window.partitionBy("term").orderBy(col("score").desc, col("doc_id"))
      val ranked = bm25(s, d)
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= EvalK)
        .withColumn("rel", col("tf") >= RelTf)
      val cw = Window.partitionBy("term").orderBy("rnk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ranked
        .withColumn("cum_rel",
          sum(when(col("rel"), 1L).otherwise(0L)).over(cw))
        .groupBy("term")
        .agg(
          count(lit(1)).as("n_ranked"),
          sum(when(col("rel"), 1L).otherwise(0L)).as("n_rel"),
          round(max(when(col("rel"), lit(1.0) / col("rnk")).otherwise(0.0)), 6)
            .as("mrr"),
          (sum(when(col("rel") && col("rnk") <= 5, 1L).otherwise(0L))
            .cast("double") / 5).as("p_at_5"),
          sum(when(col("rel"),
            round(col("cum_rel").cast("double") / col("rnk") * 1e6).cast("long"))
            .otherwise(0L)).as("ap6"))
        .withColumn("avg_precision",
          when(col("n_rel") === 0, lit(0.0))
            .otherwise(col("ap6").cast("double") / 1e6 / col("n_rel")))
        .drop("ap6")
        .orderBy("term")
    },

    // Phrase search through a POSITIONAL inverted index: occurrences of
    // the corpus' most frequent 3-token phrase, found by joining the
    // three words' posting lists on (doc_id, adjacent positions) — the
    // classic phrase-query plan. No LIKE/regex scan of document text:
    // the corpus tokenizes once into (doc_id, pos, tok) and everything
    // after is equi-joins, with the first word's (filtered, small)
    // posting list as the probe side. The phrase itself is picked
    // deterministically (max shingle count, lexicographic tie-break), so
    // the query is self-contained and non-vacuous at any scale.
    "phrase_search" -> { (s, d) =>
      val docs = documents(s, d).select("doc_id", "text")
      val pos = docs
        .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "tok")))
      fill(pos, "Retrieval.phrase_search/pos") // the three posting-list join legs
      val top = TextHash.shingleRows(docs)
        .groupBy("sh").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), asc("sh")).limit(1)
        .select(split(col("sh"), " ").as("w"))
        .select(element_at(col("w"), 1).as("w1"),
          element_at(col("w"), 2).as("w2"), element_at(col("w"), 3).as("w3"))
      val first = pos.crossJoin(broadcast(top))
        .where(col("tok") === col("w1")).as("a")
      first
        .join(pos.as("b"),
          col("b.doc_id") === col("a.doc_id") &&
            col("b.pos") === col("a.pos") + 1 && col("b.tok") === col("a.w2"))
        .join(pos.as("c3"),
          col("c3.doc_id") === col("a.doc_id") &&
            col("c3.pos") === col("a.pos") + 2 && col("c3.tok") === col("a.w3"))
        .groupBy(col("a.doc_id").as("doc_id"),
          concat_ws(" ", col("a.w1"), col("a.w2"), col("a.w3")).as("phrase"))
        .agg(count(lit(1)).as("n_occurrences"),
          min(col("a.pos")).cast("long").as("first_pos"))
        .orderBy("doc_id")
    },

    // Overlapping character windows (RAG chunking): width 120, stride 90.
    "chunk_overlap" -> { (s, d) =>
      chunks(s, d)
        .select("doc_id", "chunk_id", "chunk_start", "chunk_len", "chunk")
        .orderBy("doc_id", "chunk_id")
    },

    // Chunk-level exact dedup (chunking composed with the dedup pack):
    // a chunk is KEPT iff it is the first occurrence of its text in
    // (doc_id, chunk_id) order — repeated boilerplate windows drop even
    // when their parent documents differ elsewhere. Only 60-bit chunk
    // hashes + positions shuffle; per-doc audit reuses the doc_id key.
    "chunk_dedup_stats" -> { (s, d) =>
      val h = chunks(s, d).select(col("doc_id"), col("chunk_id"),
        TextHash.h60(col("chunk")).as("h"))
      val keep = h.groupBy("h")
        .agg(min(struct(col("doc_id"), col("chunk_id"))).as("first"))
        .select(col("h"), col("first.doc_id").as("kdoc"),
          col("first.chunk_id").as("kchunk"))
      h.join(keep, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("doc_id") === col("kdoc") &&
            col("chunk_id") === col("kchunk"), 1L).otherwise(0L)).as("n_kept"))
        .withColumn("kept_ratio",
          round(col("n_kept").cast("double") / col("n_chunks").cast("double"), 6))
        .orderBy("doc_id")
    },

    // Shard-level chunk audit: how many windows a source yields and their
    // mean width (fixed-point mean: exact long sum, two double divides).
    "chunk_stats" -> { (s, d) =>
      chunks(s, d)
        .groupBy("source")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum("chunk_len").as("sum_len"))
        .select(col("source"), col("n_docs"), col("n_chunks"),
          round(col("sum_len").cast("double") / col("n_chunks").cast("double"), 6)
            .as("mean_chunk_len"))
        .orderBy("source")
    },

    // nDCG@NdcgK completes the retrieval-metrics battery (MRR/P@5/AP in
    // retrieval_eval are binary-relevance; nDCG grades by GAIN — here the
    // raw term frequency — and discounts by rank): DCG over the system
    // ranking vs ideal DCG over the same judged set re-ranked by gain.
    // Per-position contributions are fixed-point longs (double summation
    // is partition-order-dependent); both rankings share one shuffle on
    // term. ndcg divides the ROUNDED dcg/idcg in both engines.
    "retrieval_ndcg" -> { (s, d) =>
      val ws = Window.partitionBy("term").orderBy(col("score").desc, col("doc_id"))
      val wi = Window.partitionBy("term").orderBy(col("tf").desc, col("doc_id"))
      val r = bm25(s, d)
        .withColumn("rnk", row_number().over(ws))
        .withColumn("irnk", row_number().over(wi))
      def contrib(rank: org.apache.spark.sql.Column) =
        when(rank <= NdcgK,
          round(col("tf").cast("double") /
            (log(rank.cast("double") + 1.0) / log(lit(2.0))) * 1e6).cast("long"))
          .otherwise(0L)
      r.groupBy("term")
        .agg(sum(contrib(col("rnk"))).as("d6"), sum(contrib(col("irnk"))).as("i6"))
        .select(col("term"),
          round(col("d6").cast("double") / 1e6, 6).as("dcg"),
          round(col("i6").cast("double") / 1e6, 6).as("idcg"))
        .withColumn("ndcg", round(col("dcg") / col("idcg"), 6))
        .orderBy("term")
    },

    // CONTENT-DEFINED chunking (the Rabin/FastCDC family used by dedup
    // storage systems and by substring-robust corpus dedup): a chunk
    // boundary falls wherever the hash of the trailing CdcW-char gram is
    // ≡ 0 mod CdcD, so boundaries move WITH the content — insert a word
    // and only the neighboring chunks change, where fixed-stride windows
    // (chunk_overlap) all shift and nothing dedups. Boundaries are
    // stateless per position (no min/max-size chaining), so each position
    // decides independently and the oracle is pure SQL. Scale shape: the
    // per-position gram hash is the dup_exact_spans cost model — every
    // char position hashed once, codegen'd md5, one shuffle on doc_id for
    // the per-doc boundary window (bounded by doc length); the substring
    // re-join rides the same doc_id partitioning.
    "cdc_chunks" -> { (s, d) =>
      cdcChunks(documents(s, d).select("doc_id", "text"))
        .orderBy("doc_id", "chunk_start")
    },

    // Corpus-level CDC dedup audit: distinct-chunk rate + length profile.
    // Only 60-bit chunk hashes aggregate. Both "distinct" counts come from
    // pre-grouped relations (per-hash tallies + a doc count), so no
    // aggregate mixes distinct with non-distinct — the multi-distinct
    // Expand (3x the input rows) never appears in the plan.
    "cdc_dedup_stats" -> { (s, d) =>
      val ch = cdcChunks(documents(s, d).select("doc_id", "text"))
        .select(col("doc_id"), col("chunk_len"), h60(col("chunk")).as("h"))
      val byHash = ch.groupBy("h")
        .agg(count(lit(1)).as("cnt"), sum("chunk_len").as("sl"))
        .agg(sum("cnt").as("n_chunks"), count(lit(1)).as("n_distinct_chunks"),
          sum("sl").as("sum_len"))
      val nDocs = ch.groupBy("doc_id").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_docs"))
      byHash.crossJoin(broadcast(nDocs))
        .select(col("n_docs"), col("n_chunks"), col("n_distinct_chunks"),
          round((col("n_chunks") - col("n_distinct_chunks")).cast("double") /
            col("n_chunks").cast("double"), 6).as("dup_chunk_frac"),
          round(col("sum_len").cast("double") / col("n_chunks").cast("double"), 6)
            .as("mean_chunk_len"))
    },

    // HYBRID retrieval fusion — the first query that joins the text and
    // embedding modalities: per query document, the exact-cosine semantic
    // ranking and the distinct-word-3-shingle Jaccard lexical ranking are
    // RRF-fused (1/(K+r) + 1/(K+r), the rank-level fusion production RAG
    // stacks run between a BM25 leg and a vector leg). Corpus: the
    // embedded prefix of the documents table (the seed-42 fixtures align
    // doc_id with vec_id; docs 0..|embeddings|-1 carry vectors). Scale
    // shape: the semantic leg is the ann_cosine_topk broadcast-query
    // brute scan (the production swap-in is the IVF/LSH leg); the lexical
    // leg ships 60-bit shingle keys through a query-side-filtered
    // inverted join (never all-pairs — the query batch is the small
    // side); the fusion joins two (|queries| × corpus) rank relations.
    // Both legs round scores to 6 dp BEFORE their rank windows and break
    // ties on cand_id, so ranks can never straddle an ulp; rrf itself is
    // exact rational arithmetic on integer ranks, rounded at 6 dp with
    // the same cand_id tie-break.
    "rag_hybrid_fusion" -> { (s, d) =>
      val b = Similarity.base(s, d) // (vec_id, e: array<double>, nrm)
      val docsE = documents(s, d).select(col("doc_id"), col("text"))
        .join(b.select(col("vec_id").as("doc_id"), col("e"), col("nrm")),
          "doc_id")
      fill(docsE, "Retrieval.rag_hybrid_fusion/docsE") // the semantic grid AND both lexical sides
      // semantic leg: FULL ranking of the embedded corpus per query
      val q = docsE.where(col("doc_id") < Similarity.QuerySet)
        .select(col("doc_id").as("q_id"), col("e").as("qe"),
          col("nrm").as("qn"))
      val c = docsE.select(col("doc_id").as("cand_id"), col("e").as("ce"),
        col("nrm").as("cn"))
      val ws = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
      val sem = persist(broadcast(q).join(c, col("q_id") =!= col("cand_id"))
        .select(col("q_id"), col("cand_id"),
          round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6)
            .as("cos"))
        .withColumn("r_sem", row_number().over(ws))) // scaffold for the lexical leg + the fusion join
      // lexical leg: distinct-shingle Jaccard, inverted 60-bit-key join
      val sh = shingleRows(docsE.select("doc_id", "text"))
        .select(col("doc_id"), h60(col("sh")).as("g")).distinct()
      fill(sh, "Retrieval.rag_hybrid_fusion/sh") // n + both sides of the intersection join
      val n = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
      val qsh = sh.where(col("doc_id") < Similarity.QuerySet)
        .select(col("doc_id").as("q_id"), col("g"))
      val inter = broadcast(qsh)
        .join(sh.select(col("doc_id").as("cand_id"), col("g")), "g")
        .where(col("q_id") =!= col("cand_id"))
        .groupBy("q_id", "cand_id").agg(count(lit(1)).as("ov"))
      // rank over the FULL semantic scaffold so zero-overlap candidates
      // still rank (jac 0); docs with < 3 tokens have no shingle rows —
      // coalesce + the greatest() guard keep 0/0 at exactly 0
      val jac = sem.select("q_id", "cand_id")
        .join(inter, Seq("q_id", "cand_id"), "left")
        .join(n.toDF("q_id", "na"), Seq("q_id"), "left")
        .join(n.toDF("cand_id", "nb"), Seq("cand_id"), "left")
        .select(col("q_id"), col("cand_id"),
          round(coalesce(col("ov"), lit(0L)).cast("double") /
            greatest(coalesce(col("na"), lit(0L)) + coalesce(col("nb"), lit(0L))
              - coalesce(col("ov"), lit(0L)), lit(1L)), 6).as("jac"))
      val wl = Window.partitionBy("q_id").orderBy(col("jac").desc, col("cand_id"))
      val lex = jac.withColumn("r_lex", row_number().over(wl))
      val wf = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("cand_id"))
      sem.select("q_id", "cand_id", "r_sem")
        .join(lex.select("q_id", "cand_id", "r_lex"), Seq("q_id", "cand_id"))
        .withColumn("rrf",
          round(lit(1.0) / (lit(RrfK) + col("r_sem"))
            + lit(1.0) / (lit(RrfK) + col("r_lex")), 6))
        .withColumn("rnk", row_number().over(wf))
        .where(col("rnk") <= TopK)
        .select(col("q_id"), col("cand_id"), col("r_sem"), col("r_lex"),
          col("rrf"), col("rnk"))
        .orderBy("q_id", "rnk")
    }
  )

  /** CDC gram width and boundary divisor (expected chunk ≈ CdcD chars). */
  val CdcW = 8
  val CdcD = 32

  /** (doc_id, chunk_start, chunk_len, chunk) content-defined chunks: cut
    * ends where h60(trailing CdcW-gram) % CdcD == 0, plus the document end;
    * chunks span consecutive cut ends. The sequence() is guarded (Spark
    * counts DOWN for sequence(1, n<1)); docs shorter than CdcW still emit
    * one whole-doc chunk via the document-end boundary.
    */
  def cdcChunks(docs: DataFrame): DataFrame = {
    graft.Graft.init(docs.sparkSession) // graft_h60 on any caller session
    val d = docs.select(col("doc_id"), col("text"), length(col("text")).as("n"))
    // chunked per-position gram scan (TextHash.ownedPositions): the
    // direct substr(text, p, CdcW) loop scans O(p) chars per position —
    // quadratic on long docs (ownedPositions also subsumes the old
    // n >= CdcW guard: shorter docs emit no positions)
    val cuts = TextHash.ownedPositions(d.select("doc_id", "text"), CdcW)
      .where(h60(col("chunk").substr(col("li"), lit(CdcW))) % CdcD === 0)
      .select(col("doc_id"), (col("i") + CdcW - 1).cast("long").as("e"))
    val ends = cuts
      .union(d.select(col("doc_id"), col("n").cast("long").as("e")))
      .distinct()
    val w = Window.partitionBy("doc_id").orderBy("e")
    val spans = ends
      .withColumn("b", coalesce(lag("e", 1).over(w), lit(0L)))
    // Chunk TEXT assembled from fixed-size BLOCKS, not the raw document:
    // substr(text, b+1, ...) scans O(b) chars from the string start, so
    // direct extraction costs O(len²/chunk) per long doc (the r10 probe
    // caught this stage grinding on 2.2M-char giants). Each span joins
    // its covering CdcBlock-char blocks (usually 1-2) and concatenates
    // the in-order pieces — per-piece scans bounded by the block.
    // ... and the BLOCK extraction substring is itself O(offset), so
    // cutting bs-char blocks straight from the raw document pays
    // len²/(2·bs) in extraction scans (~1.2e9 char-ops per 2.2M-char
    // giant). Two levels, like TextHash.ownedPositions: L1 super-blocks
    // of 64·bs chars from the document, bs-blocks from SUPER-BLOCK text —
    // len²/(2·64·bs) + len·32 char-ops. Each explode(array(...)) is a
    // Generate barrier so the substring materializes once per row.
    val bs = CdcBlock
    val L = TextHash.BlockChunks // 64
    val sb = L * bs
    val blocks = d
      .select(col("doc_id"), col("n"), col("text"),
        explode(sequence(lit(0L), expr(s"(n - 1) DIV $sb"))).as("sbid"))
      .select(col("doc_id"), col("sbid"),
        least(lit(L.toLong),
          expr(s"((n - 1) DIV $bs) + 1") - col("sbid") * L).as("nb"),
        explode(array(col("text").substr((col("sbid") * sb + 1).cast("int"),
          lit(sb)))).as("stext"))
      .select(col("doc_id"), col("sbid"), col("stext"),
        explode(sequence(lit(0L), col("nb") - 1)).as("j"))
      .select(col("doc_id"), (col("sbid") * L + col("j")).as("bid"),
        explode(array(col("stext").substr((col("j") * bs + 1).cast("int"),
          lit(bs)))).as("btext"))
    val pieces = spans
      .select(col("doc_id"), col("b"), col("e"),
        explode(sequence(expr(s"b DIV $bs"), expr(s"(e - 1) DIV $bs"))).as("bid"))
      .join(blocks, Seq("doc_id", "bid"))
      .select(col("doc_id"), col("b"), col("e"), col("bid"),
        col("btext").substr(
          (greatest(col("b"), col("bid") * bs) - col("bid") * bs + 1).cast("int"),
          (least(col("e"), (col("bid") + 1) * bs)
            - greatest(col("b"), col("bid") * bs)).cast("int")).as("piece"))
    pieces
      .groupBy("doc_id", "b", "e")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("bid"), col("piece")))),
        p => p.getField("piece")), "").as("chunk"))
      .select(col("doc_id"), (col("b") + 1).as("chunk_start"),
        (col("e") - col("b")).as("chunk_len"), col("chunk"))
  }

  /** Block size for [[cdcChunks]] text assembly (covering-block join). */
  val CdcBlock = 2048L

  // -------------------------------------------------------------- oracles

  private val termList = QueryTerms.map(t => s"'$t'").mkString(", ")

  /** CTEs mirroring [[bm25]] literal-for-literal. */
  private val bm25Cte =
    s"""docs AS (SELECT doc_id, ${toksSql("text")} AS t FROM documents),
       |dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, t FROM docs),
       |tf AS (SELECT doc_id, dl, term, count(*) AS tf
       |  FROM (SELECT doc_id, dl, unnest(t) AS term FROM dl)
       |  WHERE term IN ($termList) GROUP BY doc_id, dl, term),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |corpus AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
       |scored AS (SELECT term, doc_id, tf, dl,
       |    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
       |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl
       |        / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))), 6) AS score
       |  FROM tf JOIN dfq USING (term) CROSS JOIN corpus)""".stripMargin

  /** CTE mirroring [[chunks]]: DuckDB range() is end-exclusive where Spark
    * sequence() is end-inclusive -> range(0, n_chars, stride) ==
    * sequence(0, n_chars-1, stride) for n_chars >= 1 (fixture min is 48).
    */
  private val chunkCte =
    s"""c AS (SELECT doc_id, source,
       |    CAST(s / $ChunkStride AS BIGINT) AS chunk_id,
       |    s AS chunk_start,
       |    substr(text, CAST(s + 1 AS INTEGER), $ChunkWidth) AS chunk
       |  FROM (SELECT doc_id, source, text,
       |          unnest(range(0, n_chars, $ChunkStride)) AS s FROM documents)),
       |cl AS (SELECT *, CAST(length(chunk) AS BIGINT) AS chunk_len FROM c)""".stripMargin

  val oracles: Map[String, String] = Map(
    "bm25_scores" ->
      s"""WITH $bm25Cte
         |SELECT term, doc_id, tf, dl, score FROM scored
         |ORDER BY term, doc_id""".stripMargin,

    "bm25_topk" ->
      s"""WITH $bm25Cte,
         |r AS (SELECT term, doc_id, score,
         |    CAST(row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id)
         |      AS INTEGER) AS rnk
         |  FROM scored)
         |SELECT term, doc_id, score, rnk FROM r WHERE rnk <= $TopK
         |ORDER BY term, rnk""".stripMargin,

    "retrieval_rrf" ->
      s"""WITH $bm25Cte,
         |br AS (SELECT term, doc_id,
         |    row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id) AS r_bm25
         |  FROM scored),
         |tok2 AS (SELECT doc_id, text, ${toksSql("text")} AS t FROM documents),
         |qq AS (SELECT doc_id, ${TextAnalysis.qualitySql("t", "text")} AS qs FROM tok2),
         |qr AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY qs DESC, doc_id) AS r_quality FROM qq),
         |f AS (SELECT br.term, br.doc_id,
         |    1.0 / ($RrfK + r_bm25) + 1.0 / ($RrfK + r_quality) AS rrf
         |  FROM br JOIN qr ON br.doc_id = qr.doc_id),
         |fr AS (SELECT term, doc_id, rrf,
         |    CAST(row_number() OVER (PARTITION BY term ORDER BY rrf DESC, doc_id)
         |      AS INTEGER) AS rnk
         |  FROM f)
         |SELECT term, doc_id, round(rrf, 6) AS rrf, rnk FROM fr WHERE rnk <= $TopK
         |ORDER BY term, rnk""".stripMargin,

    "bm25_query_topk" ->
      s"""WITH $bm25Cte,
         |q AS (SELECT doc_id, count(*) AS n_terms,
         |    CAST(sum(CAST(round(score * 1000000.0) AS BIGINT)) AS BIGINT) AS s6
         |  FROM scored GROUP BY doc_id)
         |SELECT doc_id, n_terms, CAST(s6 AS DOUBLE) / 1000000.0 AS qscore
         |FROM q ORDER BY qscore DESC, doc_id LIMIT $TopK""".stripMargin,

    "retrieval_eval" ->
      s"""WITH $bm25Cte,
         |r AS (SELECT term, doc_id, tf, score,
         |    row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id) AS rnk
         |  FROM scored),
         |t AS (SELECT *, (tf >= $RelTf) AS rel FROM r WHERE rnk <= $EvalK),
         |c AS (SELECT *, sum(CASE WHEN rel THEN 1 ELSE 0 END) OVER
         |    (PARTITION BY term ORDER BY rnk ROWS UNBOUNDED PRECEDING) AS cum_rel
         |  FROM t),
         |a AS (SELECT term, count(*) AS n_ranked,
         |    CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
         |    round(max(CASE WHEN rel THEN CAST(1 AS DOUBLE)/rnk ELSE 0.0 END), 6)
         |      AS mrr,
         |    CAST(sum(CASE WHEN rel AND rnk <= 5 THEN 1 ELSE 0 END) AS DOUBLE)/5
         |      AS p_at_5,
         |    CAST(sum(CASE WHEN rel THEN
         |        CAST(round(CAST(cum_rel AS DOUBLE)/rnk*1000000.0) AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS ap6
         |  FROM c GROUP BY term)
         |SELECT term, n_ranked, n_rel, mrr, p_at_5,
         |  CASE WHEN n_rel = 0 THEN 0.0
         |       ELSE CAST(ap6 AS DOUBLE)/1000000.0/n_rel END AS avg_precision
         |FROM a ORDER BY term""".stripMargin,

    "phrase_search" ->
      s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS t FROM documents),
         |tp AS (SELECT doc_id, i - 1 AS pos, t[i] AS tok
         |  FROM tok, LATERAL (SELECT unnest(range(1, len(t)+1)) AS i) r),
         |shc AS (SELECT unnest(${TextHash.shingles3Sql("t")}) AS sh FROM tok),
         |cnt AS (SELECT sh, count(*) AS c FROM shc GROUP BY sh),
         |top AS (SELECT string_split_regex(sh, ' ') AS w
         |  FROM cnt ORDER BY c DESC, sh LIMIT 1),
         |ws AS (SELECT w[1] AS w1, w[2] AS w2, w[3] AS w3 FROM top),
         |m AS (SELECT a.doc_id, a.pos, w1 || ' ' || w2 || ' ' || w3 AS phrase
         |  FROM tp a JOIN tp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |  JOIN tp c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
         |  CROSS JOIN ws
         |  WHERE a.tok = w1 AND b.tok = w2 AND c.tok = w3)
         |SELECT doc_id, phrase, count(*) AS n_occurrences,
         |  CAST(min(pos) AS BIGINT) AS first_pos
         |FROM m GROUP BY doc_id, phrase ORDER BY doc_id""".stripMargin,

    "chunk_overlap" ->
      s"""WITH $chunkCte
         |SELECT doc_id, chunk_id, chunk_start, chunk_len, chunk FROM cl
         |ORDER BY doc_id, chunk_id""".stripMargin,

    "chunk_dedup_stats" ->
      s"""WITH $chunkCte,
         |hh AS (SELECT doc_id, chunk_id, ${TextHash.h60Sql("chunk")} AS h FROM cl),
         |keep AS (SELECT h, min(struct_pack(doc_id := doc_id, chunk_id := chunk_id)) AS f
         |  FROM hh GROUP BY h),
         |k2 AS (SELECT h, f.doc_id AS kdoc, f.chunk_id AS kchunk FROM keep)
         |SELECT hh.doc_id, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN hh.doc_id = kdoc AND hh.chunk_id = kchunk
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  round(CAST(sum(CASE WHEN hh.doc_id = kdoc AND hh.chunk_id = kchunk
         |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS kept_ratio
         |FROM hh JOIN k2 USING (h) GROUP BY hh.doc_id ORDER BY hh.doc_id""".stripMargin,

    "chunk_stats" ->
      s"""WITH $chunkCte
         |SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
         |  round(CAST(sum(chunk_len) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         |    AS mean_chunk_len
         |FROM cl GROUP BY source ORDER BY source""".stripMargin,

    "retrieval_ndcg" ->
      s"""WITH $bm25Cte,
         |r AS (SELECT term, doc_id, tf,
         |    row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id) AS rnk,
         |    row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS irnk
         |  FROM scored),
         |a AS (SELECT term,
         |    CAST(sum(CASE WHEN rnk <= $NdcgK THEN
         |        CAST(round(CAST(tf AS DOUBLE)
         |          / (ln(CAST(rnk AS DOUBLE) + 1.0) / ln(2.0)) * 1000000.0)
         |          AS BIGINT) ELSE 0 END) AS BIGINT) AS d6,
         |    CAST(sum(CASE WHEN irnk <= $NdcgK THEN
         |        CAST(round(CAST(tf AS DOUBLE)
         |          / (ln(CAST(irnk AS DOUBLE) + 1.0) / ln(2.0)) * 1000000.0)
         |          AS BIGINT) ELSE 0 END) AS BIGINT) AS i6
         |  FROM r GROUP BY term),
         |b AS (SELECT term, round(CAST(d6 AS DOUBLE)/1000000.0, 6) AS dcg,
         |    round(CAST(i6 AS DOUBLE)/1000000.0, 6) AS idcg FROM a)
         |SELECT term, dcg, idcg, round(dcg / idcg, 6) AS ndcg
         |FROM b ORDER BY term""".stripMargin,

    "cdc_chunks" ->
      s"""WITH $cdcCte
         |SELECT doc_id, chunk_start, chunk_len, chunk FROM ch
         |ORDER BY doc_id, chunk_start""".stripMargin,

    "cdc_dedup_stats" ->
      s"""WITH $cdcCte
         |SELECT count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
         |  count(DISTINCT ${TextHash.h60Sql("chunk")}) AS n_distinct_chunks,
         |  round(CAST(count(*) - count(DISTINCT ${TextHash.h60Sql("chunk")})
         |    AS DOUBLE) / count(*), 6) AS dup_chunk_frac,
         |  round(CAST(sum(chunk_len) AS DOUBLE) / count(*), 6) AS mean_chunk_len
         |FROM ch""".stripMargin,

    "rag_hybrid_fusion" ->
      s"""WITH b AS (SELECT vec_id, embedding AS e,
         |    sqrt(${dotSql("embedding", "embedding", Similarity.Dim)}) AS nrm
         |  FROM embeddings),
         |de AS (SELECT d.doc_id, d.text, b.e, b.nrm
         |  FROM documents d JOIN b ON d.doc_id = b.vec_id),
         |sem AS (SELECT q.doc_id AS q_id, c.doc_id AS cand_id,
         |    round(${dotSql("q.e", "c.e", Similarity.Dim)} / (q.nrm * c.nrm), 6) AS cos
         |  FROM de q JOIN de c
         |    ON q.doc_id < ${Similarity.QuerySet} AND q.doc_id <> c.doc_id),
         |semr AS (SELECT q_id, cand_id,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id)
         |      AS INTEGER) AS r_sem
         |  FROM sem),
         |tok AS (SELECT doc_id, ${toksSql("text")} AS t FROM de),
         |shl AS (SELECT doc_id, ${shingles3Sql("t")} AS s FROM tok),
         |e AS (SELECT doc_id,
         |    unnest(list_distinct(list_transform(s, x -> ${h60Sql("x")}))) AS g
         |  FROM shl),
         |n AS (SELECT doc_id, count(*) AS nsh FROM e GROUP BY doc_id),
         |ov AS (SELECT a.doc_id AS q_id, c.doc_id AS cand_id, count(*) AS ov
         |  FROM e a JOIN e c ON a.g = c.g
         |    AND a.doc_id < ${Similarity.QuerySet} AND a.doc_id <> c.doc_id
         |  GROUP BY 1, 2),
         |jac AS (SELECT s.q_id, s.cand_id,
         |    round(CAST(coalesce(ov.ov, 0) AS DOUBLE)
         |      / greatest(coalesce(nq.nsh, 0) + coalesce(nc.nsh, 0)
         |        - coalesce(ov.ov, 0), 1), 6) AS jac
         |  FROM semr s
         |  LEFT JOIN ov ON ov.q_id = s.q_id AND ov.cand_id = s.cand_id
         |  LEFT JOIN n nq ON nq.doc_id = s.q_id
         |  LEFT JOIN n nc ON nc.doc_id = s.cand_id),
         |lexr AS (SELECT q_id, cand_id,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY jac DESC, cand_id)
         |      AS INTEGER) AS r_lex
         |  FROM jac),
         |f AS (SELECT semr.q_id, semr.cand_id, r_sem, r_lex,
         |    round(1.0 / ($RrfK + r_sem) + 1.0 / ($RrfK + r_lex), 6) AS rrf
         |  FROM semr JOIN lexr
         |    ON semr.q_id = lexr.q_id AND semr.cand_id = lexr.cand_id),
         |rk AS (SELECT q_id, cand_id, r_sem, r_lex, rrf,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, cand_id)
         |      AS INTEGER) AS rnk
         |  FROM f)
         |SELECT q_id, cand_id, r_sem, r_lex, rrf, rnk FROM rk
         |WHERE rnk <= $TopK ORDER BY q_id, rnk""".stripMargin
  )

  /** CTE list producing `ch` = (doc_id, chunk_start, chunk_len, chunk) —
    * the exact [[cdcChunks]] relation (same gram hash, same UNION-distinct
    * of cut ends with the document end, same lag window).
    */
  private def cdcCte: String =
    s"""d AS (SELECT doc_id, text, len(text) AS n FROM documents),
       |pos AS (SELECT doc_id, unnest(range(1, n - $CdcW + 2)) AS p
       |  FROM d WHERE n >= $CdcW),
       |cut AS (SELECT pos.doc_id, CAST(p + ${CdcW - 1} AS BIGINT) AS e
       |  FROM pos JOIN d USING (doc_id)
       |  WHERE ${TextHash.h60Sql(s"substr(text, CAST(p AS INTEGER), $CdcW)")} % $CdcD = 0),
       |ends AS (SELECT doc_id, e FROM cut
       |  UNION SELECT doc_id, CAST(n AS BIGINT) AS e FROM d),
       |sp AS (SELECT doc_id, e,
       |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) AS b
       |  FROM ends),
       |ch AS (SELECT sp.doc_id, b + 1 AS chunk_start, e - b AS chunk_len,
       |    substr(text, CAST(b + 1 AS INTEGER), CAST(e - b AS INTEGER)) AS chunk
       |  FROM sp JOIN d USING (doc_id))""".stripMargin
}
