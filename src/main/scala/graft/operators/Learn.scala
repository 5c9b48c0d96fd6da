package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Graft.{fill, persist}
import graft.Tables._
import TextHash._

/** In-engine supervised training: a logistic-regression document classifier
  * (label: is this a long document, n_chars ≥ 300 — a deterministic target
  * the token-level features genuinely predict, standing in for human
  * quality labels) trained by full-batch gradient descent INSIDE the
  * engine — the supervised counterpart of the
  * Lloyd k-means trainer (Clustering.scala), sharing its design rules:
  *
  *   - model state (4 weights) is a 1-row DataFrame, BROADCAST onto the
  *     corpus each iteration; the corpus never shuffles — only the 4-value
  *     gradient aggregate stream does (map-side combined);
  *   - gradients accumulate in FIXED POINT: each doc's per-feature
  *     contribution is rounded to 1e-6 and summed as exact scaled longs
  *     (double sums are partition-order-dependent; integer sums are
  *     associative), then one double division per weight;
  *   - the only driver round-trip is the per-round 4-value gradient SUM —
  *     O(1) model state, never corpus rows (MLlib GradientDescent's
  *     treeAggregate shape);
  *   - features are exact int/int divisions of count statistics, so both
  *     engines compute bit-identical feature vectors.
  *
  * At 100 TB this is the standard "train a small quality model on the
  * cluster, broadcast it back as a filter" loop (fastText-style quality
  * classifiers in C4/CCNet pipelines) with the feature extraction, the
  * trainer, and the scorer all in one declarative engine.
  */
object Learn {

  val Iters = 10
  val Lr = 4.0
  /** Bin count for feature_bins_equidepth. */
  val FeatureBins = 8
  private val Fix = 1e6

  /** (doc_id, y, x1, x2, x3): label + exact-rational features (never the
    * label's own column): x1 = tokens/50, x2 = distinct-token ratio,
    * x3 = stopword-ish signature ratio. All int/int double divisions —
    * bit-identical across engines.
    */
  private[graft] def features(docs: DataFrame): DataFrame = {
    val sig = Seq("the", "a", "is", "of", "and")
    val t = toks(col("text"))
    docs.select(
      col("doc_id"),
      when(col("n_chars") >= 300, 1.0).otherwise(0.0).as("y"),
      (size(t).cast("double") / 50.0).as("x1"),
      (size(array_distinct(t)).cast("double") / size(t).cast("double")).as("x2"),
      (size(filter(t, c => c.isin(sig: _*)))
        .cast("double") / size(t).cast("double")).as("x3"))
  }

  private def features(s: SparkSession, d: String): DataFrame =
    features(documents(s, d))

  private def sigmoid(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  /** Score a raw (doc_id, text, n_chars) relation against trained weights —
    * a pure broadcast projection, so the SAME call scores a STREAMING doc
    * relation (the train-on-batch / deploy-on-stream loop; StreamingSpec
    * proves stream == batch scores).
    */
  private[graft] def scoreDocs(docs: DataFrame, w: DataFrame): DataFrame = {
    val z = col("w0") + col("w1") * col("x1") + col("w2") * col("x2") +
      col("w3") * col("x3")
    features(docs).crossJoin(broadcast(w))
      .select(col("doc_id"), col("y").cast("int").as("label"),
        round(sigmoid(z), 6).as("p"),
        (sigmoid(z) >= 0.5).as("predicted"))
  }

  /** `iters` full-batch GD steps from w = 0. Returns the 1-row weights
    * frame (w0..w3) and the feature frame (for scoring).
    */
  def train(s: SparkSession, d: String, iters: Int = Iters): (DataFrame, DataFrame) = {
    // Persist the feature frame: each GD round's gradient aggregate is its
    // own job (the next round's broadcast depends on it), so without the
    // cache every round re-scans the parquet and re-tokenizes the corpus —
    // 10 tokenization passes for a 10-round train, plus an 11th in the
    // caller's scoring pass. The cached frame is 5 numeric columns (no
    // text), corpus-partitioned, spillable; the caller releases it after
    // the query (Graft.releaseCaches).
    val x = persist(features(s, d))
    // Model state lives on the DRIVER between rounds — the treeAggregate
    // pattern of Spark MLlib's own GradientDescent (one O(1) gradient
    // aggregate shipped back per round, weights folded driver-side,
    // re-broadcast as literals). This is NOT a corpus collect: the row
    // fetched per round is the 4-value gradient SUM — constant-size model
    // state, the same bytes a broadcast-DataFrame formulation would ship,
    // minus that formulation's growing nested-plan re-analysis (measured:
    // the 1-row-DataFrame weight chain cost ~2 s/query in plan/codegen at
    // sf0.1 because round r's plan embeds rounds 1..r-1 as broadcast
    // subqueries). Gradients stay exact scaled-long sums, and the weight
    // update below replays the Catalyst double arithmetic token-for-token
    // (w + ((Lr * (g/Fix)) / n)), so trained weights are bit-identical to
    // the distributed-state formulation and the unrolled DuckDB oracle.
    var w0, w1, w2, w3 = 0.0
    for (_ <- 1 to iters) {
      val z = lit(w0) + lit(w1) * col("x1") + lit(w2) * col("x2") +
        lit(w3) * col("x3")
      val resid = col("y") - sigmoid(z)
      def g(xj: Column) = sum(round(resid * xj * lit(Fix)).cast("long"))
      val r = x.agg(g(lit(1.0)).as("g0"), g(col("x1")).as("g1"),
        g(col("x2")).as("g2"), g(col("x3")).as("g3"),
        count(lit(1)).as("n")).head()
      // empty corpus: sum() over zero rows is null — keep w = 0 instead
      // of extracting a primitive from a null gradient
      if (r.getLong(4) == 0L) return (s.range(1).select(lit(w0).as("w0"),
        lit(w1).as("w1"), lit(w2).as("w2"), lit(w3).as("w3")), x)
      val n = r.getLong(4).toDouble
      def upd(wj: Double, gj: Long): Double = wj + Lr * (gj.toDouble / Fix) / n
      w0 = upd(w0, r.getLong(0)); w1 = upd(w1, r.getLong(1))
      w2 = upd(w2, r.getLong(2)); w3 = upd(w3, r.getLong(3))
    }
    val w = s.range(1).select(lit(w0).as("w0"), lit(w1).as("w1"),
      lit(w2).as("w2"), lit(w3).as("w3"))
    (w, x)
  }

  // ---------------------------------------------------- evaluation pack

  /** (y, p) scored training frame shared by the eval queries — scores
    * rounded to 1e-6 exactly as [[scoreDocs]] emits them.
    */
  private def scored(s: SparkSession, d: String): DataFrame = {
    val (w, x) = train(s, d)
    val z = col("w0") + col("w1") * col("x1") + col("w2") * col("x2") +
      col("w3") * col("x3")
    x.crossJoin(broadcast(w)).select(col("y"), round(sigmoid(z), 6).as("p"))
  }

  /** Per-distinct-score tallies (cnt, pos) — the eval pack's working set.
    * The 1e-6 score rounding bounds its cardinality at ≤2e6 rows no matter
    * the corpus size, so the single-partition rank window in `eval_auc`
    * and the threshold theta-join in `eval_pr_curve` stay safe at 100 TB:
    * the corpus is reduced by one map-side-combined groupBy first.
    */
  private def byScore(s: SparkSession, d: String): DataFrame =
    scored(s, d).groupBy("p")
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("pos"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact ROC-AUC by rank-sum (Mann-Whitney U) with average ranks for
    // ties, kept in INTEGER arithmetic until the final division: twice the
    // rank-sum of positives is sum(pos * (2*cum_before + cnt + 1)) over
    // distinct scores, so both engines divide the same exact longs.
    "eval_auc" -> { (s, d) =>
      Ranking.globalCumSum(byScore(s, d), Seq(col("p")), col("cnt"), "cum_before")
        .agg(
          sum(col("pos") * (lit(2L) * col("cum_before") + col("cnt") + lit(1L)))
            .as("rank2"),
          sum(col("pos")).as("npos"),
          sum(col("cnt") - col("pos")).as("nneg"))
        .select(col("npos"), col("nneg"),
          round((col("rank2").cast("double") / 2.0
            - col("npos").cast("double") * (col("npos").cast("double") + 1.0) / 2.0)
            / (col("npos").cast("double") * col("nneg").cast("double")), 6)
            .as("auc"))
    },

    // Reliability diagram: decile bins of predicted probability vs observed
    // positive rate. Mean p per bin goes through the 1e-6 fixed-point sum
    // (p is already a 6-decimal multiple, so the long sum is exact).
    "eval_calibration" -> { (s, d) =>
      scored(s, d)
        .select(least(floor(col("p") * 10.0), lit(9.0)).cast("int").as("bin"),
          col("y"), col("p"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("pos"),
          sum(round(col("p") * 1e6).cast("long")).as("sp"))
        .select(col("bin"), col("n"), col("pos"),
          round(col("sp").cast("double") / 1e6 / col("n").cast("double"), 6)
            .as("mean_p"),
          round(col("pos").cast("double") / col("n").cast("double"), 6)
            .as("frac_pos"))
        .orderBy("bin")
    },

    // Precision/recall at 9 fixed thresholds — a theta-join of the tiny
    // distinct-score frame against 9 threshold rows (broadcast NLJ over
    // bounded data), never a per-doc × per-threshold blowup.
    "eval_pr_curve" -> { (s, d) =>
      val bs = byScore(s, d)
      val th = s.range(1, 10).select((col("id").cast("double") / 10.0).as("t"))
      val tot = bs.agg(sum(col("pos")).as("npos"))
      bs.join(broadcast(th), col("p") >= col("t"))
        .groupBy("t")
        .agg(sum(col("pos")).as("tp"), sum(col("cnt") - col("pos")).as("fp"))
        .crossJoin(broadcast(tot))
        .select(col("t"), col("tp"), col("fp"),
          round(col("tp").cast("double") / (col("tp") + col("fp")).cast("double"), 6)
            .as("prec"),
          round(col("tp").cast("double") / col("npos").cast("double"), 6)
            .as("rec"))
        .orderBy("t")
    },

    // The trained weights (rounded for the oracle compare; training keeps
    // full precision internally).
    "logreg_weights" -> { (s, d) =>
      val (w, _) = train(s, d)
      w.select(round(col("w0"), 6).as("w0"), round(col("w1"), 6).as("w1"),
        round(col("w2"), 6).as("w2"), round(col("w3"), 6).as("w3"))
    },

    // Per-doc score + decision from the trained model — the broadcast-
    // scorer shape (one projection per doc, model state broadcast).
    "logreg_scores" -> { (s, d) =>
      val (w, _) = train(s, d)
      scoreDocs(documents(s, d), w).orderBy("doc_id")
    },

    // Training-set confusion counts — did the in-engine trainer learn
    // anything (accuracy is part of the oracled contract).
    "logreg_metrics" -> { (s, d) =>
      val (w, x) = train(s, d)
      val z = col("w0") + col("w1") * col("x1") + col("w2") * col("x2") +
        col("w3") * col("x3")
      x.crossJoin(broadcast(w))
        .select(col("y"), (sigmoid(z) >= 0.5).as("pred"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("y") === 1.0 && col("pred"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("y") === 0.0 && col("pred"), 1L).otherwise(0L)).as("fp"),
          sum(when(col("y") === 1.0 && !col("pred"), 1L).otherwise(0L)).as("fn"),
          sum(when(col("y") === 0.0 && !col("pred"), 1L).otherwise(0L)).as("tn"))
    },

    // Weight-of-evidence / information-value feature scoring: value-grouped
    // deciles of events.value scored against the purchase label — the
    // classic credit-scoring feature audit. Scale shape mirrors eval_auc:
    // the corpus collapses to the ≤2e6-row distinct-rounded-value grain by
    // one map-side-combined groupBy BEFORE the ranking window; bins are
    // assigned by exact integer arithmetic on the cumulative count
    // (cum_before·10 DIV N), so every row of a tied value lands in one bin
    // and both engines agree bit-for-bit. Laplace 0.5 smoothing keeps WOE
    // finite on empty cells; ln(...) rounded at 6 dp (tfidf precedent).
    "woe_bins" -> { (s, d) => woeBins(s, d) },

    // Total IV of the feature, folded in fixed point (round(iv·1e6) longs
    // summed — associative, order-independent) exactly like Drift's KL.
    "woe_iv_total" -> { (s, d) =>
      woeBins(s, d)
        .agg(count(lit(1)).as("n_bins"),
          round(sum(col("iv_c")).cast("double") / 1e6, 6).as("iv"))
    },

    // Multinomial Naive Bayes language classifier — the GENERATIVE
    // counterpart of the logreg trainer (and the statistical upgrade of
    // the text_langid signature heuristic): train add-one-smoothed
    // per-class token models from the lang labels, score every doc against
    // every class, argmax. Scale shape: the corpus collapses to the
    // (class × vocab)-sized count relation in one map-side-combined pass
    // and is BROADCAST back onto the token stream (shuffle-join on
    // (cls,tok) instead if the class-conditional vocab outgrows a
    // broadcast); the doc×class score grid is linear in the corpus.
    // Exactness: per-token log-probs round to 6 dp and sum as DECIMAL per
    // (doc, class); the prior folds in as an exact decimal; argmax
    // tie-breaks (score DESC, cls ASC) — bit-reproducible end to end, and
    // the top-1 pick rides the GroupTopK rewrite.
    "nb_lang_scores" -> { (s, d) =>
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("cls").asc)
      nbScores(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .join(documents(s, d).select("doc_id", "lang"), "doc_id")
        .select(col("doc_id"), col("lang"), col("cls").as("pred"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id")
    },

    // Equi-depth feature discretization: the events value column cut into
    // FeatureBins equal-population bins — the standard preprocessing step
    // for WOE/monotonic models and histogram features. Rank comes from
    // Ranking.globalRank over the (value, event_id) total order, so the
    // full-data ordering never crosses one task (the woe_bins cumulative
    // discipline, at row grain); the bin index is exact integer
    // arithmetic on the rank, deterministic under ties.
    "feature_bins_equidepth" -> { (s, d) =>
      val ev = events(s, d).select(col("event_id"), col("value"))
      Ranking.globalRank(ev, Seq(asc("value"), asc("event_id")))
        .crossJoin(broadcast(ev.agg(count(lit(1)).as("n"))))
        .withColumn("bin", expr(s"(rank - 1) * $FeatureBins DIV n").cast("int"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_rows"), min("value").as("lo"),
          max("value").as("hi"))
        .orderBy("bin")
    },

    // Training-set confusion matrix of the NB classifier — the oracled
    // did-it-learn contract (compact: |langs|² rows max).
    "nb_lang_confusion" -> { (s, d) =>
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("cls").asc)
      nbScores(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .join(documents(s, d).select("doc_id", "lang"), "doc_id")
        .groupBy(col("lang"), col("cls").as("pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred")
    }
  )

  /** The trained NB model state: class-conditional token counts, per-class
    * token totals, vocabulary size, and 6-dp log priors. Every relation is
    * (class×vocab)-bounded, so the whole model broadcasts — which is what
    * lets the identical scorer run on a STREAMING doc relation
    * (StreamingSpec proves stream == batch predictions).
    */
  private[graft] case class NbModel(cc: DataFrame, ctot: DataFrame,
                                    v: DataFrame, pri: DataFrame)

  private[graft] def nbModel(s: SparkSession, d: String): NbModel = {
    val tok = documents(s, d)
      .select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("tok"))
    // ONE pass over the corpus token stream builds cc; the per-class
    // totals and the vocabulary size then derive from cc itself — a
    // (class×vocab)-sized model relation — instead of re-tokenizing the
    // corpus once per statistic (n_c = Σ cnt per class; every distinct
    // token appears in some class row). Filled: three consumers, and
    // ctot/v are broadcast builds racing the cc probe in the scoring
    // queries.
    val cc = tok.groupBy(col("lang").as("cls"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    fill(cc, "Learn.nbModel/cc")
    NbModel(
      cc = cc,
      ctot = cc.groupBy("cls").agg(sum("cnt").as("n_c")),
      v = cc.agg(countDistinct("tok").as("v")),
      pri = documents(s, d).groupBy(col("lang").as("cls"))
        .agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(documents(s, d).agg(count(lit(1)).as("n_all"))))
        .select(col("cls"),
          round(log(col("n_docs").cast("double") / col("n_all").cast("double")), 6)
            .as("lp_prior")))
  }

  /** Score a (doc_id, text) relation against a trained [[NbModel]] —
    * per-(doc, class) log-posterior with exact decimal sums. Pure batch
    * relational ops over broadcast model state, so the same call scores a
    * micro-batch inside foreachBatch unchanged. The per-token log-probs
    * are computed at MODEL grain first — round(log(.)) runs class×vocab
    * times instead of once per (occurrence × class), and the hot
    * corpus-sized path is two broadcast probes + a coalesce (values
    * identical: same integer count inputs, same expression).
    */
  private[graft] def nbScoreDocs(docs: DataFrame, m: NbModel): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // broadcast hints keep the model-grain subtree's plan shape
    // unconditional (PlanSpec locks no CartesianProduct) even when the
    // model relations arrive checkpointed with unknown stats
    val lp = m.cc.join(broadcast(m.ctot), "cls").crossJoin(broadcast(m.v))
      .select(col("cls"), col("tok"),
        round(log((col("cnt") + 1).cast("double") /
          (col("n_c") + col("v")).cast("double")), 6).as("lp"))
    val lpu = m.ctot.crossJoin(broadcast(m.v))
      .select(col("cls"),
        round(log(lit(1L).cast("double") /
          (col("n_c") + col("v")).cast("double")), 6).as("lpu"))
    // (doc, tok) COUNT grain before the ×|classes| fan-out: summing cnt
    // copies of a decimal lp equals cnt × lp exactly (decimal × integer
    // is exact; |lp| ≤ ~20 and cnt ≤ doc length keep 18,6 in range), so
    // the class joins and the (doc, cls) aggregate see the distinct-token
    // relation (sf0.1: 116k rows vs 270k occurrences — measured EQUAL
    // output, ~0.4 s faster steady / 3× faster cold, BASELINE.md r11).
    docs.select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tcnt"))
      .crossJoin(broadcast(m.pri.select("cls")))
      .join(broadcast(lp), Seq("cls", "tok"), "left")
      .join(broadcast(lpu), Seq("cls"))
      .select(col("doc_id"), col("cls"),
        (coalesce(col("lp"), col("lpu")).cast(DecimalType(18, 6)) *
          col("tcnt")).as("lpc"))
      .groupBy("doc_id", "cls")
      .agg(sum(col("lpc")).as("s"))
      .join(broadcast(m.pri), "cls")
      .select(col("doc_id"), col("cls"),
        (col("s") + col("lp_prior").cast(DecimalType(18, 6))).cast("double")
          .as("score"))
  }

  /** Deterministic argmax over [[nbScoreDocs]] output: (doc_id, pred,
    * score) — shared by the batch queries and the streaming deployment.
    */
  private[graft] def nbPredict(scores: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("cls").asc)
    scores.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("cls").as("pred"), round(col("score"), 6).as("score"))
  }

  /** Per-(doc, class) NB log-posterior scores — see nb_lang_scores. The
    * model pass and the scorer pass each tokenize the corpus (lineage
    * recompute) — a persisted shared token stream was A/B'd wall-neutral
    * at sf0.1, and a corpus-sized persist is a spill liability at scale
    * where re-exploding a columnar scan is cheap (REJECTED, BASELINE.md).
    */
  private def nbScores(s: SparkSession, d: String): DataFrame =
    nbScoreDocs(documents(s, d), nbModel(s, d))

  /** Shared WOE working frame — see woe_bins docstring. `iv_c` is the
    * fixed-point (1e-6) IV contribution used by woe_iv_total.
    */
  private def woeBins(s: SparkSession, d: String): DataFrame = {
    val byV = events(s, d)
      .select(round(col("value"), 6).as("v"),
        (col("event_type") === "purchase").as("good"))
      .groupBy("v")
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("good"), 1L).otherwise(0L)).as("ng"))
    // exclusive prefix sum via the distributed globalCumSum, NOT a global
    // ORDER BY window: the distinct-6dp-value grain is bounded only by the
    // value RANGE × 1e6 — effectively unbounded for a continuous column —
    // and a global window would put all of it through one task
    val binned = Ranking
      .globalCumSum(byV, Seq(col("v")), col("cnt"), "cum_before")
      .crossJoin(broadcast(byV.agg(sum("cnt").as("n"), sum("ng").as("g"))))
      .withColumn("bin", expr("cum_before * 10 DIV n").cast("int"))
    val woe = log((col("n_good") + 0.5) / (col("gt") + 5.0) *
      ((col("bt") + 5.0) / (col("n_bad") + 0.5)))
    binned
      .groupBy("bin")
      .agg(count(lit(1)).as("n_values"), sum("cnt").as("n_rows"),
        sum("ng").as("n_good"), sum(col("cnt") - col("ng")).as("n_bad"),
        max("g").as("gt"), max(col("n") - col("g")).as("bt"))
      .withColumn("woe", round(woe, 6))
      .withColumn("iv_c", round(
        ((col("n_good") + 0.5) / (col("gt") + 5.0) -
          (col("n_bad") + 0.5) / (col("bt") + 5.0)) * woe * 1e6).cast("long"))
      .select(col("bin"), col("n_rows"), col("n_good"), col("n_bad"),
        col("woe"), col("iv_c"))
      .orderBy("bin")
  }

  // -------------------------------------------------------------- oracles

  /** Feature CTE + unrolled GD rounds as DuckDB CTEs (w_0 = zeros; round r
    * computes fixed-point gradient sums against w_{r-1}).
    */
  private def trainCtes(iters: Int): String = {
    val sigList = Seq("the", "a", "is", "of", "and").map(t => s"'$t'").mkString(", ")
    val sb = new StringBuilder(
      s"""f AS (SELECT doc_id,
         |    CASE WHEN n_chars >= 300 THEN 1.0 ELSE 0.0 END AS y,
         |    CAST(len(${toksSql("text")}) AS DOUBLE) / 50.0 AS x1,
         |    CAST(len(list_distinct(${toksSql("text")})) AS DOUBLE)
         |      / CAST(len(${toksSql("text")}) AS DOUBLE) AS x2,
         |    CAST(len(list_filter(${toksSql("text")}, t -> t IN ($sigList))) AS DOUBLE)
         |      / CAST(len(${toksSql("text")}) AS DOUBLE) AS x3
         |  FROM documents),
         |w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)""".stripMargin)
    for (r <- 1 to iters) {
      val p = r - 1
      sb.append(
        s""",
           |r$r AS (SELECT f.*, y - 1.0/(1.0 + exp(-(w0 + w1*x1 + w2*x2 + w3*x3))) AS resid,
           |    w0, w1, w2, w3
           |  FROM f CROSS JOIN w$p),
           |g$r AS (SELECT
           |    CAST(sum(CAST(round(resid * 1.0 * 1000000.0) AS BIGINT)) AS BIGINT) AS g0,
           |    CAST(sum(CAST(round(resid * x1 * 1000000.0) AS BIGINT)) AS BIGINT) AS g1,
           |    CAST(sum(CAST(round(resid * x2 * 1000000.0) AS BIGINT)) AS BIGINT) AS g2,
           |    CAST(sum(CAST(round(resid * x3 * 1000000.0) AS BIGINT)) AS BIGINT) AS g3,
           |    count(*) AS n, any_value(w0) AS w0, any_value(w1) AS w1,
           |    any_value(w2) AS w2, any_value(w3) AS w3
           |  FROM r$r),
           |w$r AS (SELECT
           |    w0 + ${Lr} * (CAST(g0 AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE) AS w0,
           |    w1 + ${Lr} * (CAST(g1 AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE) AS w1,
           |    w2 + ${Lr} * (CAST(g2 AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE) AS w2,
           |    w3 + ${Lr} * (CAST(g3 AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE) AS w3
           |  FROM g$r)""".stripMargin)
    }
    sb.toString
  }

  /** Scored-frame + per-distinct-score CTEs shared by the eval oracles. */
  private def evalCtes =
    s"""sc AS (SELECT y,
       |    round(1.0/(1.0 + exp(-(w0 + w1*x1 + w2*x2 + w3*x3))), 6) AS p
       |  FROM f CROSS JOIN w$Iters),
       |bys AS (SELECT p, count(*) AS cnt,
       |    CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
       |  FROM sc GROUP BY p)""".stripMargin

  val oracles: Map[String, String] = Map(
    "eval_auc" ->
      s"""WITH ${trainCtes(Iters)},
         |$evalCtes,
         |cum AS (SELECT pos, cnt,
         |    coalesce(sum(cnt) OVER (ORDER BY p
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM bys),
         |ag AS (SELECT
         |    CAST(sum(pos * (2*cum_before + cnt + 1)) AS BIGINT) AS rank2,
         |    CAST(sum(pos) AS BIGINT) AS npos,
         |    CAST(sum(cnt - pos) AS BIGINT) AS nneg
         |  FROM cum)
         |SELECT npos, nneg,
         |  round((CAST(rank2 AS DOUBLE)/2.0
         |      - CAST(npos AS DOUBLE)*(CAST(npos AS DOUBLE) + 1.0)/2.0)
         |    / (CAST(npos AS DOUBLE)*CAST(nneg AS DOUBLE)), 6) AS auc
         |FROM ag""".stripMargin,

    "eval_calibration" ->
      s"""WITH ${trainCtes(Iters)},
         |$evalCtes,
         |b AS (SELECT CAST(least(floor(p*10.0), 9.0) AS INTEGER) AS bin, y, p
         |  FROM sc)
         |SELECT bin, count(*) AS n,
         |  CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
         |  round(CAST(sum(CAST(round(p*1000000.0) AS BIGINT)) AS DOUBLE)
         |    /1000000.0/CAST(count(*) AS DOUBLE), 6) AS mean_p,
         |  round(CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE)
         |    /CAST(count(*) AS DOUBLE), 6) AS frac_pos
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "eval_pr_curve" ->
      s"""WITH ${trainCtes(Iters)},
         |$evalCtes,
         |th AS (SELECT CAST(i AS DOUBLE)/10.0 AS t
         |  FROM (SELECT unnest(range(1, 10)) AS i)),
         |j AS (SELECT t, CAST(sum(pos) AS BIGINT) AS tp,
         |    CAST(sum(cnt - pos) AS BIGINT) AS fp
         |  FROM bys JOIN th ON p >= t GROUP BY t),
         |tot AS (SELECT CAST(sum(pos) AS BIGINT) AS npos FROM bys)
         |SELECT t, tp, fp,
         |  round(CAST(tp AS DOUBLE)/CAST(tp + fp AS DOUBLE), 6) AS prec,
         |  round(CAST(tp AS DOUBLE)/CAST(npos AS DOUBLE), 6) AS rec
         |FROM j CROSS JOIN tot ORDER BY t""".stripMargin,

    "logreg_weights" ->
      s"""WITH ${trainCtes(Iters)}
         |SELECT round(w0, 6) AS w0, round(w1, 6) AS w1,
         |  round(w2, 6) AS w2, round(w3, 6) AS w3 FROM w$Iters""".stripMargin,

    "logreg_scores" ->
      s"""WITH ${trainCtes(Iters)}
         |SELECT doc_id, CAST(y AS INTEGER) AS label,
         |  round(1.0/(1.0 + exp(-(w0 + w1*x1 + w2*x2 + w3*x3))), 6) AS p,
         |  1.0/(1.0 + exp(-(w0 + w1*x1 + w2*x2 + w3*x3))) >= 0.5 AS predicted
         |FROM f CROSS JOIN w$Iters ORDER BY doc_id""".stripMargin,

    "logreg_metrics" ->
      s"""WITH ${trainCtes(Iters)},
         |sc AS (SELECT y,
         |    1.0/(1.0 + exp(-(w0 + w1*x1 + w2*x2 + w3*x3))) >= 0.5 AS pred
         |  FROM f CROSS JOIN w$Iters)
         |SELECT count(*) AS n,
         |  CAST(sum(CASE WHEN y = 1.0 AND pred THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN y = 0.0 AND pred THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN y = 1.0 AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |  CAST(sum(CASE WHEN y = 0.0 AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |FROM sc""".stripMargin,

    "woe_bins" ->
      s"""WITH $woeCtes
         |SELECT bin, n_rows, n_good, n_bad, woe, iv_c FROM wb ORDER BY bin""".stripMargin,

    "woe_iv_total" ->
      s"""WITH $woeCtes
         |SELECT count(*) AS n_bins,
         |  round(CAST(sum(iv_c) AS DOUBLE) / 1e6, 6) AS iv FROM wb""".stripMargin,

    "nb_lang_scores" ->
      s"""WITH $nbCtes
         |SELECT r.doc_id, d.lang, r.cls AS pred, round(r.score, 6) AS score
         |FROM r JOIN documents d USING (doc_id)
         |WHERE rn = 1 ORDER BY r.doc_id""".stripMargin,

    "nb_lang_confusion" ->
      s"""WITH $nbCtes
         |SELECT d.lang, r.cls AS pred, count(*) AS n
         |FROM r JOIN documents d USING (doc_id)
         |WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "feature_bins_equidepth" ->
      s"""WITH r AS (SELECT value,
         |    row_number() OVER (ORDER BY value, event_id) AS rank FROM events),
         |n AS (SELECT count(*) AS n FROM events)
         |SELECT CAST((rank - 1) * $FeatureBins // n AS INTEGER) AS bin,
         |  count(*) AS n_rows, min(value) AS lo, max(value) AS hi
         |FROM r CROSS JOIN n GROUP BY 1 ORDER BY bin""".stripMargin
  )

  /** Naive-Bayes scoring CTEs — the exact mirror of [[nbScores]] plus the
    * (score DESC, cls) argmax ranking.
    */
  private def nbCtes: String =
    s"""tok AS (SELECT doc_id, lang, unnest(${toksSql("text")}) AS tok
       |  FROM documents),
       |cc AS (SELECT lang AS cls, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
       |ct AS (SELECT lang AS cls, count(*) AS n_c FROM tok GROUP BY 1),
       |vv AS (SELECT count(DISTINCT tok) AS v FROM tok),
       |pri AS (SELECT lang AS cls,
       |    round(ln(CAST(count(*) AS DOUBLE) /
       |      CAST((SELECT count(*) FROM documents) AS DOUBLE)), 6) AS lp_prior
       |  FROM documents GROUP BY 1),
       |ev AS (SELECT t.doc_id, c.cls,
       |    round(ln(CAST(coalesce(cc.cnt, 0) + 1 AS DOUBLE)
       |      / CAST(ct.n_c + vv.v AS DOUBLE)), 6) AS lp
       |  FROM (SELECT doc_id, tok FROM tok) t
       |  CROSS JOIN (SELECT cls FROM pri) c
       |  LEFT JOIN cc ON cc.cls = c.cls AND cc.tok = t.tok
       |  JOIN ct ON ct.cls = c.cls
       |  CROSS JOIN vv),
       |sc AS (SELECT e.doc_id, e.cls,
       |    CAST(sum(CAST(lp AS DECIMAL(18,6)))
       |      + CAST(p.lp_prior AS DECIMAL(18,6)) AS DOUBLE) AS score
       |  FROM ev e JOIN pri p ON p.cls = e.cls
       |  GROUP BY e.doc_id, e.cls, p.lp_prior),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, cls) AS rn FROM sc)""".stripMargin

  /** WOE working-frame CTEs (value-grouped deciles → per-bin WOE + 1e-6
    * fixed-point IV contribution) — the exact mirror of [[woeBins]].
    */
  private def woeCtes: String =
    """byv AS (SELECT round(value, 6) AS v, count(*) AS cnt,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ng
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
      |    CAST(sum(ng) AS BIGINT) AS g FROM byv),
      |binned AS (SELECT cnt, ng, n, g,
      |    CAST((coalesce(sum(cnt) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 10) // n
      |      AS INTEGER) AS bin
      |  FROM byv CROSS JOIN tot),
      |b AS (SELECT bin, CAST(sum(cnt) AS BIGINT) AS n_rows,
      |    CAST(sum(ng) AS BIGINT) AS n_good,
      |    CAST(sum(cnt - ng) AS BIGINT) AS n_bad,
      |    max(g) AS gt, max(n - g) AS bt
      |  FROM binned GROUP BY bin),
      |wb AS (SELECT bin, n_rows, n_good, n_bad,
      |    round(ln((n_good + 0.5)/(gt + 5.0) * ((bt + 5.0)/(n_bad + 0.5))), 6) AS woe,
      |    CAST(round(((n_good + 0.5)/(gt + 5.0) - (n_bad + 0.5)/(bt + 5.0))
      |      * ln((n_good + 0.5)/(gt + 5.0) * ((bt + 5.0)/(n_bad + 0.5)))
      |      * 1e6) AS BIGINT) AS iv_c
      |  FROM b)""".stripMargin
}
