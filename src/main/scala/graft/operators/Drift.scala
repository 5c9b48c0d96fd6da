package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Graft.fill
import graft.Tables._
import TextHash.{toks, toksSql}

/** Distribution-drift diagnostics for corpus curation — "is source X
  * statistically unlike the rest of the mix" is the question a 100 TB
  * pipeline answers before re-weighting or dropping a crawl slice.
  *
  * Scale shape: ONE corpus-sized token groupBy, then everything downstream
  * is vocabulary- or margins-sized (per-source token tallies, 20×5 lang
  * grid). The information-theoretic sums (entropy, KL, chi²) accumulate in
  * FIXED POINT — each cell's double contribution is computed from exact
  * integer counts (bit-identical across engines), rounded to 1e-9, and
  * summed as scaled longs, because double addition is partition-order-
  * dependent but long addition is associative. One division at the end.
  */
object Drift {

  private val Fix = 1e9

  /** Equi-depth bins for the PSI drift metric (the conventional 10). */
  val PsiBins = 10

  /** Marker words for Burrows' Delta (the stylometry convention: the
    * corpus's most frequent words, whose usage RATES are the style
    * signal).
    */
  val DeltaTopM = 20

  /** Per-(source, token) counts — the single corpus-wide shuffle. */
  private def srcTok(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"), explode(toks(col("text"))).as("tok"))
      .groupBy("source", "tok")
      .agg(count(lit(1)).as("c"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-source token-distribution profile: size, Shannon entropy, and
    // KL(source ‖ corpus). Terms with p=0 contribute exactly 0 to KL, so
    // summing over the source's OBSERVED tokens (where q>0 always — a
    // source's vocabulary is a subset of the corpus's) needs no smoothing.
    "drift_source_kl" -> { (s, d) => sourceKl(srcTok(s, d)) },

    // Pearson chi² independence test on the source×lang contingency table.
    // The expected-count grid is margins × margins (a broadcast of two
    // tiny frames) so absent cells (o=0) still contribute (0-e)²/e.
    "drift_lang_chi2" -> { (s, d) =>
      val cells = documents(s, d).groupBy("source", "lang")
        .agg(count(lit(1)).as("o"))
      val rowT = cells.groupBy("source").agg(sum("o").as("rt"))
      val colT = cells.groupBy("lang").agg(sum("o").as("ct"))
      val n = cells.agg(sum("o").as("n"))
      val grid = rowT.crossJoin(broadcast(colT)).crossJoin(broadcast(n))
      val joined = grid.join(cells, Seq("source", "lang"), "left")
        .select(col("rt"), col("ct"), col("n"),
          coalesce(col("o"), lit(0L)).as("o"))
      val e = col("rt").cast("double") * col("ct").cast("double") /
        col("n").cast("double")
      val contrib = (col("o").cast("double") - e) * (col("o").cast("double") - e) / e
      joined
        .select(round(contrib * Fix).cast("long").as("cc"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum(col("cc")).cast("double") / Fix, 6).as("chi2"))
    },

    // Embedding-space drift between label groups: linear-kernel MMD², which
    // for the linear kernel reduces to ‖μ_a − μ_b‖² — the squared distance
    // between group mean embeddings. The question this answers at 100 TB:
    // "did the embedding distribution of slice A move away from slice B"
    // without any pairwise kernel sums (the full Gram-matrix MMD is O(n²);
    // the linear reduction is two map-side mean aggregates). Scale shape:
    // one posexplode groupBy collapses the corpus to a (label × 64)-sized
    // stats relation; the pair join runs on that tiny frame (broadcast).
    // Means come from exact 1e-9-quantized integer sums; the 64 per-dim
    // contributions sum in fixed point (double addition is partition-
    // order-dependent; long addition is associative).
    "emb_drift_mmd" -> { (s, d) => mmdPairs(embeddings(s, d)) },

    // Stylometric source similarity: cosine between per-source character
    // trigram profiles — the KL probe (drift_source_kl) asks "is this
    // source's VOCABULARY unusual"; this asks "does it even LOOK like the
    // same kind of text" at the sub-word level, which survives vocabulary
    // shifts (new topics, other languages with shared script). One
    // codegen'd position explode collapses the corpus to a (source, gram)
    // count matrix; the pairwise cosine is a gram-keyed self-join of that
    // matrix (|sources|² output). Dot products and norms accumulate as
    // DECIMAL(38,0) sums of exact integer products (count products
    // overflow a long at corpus scale; double sums are order-dependent).
    // The gram scan rides TextHash.ownedPositions so every per-position
    // substring is chunk-bounded — the direct substr(text, i, 3) loop
    // scans O(i) chars per position and goes quadratic on million-char
    // docs (the r10 probe's Cliff #3; ChunkedScanSpec locks the gram
    // multiset equal to the direct form).
    "source_style_cosine" -> { (s, d) =>
      val dec = DecimalType(38, 0)
      val g = TextHash.ownedPositions(
          documents(s, d).select(col("doc_id"), col("source"), col("text")),
          window = 3, carry = Seq("source"))
        .select(col("source"), col("chunk").substr(col("li"), lit(3)).as("gram"))
        .groupBy("source", "gram").agg(count(lit(1)).as("c"))
      fill(g, "Drift.source_style_cosine/g") // feeds the norm aggregate AND both self-join sides
      val nrm = g.groupBy("source")
        .agg(sum(col("c").cast(dec) * col("c")).as("ss"))
        .select(col("source"), sqrt(col("ss").cast("double")).as("nrm"))
      g.as("a")
        .join(g.as("b"),
          col("a.gram") === col("b.gram") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_x"), col("b.source").as("source_y"))
        .agg(sum(col("a.c").cast(dec) * col("b.c")).as("dp"))
        .join(broadcast(nrm.toDF("source_x", "nx")), "source_x")
        .join(broadcast(nrm.toDF("source_y", "ny")), "source_y")
        .select(col("source_x"), col("source_y"),
          round(col("dp").cast("double") / (col("nx") * col("ny")), 6)
            .as("style_cos"))
        .orderBy("source_x", "source_y")
    },

    // Burrows' Delta — the classic stylometric distance (authorship
    // attribution since Burrows 2002): z-score each source's usage RATE
    // of the corpus's DeltaTopM most frequent words against the
    // across-source mean/std, then Delta(a,b) = mean |z_a - z_b|.
    // Complements source_style_cosine (char-3-gram similarity) with the
    // word-rate-profile distance. Rates are exact integers
    // ((c * 1e9) DIV n_s); moments accumulate exactly per word over the
    // |sources| x M scaffold; zero-variance words carry no signal and
    // take z = 0 in both engines.
    "style_burrows_delta" -> { (s, d) =>
      val dec = DecimalType(38, 0)
      // ONE corpus pass: every relation below derives from the
      // (source, tok, c) shuffle srcTok already defines (filled — three
      // consumers)
      val st = srcTok(s, d)
      fill(st, "Drift.style_burrows_delta/st")
      val topw = st.groupBy(col("tok").as("word")).agg(sum("c").as("c"))
        .orderBy(desc("c"), asc("word")).limit(DeltaTopM).select("word")
      val ns = st.groupBy("source").agg(sum("c").as("n_s"))
      val csw = st.join(broadcast(topw), col("tok") === col("word"))
        .select(col("source"), col("word"), col("c"))
      val grid = ns.crossJoin(broadcast(topw))
        .join(csw, Seq("source", "word"), "left")
        .select(col("source"), col("word"), col("n_s"),
          coalesce(col("c"), lit(0L)).as("c"))
        // DECIMAL numerator: c * 1e9 overflows a long at web-scale counts
        .withColumn("f9",
          expr("CAST((CAST(c AS DECIMAL(38,0)) * 1000000000) DIV n_s AS BIGINT)"))
      val stats = grid.groupBy("word")
        .agg(count(lit(1)).cast(dec).as("k"), sum(col("f9").cast(dec)).as("sf9"),
          sum(col("f9").cast(dec) * col("f9")).as("sff"))
      val mean = col("sf9").cast("double") / col("k").cast("double")
      // zero variance is decided EXACTLY in integers (k*sff == sf9^2) —
      // the double form can round to a tiny negative at large rates,
      // turning sqrt into NaN and silently dropping the word; the
      // greatest() clamp guards the sqrt for near-zero cases
      val vr = greatest(
        col("sff").cast("double") / col("k").cast("double") - mean * mean,
        lit(0.0))
      val zs = grid.join(broadcast(stats
          .select(col("word"), mean.as("m"), sqrt(vr).as("sd"),
            (col("k") * col("sff") === col("sf9") * col("sf9")).as("zerovar"))),
          "word")
        .select(col("source"), col("word"),
          when(col("zerovar"), lit(0.0))
            .otherwise((col("f9").cast("double") - col("m")) / col("sd")).as("z"))
      zs.as("a").join(zs.as("b"),
          col("a.word") === col("b.word") && col("a.source") < col("b.source"))
        .select(col("a.source").as("source_x"), col("b.source").as("source_y"),
          round(abs(col("a.z") - col("b.z")) * 1e9).cast("long").as("t9"))
        .groupBy("source_x", "source_y")
        .agg(round(sum("t9").cast("double") / 1e9 / DeltaTopM, 6).as("delta"))
        .orderBy("source_x", "source_y")
    },

    // Exact two-sample Kolmogorov-Smirnov statistic per source:
    // D_s = sup_x |F_s(x) - F_rest(x)| between the source's doc-length
    // ECDF and the REST of the corpus — the exact-order-statistic member
    // of the drift battery (KL and chi² see token/label frequencies; KS
    // sees any shift in a numeric distribution's shape). The sup of two
    // step functions is attained at an observed value, so evaluating
    // every source at every DISTINCT corpus length is exact; cumulative
    // counts ride per-source windows over a |sources| x |distinct
    // lengths| scaffold (bounded by the length value domain, not corpus
    // size), the rest-ECDF derives from CG(x) = sum_s CS_s(x) by one
    // groupBy — no global window. The max picks by the exact integer
    // cross-multiplied numerator |CS*(N-n_s) - (CG-CS)*n_s| in
    // DECIMAL(38,0) (products overflow a long at web-scale N), dividing
    // to double ONCE on the winner.
    "drift_ks_length" -> { (s, d) =>
      val dec = DecimalType(38, 0)
      val cum = lengthEcdfScaffold(s, d)
      cum
        .select(col("source"), col("n_s"), col("n_tot"),
          abs(col("cs").cast(dec) * (col("n_tot") - col("n_s")) -
            (col("cgx") - col("cs")).cast(dec) * col("n_s")).as("num"))
        .groupBy("source")
        .agg(first("n_s").as("n_docs"), first("n_tot").as("nt"),
          max("num").as("mnum"))
        // single-source corpus: the rest-ECDF is empty and the statistic
        // is undefined — NULL, never a divide-by-zero (ANSI would throw)
        .select(col("source"), col("n_docs"),
          when(col("nt") === col("n_docs"), lit(null).cast("double"))
            .otherwise(round(col("mnum").cast("double") /
              (col("n_docs").cast("double") *
                (col("nt") - col("n_docs")).cast("double")), 6)).as("ks_stat"))
        .orderBy("source")
    },

    // Population Stability Index per source — the binned drift metric
    // production scorecards threshold on (<0.1 stable, >0.25 action):
    // doc lengths bin into [[PsiBins]] GLOBAL equi-depth deciles (ranks
    // via Ranking.globalRank — corpus-sized, never one task), then
    // PSI_s = sum_i (p_i - q_i) ln(p_i / q_i) of the source's bin shares
    // p against the rest-of-corpus shares q. Empty cells take the
    // standard 1e-6 floor IN BOTH ENGINES (PSI is undefined at zero);
    // terms accumulate as 1e-9 fixed-point longs.
    "drift_psi_length" -> { (s, d) =>
      val docs = documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      val ranked = Ranking.globalRank(docs, Seq(asc("n_chars"), asc("doc_id")))
      val n = docs.agg(count(lit(1)).as("n_tot"))
      val binned = ranked.crossJoin(broadcast(n))
        .withColumn("bin", expr(s"(rank - 1) * $PsiBins DIV n_tot").cast("int"))
      val cells = binned.groupBy("source", "bin").agg(count(lit(1)).as("c"))
      val binTot = binned.groupBy("bin").agg(count(lit(1)).as("bt"))
      val srcTot = binned.groupBy("source").agg(count(lit(1)).as("n_s"))
      val grid = srcTot.crossJoin(broadcast(binTot))
        .join(cells, Seq("source", "bin"), "left")
        .crossJoin(broadcast(n))
        .select(col("source"), col("bin"), col("n_s"), col("bt"), col("n_tot"),
          coalesce(col("c"), lit(0L)).as("c"))
      val p = when(col("c") === 0, lit(1e-6))
        .otherwise(col("c").cast("double") / col("n_s").cast("double"))
      val q = when(col("bt") - col("c") === 0, lit(1e-6))
        .otherwise((col("bt") - col("c")).cast("double") /
          (col("n_tot") - col("n_s")).cast("double"))
      grid
        // single-source corpus: every rest-share q is over an empty rest —
        // all terms NULL, so the sum (and psi) is NULL, never a
        // divide-by-zero under ANSI
        .select(col("source"), col("n_s"),
          when(col("n_tot") === col("n_s"), lit(null).cast("long"))
            .otherwise(round((p - q) * log(p / q) * 1e9).cast("long")).as("t9"))
        .groupBy("source")
        .agg(first("n_s").as("n_docs"),
          round(sum("t9").cast("double") / 1e9, 6).as("psi"))
        .orderBy("source")
    },

    // Exact 1-D Wasserstein-1 (earth-mover) distance per source on the
    // same scaffold: W1 = integral |F_s(x) - F_rest(x)| dx = sum over
    // consecutive distinct lengths of |CDF gap| * (next_x - x) — where KS
    // reports the WORST pointwise CDF gap, W1 reports how much mass must
    // move how far (the drift magnitude embedding-shift monitoring
    // thresholds on). Same exact integer cross-multiplied numerators;
    // the single double division happens after the full integer sum.
    "drift_w1_length" -> { (s, d) =>
      val dec = DecimalType(38, 0)
      val wS = Window.partitionBy("source").orderBy("x")
      val cum = lengthEcdfScaffold(s, d)
        .withColumn("nx", lead("x", 1).over(wS))
      cum
        .where(col("nx").isNotNull)
        .select(col("source"), col("n_s"), col("n_tot"),
          (abs(col("cs").cast(dec) * (col("n_tot") - col("n_s")) -
            (col("cgx") - col("cs")).cast(dec) * col("n_s")) *
            (col("nx") - col("x"))).as("term"))
        .groupBy("source")
        .agg(first("n_s").as("n_docs"), first("n_tot").as("nt"),
          sum("term").as("tsum"))
        // single-source corpus -> NULL (same contract as drift_ks_length)
        .select(col("source"), col("n_docs"),
          when(col("nt") === col("n_docs"), lit(null).cast("double"))
            .otherwise(round(col("tsum").cast("double") /
              (col("n_docs").cast("double") *
                (col("nt") - col("n_docs")).cast("double")), 6)).as("w1_dist"))
        .orderBy("source")
    }
  )

  /** Shared ECDF scaffold for the order-statistic drift tests: one row per
    * (source, distinct corpus length x) with the source's cumulative doc
    * count cs, the corpus cumulative cgx, the source total n_s, and the
    * corpus total n_tot. Size is |sources| x |distinct lengths| — bounded
    * by the VALUE DOMAIN of the measured column, not corpus size; the
    * rest-side CDF derives from cgx - cs, so no global window runs.
    */
  private def lengthEcdfScaffold(s: SparkSession, d: String): DataFrame = {
    val sx = documents(s, d)
      .select(col("source"), col("n_chars").as("x"))
      .groupBy("source", "x").agg(count(lit(1)).as("c"))
    val xs = sx.select("x").distinct()
    val srcs = sx.groupBy("source").agg(sum("c").as("n_s"))
    val tot = sx.agg(sum("c").as("n_tot"))
    val wS = Window.partitionBy("source").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = srcs.crossJoin(xs)
      .join(sx, Seq("source", "x"), "left")
      .select(col("source"), col("n_s"), col("x"),
        coalesce(col("c"), lit(0L)).as("c"))
      .withColumn("cs", sum("c").over(wS))
    val cg = cum.groupBy("x").agg(sum("cs").as("cgx"))
    cum.join(cg, "x").crossJoin(broadcast(tot))
  }

  /** (label_a, label_b, mmd2) for every label pair of a (label, embedding)
    * relation — the [[queries]] emb_drift_mmd kernel, factored for the
    * planted-fixture spec (identical groups ⇒ 0; a translated group ⇒ the
    * exact squared shift).
    */
  def mmdPairs(emb: DataFrame): DataFrame = {
    val st = emb
      .select(col("label"),
        posexplode(TextHash.toDouble(col("embedding"))).as(Seq("dim0", "v")))
      .select(col("label"), (col("dim0") + 1).as("dim"),
        round(col("v") * lit(1e9)).cast("long").as("x9"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), sum("x9").as("s9"))
      .select(col("label"), col("dim"),
        (col("s9").cast("double") / lit(1e9) / col("n").cast("double")).as("m"))
    val a = st.select(col("label").as("label_a"), col("dim"), col("m").as("ma"))
    val b = st.select(col("label").as("label_b"), col("dim"), col("m").as("mb"))
    a.join(broadcast(b), Seq("dim"))
      .where(col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        round((col("ma") - col("mb")) * (col("ma") - col("mb")) * Fix)
          .cast("long").as("c9"))
      .groupBy("label_a", "label_b")
      .agg(round(sum(col("c9")).cast("double") / Fix, 6).as("mmd2"))
      .orderBy("label_a", "label_b")
  }

  /** KL/entropy finisher over any (source, tok, c) count relation — shared
    * verbatim by the batch query and the streaming drift monitor
    * (StreamingOps.driftTokenCounts feeds the micro-batch-accumulated
    * counts through this exact plan, so stream == batch is by
    * construction, proven in StreamingSpec). Everything here is vocab- or
    * margins-sized.
    */
  def sourceKl(st: DataFrame): DataFrame = {
      val bySrc = st.groupBy("source")
        .agg(sum("c").as("n_src"), count(lit(1)).as("v_src"))
      val byTok = st.groupBy("tok").agg(sum("c").as("c_tot"))
      val tot = byTok.agg(sum("c_tot").as("n_tot"))
      val p = col("c").cast("double") / col("n_src").cast("double")
      val q = col("c_tot").cast("double") / col("n_tot").cast("double")
      st.join(byTok, "tok")
        .join(bySrc, "source")
        .crossJoin(broadcast(tot))
        .select(col("source"), col("n_src"), col("v_src"),
          round(p * log(p / q) * Fix).cast("long").as("klc"),
          round(-p * log(p) * Fix).cast("long").as("ec"))
        .groupBy("source")
        .agg(first(col("n_src")).as("n_tokens"),
          first(col("v_src")).as("distinct_tokens"),
          round(sum(col("ec")).cast("double") / Fix, 6).as("entropy"),
          round(sum(col("klc")).cast("double") / Fix, 6).as("kl_vs_corpus"))
        .orderBy("source")
  }

  val oracles: Map[String, String] = Map(
    "drift_source_kl" ->
      s"""WITH st AS (SELECT source, t AS tok, count(*) AS c
         |  FROM (SELECT source, unnest(${toksSql("text")}) AS t FROM documents)
         |  GROUP BY source, t),
         |bys AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_src,
         |    count(*) AS v_src FROM st GROUP BY source),
         |byt AS (SELECT tok, CAST(sum(c) AS BIGINT) AS c_tot FROM st GROUP BY tok),
         |tot AS (SELECT CAST(sum(c_tot) AS BIGINT) AS n_tot FROM byt),
         |terms AS (SELECT st.source,
         |    CAST(round((CAST(c AS DOUBLE)/CAST(n_src AS DOUBLE))
         |      * ln((CAST(c AS DOUBLE)/CAST(n_src AS DOUBLE))
         |          /(CAST(c_tot AS DOUBLE)/CAST(n_tot AS DOUBLE))) * 1e9)
         |      AS BIGINT) AS klc,
         |    CAST(round(-(CAST(c AS DOUBLE)/CAST(n_src AS DOUBLE))
         |      * ln(CAST(c AS DOUBLE)/CAST(n_src AS DOUBLE)) * 1e9)
         |      AS BIGINT) AS ec,
         |    n_src, v_src
         |  FROM st JOIN byt ON st.tok = byt.tok
         |    JOIN bys ON st.source = bys.source CROSS JOIN tot)
         |SELECT source, any_value(n_src) AS n_tokens,
         |  any_value(v_src) AS distinct_tokens,
         |  round(CAST(sum(ec) AS DOUBLE)/1e9, 6) AS entropy,
         |  round(CAST(sum(klc) AS DOUBLE)/1e9, 6) AS kl_vs_corpus
         |FROM terms GROUP BY source ORDER BY source""".stripMargin,

    "drift_lang_chi2" ->
      """WITH cells AS (SELECT source, lang, count(*) AS o
        |  FROM documents GROUP BY source, lang),
        |rt AS (SELECT source, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY source),
        |ct AS (SELECT lang, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY lang),
        |n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |grid AS (SELECT rt.source, ct.lang, rt.rt, ct.ct, n.n
        |  FROM rt CROSS JOIN ct CROSS JOIN n),
        |j AS (SELECT g.rt, g.ct, g.n, coalesce(c.o, 0) AS o
        |  FROM grid g LEFT JOIN cells c
        |    ON g.source = c.source AND g.lang = c.lang),
        |t AS (SELECT CAST(round(
        |    (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(n AS DOUBLE))
        |    * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(n AS DOUBLE))
        |    / (CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(n AS DOUBLE)) * 1e9)
        |    AS BIGINT) AS cc FROM j)
        |SELECT count(*) AS n_cells, round(CAST(sum(cc) AS DOUBLE)/1e9, 6) AS chi2
        |FROM t""".stripMargin,

    "source_style_cosine" ->
      """WITH g AS (SELECT source, gram, count(*) AS c FROM (
        |    SELECT source, substr(text, CAST(i AS INTEGER), 3) AS gram
        |    FROM (SELECT source, text, unnest(range(1, len(text) - 1)) AS i
        |          FROM documents WHERE len(text) >= 3))
        |  GROUP BY 1, 2),
        |nrm AS (SELECT source, sqrt(CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE))
        |    AS nrm FROM g GROUP BY source),
        |dp AS (SELECT a.source AS source_x, b.source AS source_y,
        |    CAST(sum(CAST(a.c AS HUGEINT) * b.c) AS DOUBLE) AS dp
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_x, source_y,
        |  round(dp / (nx.nrm * ny.nrm), 6) AS style_cos
        |FROM dp JOIN nrm nx ON dp.source_x = nx.source
        |  JOIN nrm ny ON dp.source_y = ny.source
        |ORDER BY source_x, source_y""".stripMargin,

    "emb_drift_mmd" ->
      """WITH dmd AS (SELECT label, generate_subscripts(embedding, 1) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE)*1e9) AS BIGINT) AS x9
        |  FROM embeddings),
        |st AS (SELECT label, CAST(dim AS INTEGER) AS dim,
        |    CAST(sum(x9) AS DOUBLE)/1e9/CAST(count(*) AS DOUBLE) AS m
        |  FROM dmd GROUP BY 1, 2),
        |p AS (SELECT a.label AS label_a, b.label AS label_b,
        |    CAST(round((a.m - b.m)*(a.m - b.m)*1e9) AS BIGINT) AS c9
        |  FROM st a JOIN st b ON a.dim = b.dim AND a.label < b.label)
        |SELECT label_a, label_b, round(CAST(sum(c9) AS DOUBLE)/1e9, 6) AS mmd2
        |FROM p GROUP BY 1, 2 ORDER BY label_a, label_b""".stripMargin,

    "style_burrows_delta" ->
      s"""WITH tok AS (SELECT source, unnest(${toksSql("text")}) AS word
         |  FROM documents),
         |topw AS (SELECT word FROM (SELECT word, count(*) AS c FROM tok
         |  GROUP BY 1 ORDER BY c DESC, word LIMIT $DeltaTopM)),
         |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM tok GROUP BY 1),
         |csw AS (SELECT source, tok.word, count(*) AS c FROM tok
         |  JOIN topw ON tok.word = topw.word GROUP BY 1, 2),
         |grid AS (SELECT ns.source, topw.word, ns.n_s,
         |    CAST((CAST(coalesce(csw.c, 0) AS HUGEINT) * 1000000000) // ns.n_s
         |      AS BIGINT) AS f9
         |  FROM ns CROSS JOIN topw
         |  LEFT JOIN csw ON csw.source = ns.source AND csw.word = topw.word),
         |st AS (SELECT word, CAST(count(*) AS HUGEINT) AS k,
         |    sum(CAST(f9 AS HUGEINT)) AS sf9,
         |    sum(CAST(f9 AS HUGEINT) * f9) AS sff FROM grid GROUP BY 1),
         |ms AS (SELECT word, CAST(sf9 AS DOUBLE) / CAST(k AS DOUBLE) AS m,
         |    sqrt(greatest(CAST(sff AS DOUBLE) / CAST(k AS DOUBLE)
         |      - (CAST(sf9 AS DOUBLE) / CAST(k AS DOUBLE))
         |        * (CAST(sf9 AS DOUBLE) / CAST(k AS DOUBLE)), 0.0)) AS sd,
         |    k * sff = sf9 * sf9 AS zerovar FROM st),
         |zs AS (SELECT source, grid.word,
         |    CASE WHEN zerovar THEN 0.0
         |      ELSE (CAST(f9 AS DOUBLE) - m) / sd END AS z
         |  FROM grid JOIN ms ON grid.word = ms.word)
         |SELECT a.source AS source_x, b.source AS source_y,
         |  round(CAST(sum(CAST(round(abs(a.z - b.z) * 1e9) AS BIGINT)) AS DOUBLE)
         |    / 1e9 / $DeltaTopM, 6) AS delta
         |FROM zs a JOIN zs b ON a.word = b.word AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY source_x, source_y""".stripMargin,

    "drift_ks_length" ->
      s"""WITH $ecdfCtes,
        |num AS (SELECT source, n_s, n_tot,
        |    abs(CAST(cs AS HUGEINT) * (n_tot - n_s)
        |      - CAST(cgx - cs AS HUGEINT) * n_s) AS num
        |  FROM cum JOIN cg USING (x) CROSS JOIN tot)
        |SELECT source, any_value(n_s) AS n_docs,
        |  CASE WHEN any_value(n_tot) = any_value(n_s) THEN NULL
        |    ELSE round(CAST(max(num) AS DOUBLE)
        |      / (CAST(any_value(n_s) AS DOUBLE)
        |         * CAST(any_value(n_tot) - any_value(n_s) AS DOUBLE)), 6)
        |  END AS ks_stat
        |FROM num GROUP BY source ORDER BY source""".stripMargin,

    "drift_psi_length" ->
      s"""WITH r AS (SELECT source,
         |    row_number() OVER (ORDER BY n_chars, doc_id) AS rank
         |  FROM documents),
         |n AS (SELECT count(*) AS n_tot FROM documents),
         |b AS (SELECT source, CAST((rank - 1) * $PsiBins // n_tot AS INTEGER)
         |    AS bin FROM r CROSS JOIN n),
         |cells AS (SELECT source, bin, count(*) AS c FROM b GROUP BY 1, 2),
         |bt AS (SELECT bin, CAST(count(*) AS BIGINT) AS bt FROM b GROUP BY 1),
         |st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM b GROUP BY 1),
         |grid AS (SELECT st.source, bt.bin, st.n_s, bt.bt, n.n_tot,
         |    coalesce(cells.c, 0) AS c
         |  FROM st CROSS JOIN bt
         |  LEFT JOIN cells ON cells.source = st.source AND cells.bin = bt.bin
         |  CROSS JOIN n),
         |terms AS (SELECT source, n_s,
         |    CAST(round((p - q) * ln(p / q) * 1e9) AS BIGINT) AS t9
         |  FROM (SELECT source, n_s,
         |      CASE WHEN c = 0 THEN 1e-6
         |        ELSE CAST(c AS DOUBLE) / CAST(n_s AS DOUBLE) END AS p,
         |      CASE WHEN n_tot = n_s THEN NULL
         |        WHEN bt - c = 0 THEN 1e-6
         |        ELSE CAST(bt - c AS DOUBLE) / CAST(n_tot - n_s AS DOUBLE) END AS q
         |    FROM grid))
         |SELECT source, any_value(n_s) AS n_docs,
         |  round(CAST(sum(t9) AS DOUBLE) / 1e9, 6) AS psi
         |FROM terms GROUP BY source ORDER BY source""".stripMargin,

    "drift_w1_length" ->
      s"""WITH $ecdfCtes,
        |stp AS (SELECT source, n_s, n_tot, x, cs, cgx,
        |    lead(x) OVER (PARTITION BY source ORDER BY x) AS nx
        |  FROM cum JOIN cg USING (x) CROSS JOIN tot),
        |terms AS (SELECT source, n_s, n_tot,
        |    abs(CAST(cs AS HUGEINT) * (n_tot - n_s)
        |      - CAST(cgx - cs AS HUGEINT) * n_s) * (nx - x) AS term
        |  FROM stp WHERE nx IS NOT NULL)
        |SELECT source, any_value(n_s) AS n_docs,
        |  CASE WHEN any_value(n_tot) = any_value(n_s) THEN NULL
        |    ELSE round(CAST(sum(term) AS DOUBLE)
        |      / (CAST(any_value(n_s) AS DOUBLE)
        |         * CAST(any_value(n_tot) - any_value(n_s) AS DOUBLE)), 6)
        |  END AS w1_dist
        |FROM terms GROUP BY source ORDER BY source""".stripMargin
  )

  /** Oracle CTE chain mirroring [[lengthEcdfScaffold]]. */
  private def ecdfCtes: String =
    """sx AS (SELECT source, n_chars AS x, count(*) AS c
      |  FROM documents GROUP BY 1, 2),
      |xs AS (SELECT DISTINCT x FROM sx),
      |srcs AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM sx GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tot FROM sx),
      |sc AS (SELECT srcs.source, srcs.n_s, xs.x, coalesce(sx.c, 0) AS c
      |  FROM srcs CROSS JOIN xs
      |  LEFT JOIN sx ON sx.source = srcs.source AND sx.x = xs.x),
      |cum AS (SELECT source, n_s, x,
      |    CAST(sum(c) OVER (PARTITION BY source ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs
      |  FROM sc),
      |cg AS (SELECT x, CAST(sum(cs) AS BIGINT) AS cgx FROM cum GROUP BY 1)""".stripMargin
}
