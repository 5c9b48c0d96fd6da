package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft.{fill, persist}
import graft.Tables._

/** End-to-end corpus-cleaning pipeline — the composition a pretraining
  * data pipeline actually runs, built from the library's own stages:
  *
  *   1. quality gate    (TextAnalysis.stats: quality_score >= threshold)
  *   2. exact dedup     (Dedup.exactKeepIds: smallest doc_id per text)
  *   3. near-dup dedup  (Dedup.minhashPairsFor over the GATED corpus;
  *                       drop the larger id of each pair). Running minhash
  *                       after the gates matters: pairing against already-
  *                       removed docs would drop both copies of content
  *                       whose keeper failed an earlier gate.
  *
  * Every stage is the oracled operator from its own pack, so the whole
  * composition is DuckDB-verifiable end to end. At 100 TB each stage is a
  * bounded shuffle (md5 keys / LSH buckets / doc_id), never a cross join.
  */
object Pipeline {

  val QualityThreshold = 0.5

  /** doc_ids surviving quality gate + exact dedup + minhash near-dedup,
    * over any (doc_id, text) corpus.
    */
  def cleanCorpusFor(docs: DataFrame): DataFrame = {
    val base = docs.select("doc_id", "text")
    val qualityOk = TextAnalysis.stats(base)
      .where(col("quality_score") >= QualityThreshold)
      .select("doc_id")
    // persist: gated feeds the minhash signature subtree AND the final
    // anti-join base — without it the quality gate + both semi-joins run
    // twice
    val gated = persist(base
      .join(qualityOk, Seq("doc_id"), "left_semi")
      .join(Dedup.exactKeepIds(base), Seq("doc_id"), "left_semi"))
    val nearDupDrop = Dedup.minhashPairsFor(gated).select(col("doc_b").as("doc_id"))
    gated.select("doc_id").join(nearDupDrop, Seq("doc_id"), "left_anti")
  }

  def cleanCorpus(s: SparkSession, d: String): DataFrame =
    cleanCorpusFor(documents(s, d))

  /** The full pretrain funnel over any (doc_id, source, text) corpus —
    * the composable core of `pipeline_pretrain_e2e`, factored out so
    * PipelineSpec can drive a PLANTED corpus through it where every
    * stage provably drops documents (the fixture leaves the exact-dedup
    * branch vacuous: its 8 exact-dup groups at sf0.1 all fail the
    * URL/quality gates first).
    */
  def pretrainFunnelFor(docs: DataFrame): DataFrame = {
    graft.Graft.init(docs.sparkSession) // graft_h60 on any caller session
    // forward a caller-provided url column to the curation stage (a real
    // corpus curates on its own URLs; the url-less fixture synthesizes —
    // UrlOps.withDomain); the oracled fixture path is unchanged
    val urlIn =
      if (docs.columns.contains("url")) Seq("doc_id", "source", "url")
      else Seq("doc_id", "source")
    val urlFlags = UrlOps.domainCapRank(docs.select(urlIn.map(col): _*))
      .select(col("doc_id"),
        (col("host") =!= "" && col("rn") <= UrlOps.DomainCap).as("url_ok"))
    val qFlags = TextAnalysis.stats(docs.select("doc_id", "text"))
      .select(col("doc_id"),
        (col("quality_score") >= QualityThreshold).as("q_ok"))
    val flags = persist(docs.join(urlFlags, "doc_id").join(qFlags, "doc_id"))
    val g2 = flags.where(col("url_ok") && col("q_ok"))
      .select("doc_id", "source", "text")
    val g3 = persist(g2.join(Dedup.exactKeepIds(g2.select("doc_id", "text")),
      Seq("doc_id"), "left_semi"))
    val pairs = Dedup.minhashPairsFor(g3.select("doc_id", "text"))
      .select("doc_a", "doc_b")
    val cc = Components.connectedComponents(g3.select("doc_id"), pairs)
      .toDF("doc_id", "component_id")
    val reps = cc.groupBy("component_id").agg(min("doc_id").as("doc_id"))
    val g4 = g3.join(reps, "doc_id") // + component_id
    // the SAME ratio relation contamination_check reports (shared
    // helper) — only the gate predicate is funnel-specific
    val contam = Corpus.contamOverlap(g4.select("doc_id", "text"),
        docs.where(col("doc_id") % Corpus.BenchMod === 0))
      .where(col("overlap_ratio") >= Corpus.ContamThreshold)
      .select("doc_id")
    val g5 = g4.where(col("doc_id") % Corpus.BenchMod =!= 0)
      .join(contam, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("component_id"), col("source"),
        size(TextHash.toks(col("text"))).cast("long").as("n_tok"))
    // fin and packs are both broadcast-side aggregates of the final cross
    // join (flags/g3 are already warmed transitively by the CC build)
    fill(g5, "Pipeline.pretrainFunnelFor/g5")
    val sk = TextHash.h60(
      concat(lit(Corpus.SplitSalt), col("component_id").cast("string"))) % 1000
    val headCounts = flags.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("url_ok"), 1L).otherwise(0L)).as("after_url"),
      sum(when(col("url_ok") && col("q_ok"), 1L).otherwise(0L))
        .as("after_quality"))
    val fin = g5.agg(
      count(lit(1)).as("after_contam"),
      sum("n_tok").as("total_tokens"),
      sum(when(sk < 800, 1L).otherwise(0L)).as("n_train"),
      sum(when(sk >= 800 && sk < 900, 1L).otherwise(0L)).as("n_validation"),
      sum(when(sk >= 900, 1L).otherwise(0L)).as("n_test"))
    val packs = g5.groupBy("source").agg(sum("n_tok").as("st"))
      .agg(sum(expr(s"(st + ${Corpus.ChunkTokens} - 1) DIV ${Corpus.ChunkTokens}"))
        .as("n_packs"))
    headCounts
      .crossJoin(g3.agg(count(lit(1)).as("after_exact")))
      .crossJoin(reps.agg(count(lit(1)).as("after_neardup")))
      .crossJoin(fin)
      .crossJoin(packs)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The surviving corpus: ordered doc_ids (size accounting lives in
    // pipeline_survivor_stats).
    "pipeline_clean_corpus" -> { (s, d) =>
      cleanCorpus(s, d).orderBy("doc_id")
    },

    // Exact percentiles over surviving doc lengths — interpolated
    // percentile matches DuckDB quantile_cont bit-for-bit on these
    // integer-valued inputs.
    "pipeline_survivor_stats" -> { (s, d) =>
      val clean = cleanCorpus(s, d)
      documents(s, d).join(clean, Seq("doc_id"), "left_semi")
        .select(size(TextHash.toks(col("text"))).cast("double").as("n_tokens"))
        .agg(count(lit(1)).as("n_docs"),
          expr("percentile(n_tokens, 0.5)").as("median_tokens"),
          expr("percentile(n_tokens, 0.9)").as("p90_tokens"),
          min("n_tokens").cast("double").as("min_tokens"),
          max("n_tokens").cast("double").as("max_tokens"))
    },

    // FULL pretrain pipeline as ONE DataFrame DAG — the shape a real
    // 100 TB job runs: URL curation (well-formed host + per-domain cap) →
    // quality gate → exact dedup → near-dup connected components with
    // min-id cluster keep → contamination firewall (benchmark docs AND
    // any survivor whose shingle overlap with the benchmark set crosses
    // the threshold leave) → tokenize → concat-pack accounting →
    // component-keyed train/val/test split. One summary row: cumulative
    // survivor counts per stage plus token/pack/split accounting. Every
    // stage is the SAME shared helper its standalone oracled query uses
    // (domainCapRank, stats, exactKeepIds, minhashPairsFor,
    // connectedComponents, shingleRows, toks — a salt/threshold change
    // cannot desynchronize the funnel from the queries PipelineSpec
    // reconciles it against). Stage flags 1-2 are per-doc projections
    // computed in one corpus pass; stages 3+ are set-conditional (exact
    // dedup keeps the min doc_id WITHIN the gated corpus, CC runs over
    // the exact-deduped corpus — pairing against already-removed docs
    // would drop both copies of content whose keeper failed an earlier
    // gate). Three persists bound recompute: the flagged corpus (feeds
    // 2 counts + the gated chain), the exact-deduped corpus (feeds the
    // signature subtree, CC nodes, the rep join and a count), and the
    // final survivor relation (feeds 5 aggregates); CC and the minhash
    // signature relation checkpoint/persist internally. At 100 TB each
    // stage is a bounded shuffle (domain window / md5 keys / LSH bands /
    // doc_id joins; the benchmark shingle set broadcasts) — never a
    // cross join, never a driver-side corpus collect.
    "pipeline_pretrain_e2e" -> { (s, d) =>
      graft.Graft.init(s)
      pretrainFunnelFor(documents(s, d).select("doc_id", "source", "text"))
    },

    // Web-curation funnel — the PROVENANCE+content gate composition a
    // crawl pipeline runs before the dedup stages above, built from the
    // library's own oracled steps and reported as cumulative survivor
    // counts: well-formed URL -> registrable-domain cap -> word blocklist
    // -> Latin-dominant script routing. Each flag is a per-doc projection
    // or one bounded agg (cap = GroupTopK-shape ranking, blocklist =
    // broadcast left join), joined back on doc_id — no stage rescans
    // another stage's work.
    "pipeline_web_curation" -> { (s, d) =>
      graft.Graft.init(s)
      val docs = documents(s, d).select("doc_id", "source", "text")
      // every stage flag comes from the SHARED helper its standalone
      // query uses (UrlOps.domainCapRank, TextAnalysis.blocklistCounts /
      // dominantScript) — a salt, tiebreak or threshold change cannot
      // desynchronize the funnel from the queries the spec reconciles
      // it against
      val urlFlags = UrlOps.domainCapRank(docs.select("doc_id", "source"))
        .select(col("doc_id"), (col("host") =!= "").as("url_ok"),
          (col("rn") <= UrlOps.DomainCap).as("cap_ok"))
      val blFlags = TextAnalysis
        .blocklistCounts(s, docs.select("doc_id", "text"))
        .select(col("doc_id"),
          (!(col("n_blocked").cast("double") / col("n_tokens").cast("double") >
            TextAnalysis.BlockThreshold)).as("bl_ok"))
      val scFlags = docs.select(col("doc_id"),
        (TextAnalysis.dominantScript === "latin").as("sc_ok"))
      urlFlags.join(blFlags, "doc_id").join(scFlags, "doc_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("url_ok"), 1L).otherwise(0L)).as("after_url"),
          sum(when(col("url_ok") && col("cap_ok"), 1L).otherwise(0L))
            .as("after_cap"),
          sum(when(col("url_ok") && col("cap_ok") && col("bl_ok"), 1L)
            .otherwise(0L)).as("after_blocklist"),
          sum(when(col("url_ok") && col("cap_ok") && col("bl_ok") &&
            col("sc_ok"), 1L).otherwise(0L)).as("after_script"))
    }
  )

  /** Shared CTE chain ending in `clean(doc_id)` — the gated corpus minus
    * near-dup drops, mirroring [[cleanCorpus]] stage for stage.
    */
  private def cleanCtes: String =
    s"""WITH qtok AS (SELECT doc_id, text, ${TextHash.toksSql("text")} AS t FROM documents),
       |q AS (SELECT doc_id, ${TextAnalysis.qualitySql("t", "text")} AS quality FROM qtok),
       |exact_keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |gated AS (SELECT d.doc_id, d.text FROM documents d
       |  WHERE d.doc_id IN (SELECT doc_id FROM q WHERE quality >= $QualityThreshold)
       |    AND d.doc_id IN (SELECT doc_id FROM exact_keep)),
       |${Dedup.sigCtes("gated")},
       |pairs AS (${Dedup.minhashPairsSqlSelect}),
       |clean AS (SELECT doc_id FROM gated
       |  WHERE doc_id NOT IN (SELECT doc_b FROM pairs))""".stripMargin

  val oracles: Map[String, String] = Map(
    "pipeline_clean_corpus" ->
      s"""$cleanCtes
         |SELECT doc_id FROM clean ORDER BY doc_id""".stripMargin,

    "pipeline_survivor_stats" ->
      s"""$cleanCtes
         |SELECT count(*) AS n_docs,
         |  CAST(quantile_cont(n_tokens, 0.5) AS DOUBLE) AS median_tokens,
         |  CAST(quantile_cont(n_tokens, 0.9) AS DOUBLE) AS p90_tokens,
         |  min(n_tokens) AS min_tokens,
         |  max(n_tokens) AS max_tokens
         |FROM (SELECT CAST(len(${TextHash.toksSql("d.text")}) AS DOUBLE) AS n_tokens
         |      FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM clean))""".stripMargin,

    "pipeline_pretrain_e2e" ->
      s"""WITH RECURSIVE ${UrlOps.domainCapRankSql},
         |uf AS (SELECT doc_id,
         |  (host <> '' AND rn <= ${UrlOps.DomainCap}) AS url_ok FROM rr),
         |qtok AS (SELECT doc_id, text, ${TextHash.toksSql("text")} AS t FROM documents),
         |qf AS (SELECT doc_id,
         |  (${TextAnalysis.qualitySql("t", "text")} >= $QualityThreshold) AS q_ok
         |  FROM qtok),
         |g2 AS (SELECT d.doc_id, d.source, d.text FROM documents d
         |  JOIN uf USING (doc_id) JOIN qf USING (doc_id)
         |  WHERE uf.url_ok AND qf.q_ok),
         |ek AS (SELECT min(doc_id) AS doc_id FROM g2 GROUP BY md5(text)),
         |g3 AS (SELECT * FROM g2 WHERE doc_id IN (SELECT doc_id FROM ek)),
         |${Components.ccCtesFor("g3")},
         |reps AS (SELECT component_id, min(doc_id) AS doc_id FROM cc GROUP BY 1),
         |g4 AS (SELECT g3.doc_id, reps.component_id, g3.source, g3.text
         |  FROM g3 JOIN reps USING (doc_id)),
         |bt AS (SELECT doc_id, ${TextHash.toksSql("text")} AS tt FROM documents
         |  WHERE doc_id % ${Corpus.BenchMod} = 0),
         |bs AS (SELECT DISTINCT unnest(${TextHash.shingles3Sql("tt")}) AS bsh FROM bt),
         |gt AS (SELECT doc_id, ${TextHash.toksSql("text")} AS tt FROM g4),
         |gs AS (SELECT DISTINCT doc_id,
         |  unnest(${TextHash.shingles3Sql("tt")}) AS gsh FROM gt),
         |ov AS (SELECT gs.doc_id, count(*) AS n_sh,
         |    CAST(sum(CASE WHEN bs.bsh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ov
         |  FROM gs LEFT JOIN bs ON gs.gsh = bs.bsh GROUP BY 1),
         |contam AS (SELECT doc_id FROM ov
         |  WHERE round(CAST(n_ov AS DOUBLE) / n_sh, 6) >= ${Corpus.ContamThreshold}),
         |g5 AS (SELECT g4.doc_id, g4.component_id, g4.source,
         |    CAST(len(${TextHash.toksSql("g4.text")}) AS BIGINT) AS n_tok
         |  FROM g4 WHERE g4.doc_id % ${Corpus.BenchMod} <> 0
         |    AND g4.doc_id NOT IN (SELECT doc_id FROM contam)),
         |ps AS (SELECT source, sum(n_tok) AS st FROM g5 GROUP BY 1),
         |skt AS (SELECT doc_id,
         |  ${TextHash.h60Sql(s"'${Corpus.SplitSalt}' || CAST(component_id AS VARCHAR)")} % 1000 AS k
         |  FROM g5)
         |SELECT
         |  (SELECT count(*) FROM documents) AS n_docs,
         |  (SELECT count(*) FROM uf WHERE url_ok) AS after_url,
         |  (SELECT count(*) FROM uf JOIN qf USING (doc_id)
         |     WHERE url_ok AND q_ok) AS after_quality,
         |  (SELECT count(*) FROM g3) AS after_exact,
         |  (SELECT count(*) FROM reps) AS after_neardup,
         |  (SELECT count(*) FROM g5) AS after_contam,
         |  (SELECT CAST(sum(n_tok) AS BIGINT) FROM g5) AS total_tokens,
         |  (SELECT CAST(sum((st + ${Corpus.ChunkTokens} - 1) // ${Corpus.ChunkTokens})
         |     AS BIGINT) FROM ps) AS n_packs,
         |  (SELECT count(*) FROM skt WHERE k < 800) AS n_train,
         |  (SELECT count(*) FROM skt WHERE k >= 800 AND k < 900) AS n_validation,
         |  (SELECT count(*) FROM skt WHERE k >= 900) AS n_test""".stripMargin,

    "pipeline_web_curation" ->
      s"""WITH ${UrlOps.domainCapRankSql},
         |uf AS (SELECT doc_id, host <> '' AS url_ok,
         |  rn <= ${UrlOps.DomainCap} AS cap_ok FROM rr),
         |${TextAnalysis.blocklistCountsSql},
         |bf AS (SELECT doc_id,
         |  NOT (CAST(n_blocked AS DOUBLE)
         |    / CAST(n_tokens AS DOUBLE) > ${TextAnalysis.BlockThreshold}) AS bl_ok
         |  FROM bcnt),
         |${TextAnalysis.scriptProfileCte},
         |sf AS (SELECT doc_id, dominant_script = 'latin' AS sc_ok FROM dom)
         |SELECT count(*) AS n_docs,
         |  CAST(sum(CASE WHEN url_ok THEN 1 ELSE 0 END) AS BIGINT) AS after_url,
         |  CAST(sum(CASE WHEN url_ok AND cap_ok THEN 1 ELSE 0 END) AS BIGINT)
         |    AS after_cap,
         |  CAST(sum(CASE WHEN url_ok AND cap_ok AND bl_ok THEN 1 ELSE 0 END)
         |    AS BIGINT) AS after_blocklist,
         |  CAST(sum(CASE WHEN url_ok AND cap_ok AND bl_ok AND sc_ok THEN 1
         |    ELSE 0 END) AS BIGINT) AS after_script
         |FROM uf JOIN bf USING (doc_id) JOIN sf USING (doc_id)""".stripMargin
  )
}
