package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Graft.fill
import graft.Tables._
import TextHash._

/** Text-analysis pack over `documents`: language-ID (signature-word
  * scoring), quality scoring, token counting (whitespace + BPE-ish regex),
  * and rolling-hash fingerprinting.
  *
  * Everything is a pure per-row projection — no shuffle. The per-row array
  * folds (aggregate/filter over ~10^2 tokens) run interpreted, which is
  * fine at this token count; documents orders of magnitude longer should
  * use the explode + codegen'd-aggregate shape instead (see
  * TextHash.shingleRows and the Dedup rewrites for the measured cliff).
  * All ratios are int/int double divisions (bit-exact across engines); the
  * fingerprint bottoms out in md5 (TextHash) for oracle parity.
  */
object TextAnalysis {

  /** Signature stopwords per language for the n-gram/stopword heuristic.
    * Deliberately tiny: the point is the scoring mechanics (count signature
    * hits per language, argmax with a fixed priority order), not lexicon
    * size.
    */
  val langSignatures: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of", "and"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "和")
  )

  val stopwords: Seq[String] =
    Seq("the", "a", "an", "is", "of", "and", "to", "in")

  /** Sample size for `dsir_resample_stats` (Gumbel-top-k over the DSIR
    * log-weights). Small relative to every fixture corpus so the mixture
    * SHIFT toward the target slice is visible in the stats table.
    */
  val DsirSampleK = 200

  /** DSIR-style per-doc importance log-weight (see `dsir_weights`):
    * (doc_id, n_tok, dsir_logw) under add-one-smoothed unigram LMs,
    * target = the `lang='en'` slice. Both vocabularies broadcast onto
    * the token stream; per-token log-ratios round to 6 dp then sum
    * exactly as DECIMAL per doc (double sums are partition-order-
    * dependent). Shared by the weights query and the resample half.
    */
  def dsirLogWeights(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("tok"))
    val cvoc = tok.groupBy("tok").agg(count(lit(1)).as("cnt_c"))
    val tvoc = tok.where(col("lang") === "en")
      .groupBy("tok").agg(count(lit(1)).as("cnt_t0"))
    val voc = cvoc.join(tvoc, Seq("tok"), "left")
      .select(col("tok"), col("cnt_c"),
        coalesce(col("cnt_t0"), lit(0L)).as("cnt_t"))
    val k = tok.agg(count(lit(1)).as("n_c"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_t"),
      countDistinct("tok").as("v"))
    tok.join(broadcast(voc), "tok").crossJoin(broadcast(k))
      .select(col("doc_id"), round(log(
        ((col("cnt_t") + 1).cast("double") / (col("n_t") + col("v")).cast("double"))
          / ((col("cnt_c") + 1).cast("double") / (col("n_c") + col("v")).cast("double"))),
        6).as("lr"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        round(sum(col("lr").cast(DecimalType(18, 6))).cast("double"), 6)
          .as("dsir_logw"))
  }

  /** BPE-ish tokenizer: letter runs, digit runs, or single non-space
    * symbols — the classic pre-tokenization split.
    */
  val bpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  private def score(t: Column, words: Seq[String]): Column =
    size(filter(t, x => x.isin(words.map(_.asInstanceOf[Any]): _*)))

  private def scoreSql(t: String, words: Seq[String]): String =
    s"len(list_filter($t, x -> x IN (${words.map(w => s"'$w'").mkString(", ")})))"

  // quality_score weights — single source of truth for the Spark
  // expression, the text_stats oracle, and the Pipeline oracles
  val WLen = 0.5; val WPunct = 0.3; val WStop = 0.2
  val LenCap = 100.0; val StopBoost = 5.0

  /** Min pair support / output size for `colloc_pmi` — support prunes the
    * long tail BEFORE the unigram joins, PMI ranks what survives.
    */
  val CollocMinCount = 5
  val CollocTopK = 50

  /** Quality quantile bands for `curriculum_order` (band 0 = best). */
  val CurriculumBands = 4
  private val CurriculumSalt = "cur1:"

  /** Gopher-style rule thresholds (Rae et al. 2021 §A1.1, re-tuned to the
    * fixture's ranges so every rule discriminates: the corpus's token
    * counts span 10..~100, mean token lengths 3.7..5.3, stopword hits
    * 0..8). Single source of truth for the Spark flags and the oracle.
    */
  val GMinWords = 20; val GMaxWords = 70
  val GMinMeanLen = 4.0; val GMaxMeanLen = 5.0
  val GMaxSymbolRatio = 0.1
  val GMinAlphaFrac = 0.8
  val GMinStopHits = 2

  /** DuckDB SQL for quality_score, given a token-list column `t` and the
    * raw `text` column — must mirror [[stats]] exactly.
    */
  private[operators] def qualitySql(t: String, text: String): String =
    s"""round(least(1.0, CAST(len($t) AS DOUBLE) / $LenCap) * $WLen +
       |      (1.0 - CAST(len(regexp_replace(lower($text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) / len($text)) * $WPunct +
       |      least(1.0, (CAST(${scoreSql(t, stopwords)} AS DOUBLE) / len($t)) * $StopBoost) * $WStop, 6)""".stripMargin

  /** Stats + composite quality score for any DataFrame with a `text` column
    * (composable library entry point; the oracled query applies it to
    * `documents`).
    */
  def stats(df: DataFrame): DataFrame =
    df.select(col("*"), toks(col("text")).as("_t"))
      .select(col("*"),
        length(col("text")).as("n_chars"),
        size(col("_t")).as("n_tokens"),
        (aggregate(col("_t"), lit(0), (acc, x) => acc + length(x)).cast("double") /
          size(col("_t"))).as("avg_token_len"),
        (length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", "")).cast("double") /
          length(col("text"))).as("punct_ratio"),
        (score(col("_t"), stopwords).cast("double") / size(col("_t"))).as("stopword_ratio"))
      .withColumn("quality_score",
        round(least(lit(1.0), col("n_tokens").cast("double") / LenCap) * WLen +
          (lit(1.0) - col("punct_ratio")) * WPunct +
          least(lit(1.0), col("stopword_ratio") * StopBoost) * WStop, 6))
      .drop("_t", "text")

  /** Language-ID scores + argmax prediction for any DataFrame with a `text`
    * column. Fixed priority (en > de > es > fr > zh) on ties; 'und' when no
    * signature word hits.
    */
  def langid(df: DataFrame): DataFrame = {
    val scored = df
      .select(col("*"), toks(col("text")).as("_t"))
      .select(col("*") +:
        langSignatures.map { case (l, ws) => score(col("_t"), ws).as(s"score_$l") }: _*)
    val pred = langSignatures.map(_._1).zipWithIndex.foldRight(lit("und")) {
      case ((l, i), els) =>
        val rest = langSignatures.map(_._1).drop(i + 1)
        val isMax = rest.foldLeft(col(s"score_$l") > 0: Column) {
          (c, o) => c && col(s"score_$l") >= col(s"score_$o")
        }
        when(isMax, lit(l)).otherwise(els)
    }
    scored.withColumn("lang_pred", pred).drop("_t", "text")
  }

  private[operators] def langScoreColsSql: String = langSignatures
    .map { case (l, ws) => s"CAST(${scoreSql("t", ws)} AS INTEGER) AS score_$l" }
    .mkString(",\n  ")

  private[operators] def langPredSql: String = {
    val langs = langSignatures.map(_._1)
    langs.zipWithIndex.foldRight("'und'") { case ((l, i), els) =>
      val rest = langs.drop(i + 1)
      val isMax = (s"score_$l > 0" +: rest.map(o => s"score_$l >= score_$o"))
        .mkString(" AND ")
      s"CASE WHEN $isMax THEN '$l' ELSE $els END"
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tokens / lengths / punctuation / stopword ratio + a composite quality
    // score in [0,1] — the filter signal a pretraining pipeline thresholds on.
    "text_stats" -> { (s, d) =>
      stats(documents(s, d).select("doc_id", "text")).orderBy("doc_id")
    },

    // Curriculum data ordering: docs banded into CurriculumBands quality
    // quantiles (band 0 = best) and deterministically shuffled WITHIN each
    // band — the easy-to-hard training order with intra-band randomness.
    // Both the quantile banding and the final position come from
    // Ranking.globalRank, so no unpartitioned window touches the corpus;
    // the band boundary is exact integer arithmetic on the rank, so ties
    // at a quantile edge land deterministically in both engines.
    "curriculum_order" -> { (s, d) =>
      val q = stats(documents(s, d).select("doc_id", "text"))
        .select(col("doc_id"), col("quality_score"))
      val ranked = Ranking
        .globalRank(q, Seq(desc("quality_score"), asc("doc_id")))
      val banded = ranked
        .crossJoin(broadcast(ranked.agg(count(lit(1)).as("n_total"))))
        .withColumn("band",
          expr(s"(rank - 1) * $CurriculumBands DIV n_total").cast("int"))
        .withColumn("ord",
          h60(concat(lit(CurriculumSalt), col("doc_id").cast("string"))))
        .select("doc_id", "band", "ord")
      Ranking.globalRank(banded, Seq(asc("band"), asc("ord"), asc("doc_id")))
        .select(col("doc_id"), col("band"), col("rank").as("pos"))
        .orderBy("pos")
    },

    // Language-ID: per-language signature-word hits, argmax with fixed
    // priority (en > de > es > fr > zh) on ties.
    "text_langid" -> { (s, d) =>
      langid(documents(s, d).select("doc_id", "text")).orderBy("doc_id")
    },

    // Token counts: whitespace split vs BPE-ish regex pre-tokenization.
    "text_token_counts" -> { (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          size(toks(col("text"))).as("n_ws_tokens"),
          size(regexp_extract_all(lower(col("text")), lit(bpePattern), lit(0)))
            .as("n_bpe_tokens"))
        .orderBy("doc_id")
    },

    // Composition: per-predicted-language corpus rollup — doc counts and
    // mean quality. The mean goes through an exact DECIMAL sum (double
    // summation is order-dependent across partitions; decimal is
    // associative) divided once at the end.
    "text_lang_quality" -> { (s, d) =>
      val docs = documents(s, d).select("doc_id", "text")
      langid(docs).select("doc_id", "lang_pred")
        .join(stats(docs).select("doc_id", "quality_score"), "doc_id")
        .groupBy("lang_pred")
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("quality_score").cast(DecimalType(12, 6))).cast("double") /
            count(lit(1))).as("mean_quality"))
        .orderBy("lang_pred")
    },

    // Repetition quality filters (the Gopher/C4 family): fraction of
    // duplicate tokens, fraction of occurrences claimed by the most
    // frequent bigram, fraction of repeated trigrams. High values flag
    // boilerplate / degenerate machine text a pretraining pipeline drops.
    // Shape: three explode -> per-(doc, gram) count -> per-doc aggregate
    // chains, all shuffled on doc_id (one partitioning reused end-to-end);
    // never a per-row HOF over the gram multiset (interpreted trap, see
    // TextHash.shingleRows). All fractions are exact-int divisions.
    "text_repetition" -> { (s, d) =>
      val docs = documents(s, d).select("doc_id", "text")
      val tokAgg = docs
        .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), countDistinct("tok").as("n_tok_d"))
      // ONE posexplode + window computes both lead tokens; the bigram and
      // trigram chains both read this relation (vs. a scan + window sort
      // per n-gram size — at 100 TB that is one corpus pass, not two)
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val grams = docs
        .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "tok")))
        .withColumn("t1", lead("tok", 1).over(w))
        .withColumn("t2", lead("tok", 2).over(w))
      val biAgg = grams
        .where(col("t1").isNotNull)
        .select(col("doc_id"), concat_ws(" ", col("tok"), col("t1")).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(sum("c").as("n_bi"), max("c").as("top_bi"))
      val triAgg = grams
        .where(col("t2").isNotNull)
        .select(col("doc_id"),
          concat_ws(" ", col("tok"), col("t1"), col("t2")).as("sh"))
        .groupBy("doc_id", "sh").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(sum("c").as("n_tri"), count(lit(1)).as("n_tri_d"))
      tokAgg
        .join(biAgg, Seq("doc_id"), "left")
        .join(triAgg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          round((col("n_tok") - col("n_tok_d")).cast("double") /
            col("n_tok").cast("double"), 6).as("dup_token_frac"),
          round(coalesce(col("top_bi").cast("double") / col("n_bi").cast("double"),
            lit(0.0)), 6).as("top_bigram_frac"),
          round(coalesce((col("n_tri") - col("n_tri_d")).cast("double") /
            col("n_tri").cast("double"), lit(0.0)), 6).as("dup_trigram_frac"))
        .orderBy("doc_id")
    },

    // Unigram-LM negative log likelihood per document (the CCNet-style
    // perplexity-proxy quality signal, with the corpus itself as the LM):
    // vocab counts once (map-side combined, vocabulary-sized output),
    // BROADCAST back onto the token stream (the tfidf_top_terms join
    // shape), one ln per token rounded to 6 dp, then an exact DECIMAL
    // per-doc mean (double summation is partition-order-dependent). Low
    // mean-NLL = high-probability boilerplate; high = rare-token noise.
    "text_unigram_nll" -> { (s, d) =>
      val tok = documents(s, d)
        .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      val vocab = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val total = vocab.agg(sum("cnt").as("n_total"))
      tok.join(broadcast(vocab), "tok").crossJoin(broadcast(total))
        .select(col("doc_id"),
          round(-log(col("cnt").cast("double") / col("n_total").cast("double")), 6)
            .as("nll"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum(round(col("nll") * 1e6).cast("long")).as("s6"))
        // exact integer half-up mean at 6 dp: round(sum/n) as
        // (2·s6 + n) div (2·n) — a double `round(sum/count, 6)` lands on
        // half-boundaries where the engines' doubles disagree (bigram
        // sibling diverged by 1e-6 on one sf0.1 row)
        .select(col("doc_id"), col("n_tok"),
          (expr("(2 * s6 + n_tok) div (2 * n_tok)").cast("double") / 1e6)
            .as("mean_nll"))
        .orderBy("doc_id")
    },

    // DSIR-style importance log-weight per document (Xie et al. 2023
    // "Data Selection for Language Models via Importance Resampling",
    // reduced to unigram features): log p_target(doc) − log p_corpus(doc)
    // under add-one-smoothed unigram LMs, target = the `lang='en'` slice.
    // High weight = doc looks like the target domain; the weights feed
    // sample_mixture-style resampling. Same scale shape as unigram NLL:
    // both vocabularies are vocab-sized and BROADCAST onto the token
    // stream; per-token log-ratios round to 6 dp then sum exactly as
    // DECIMAL per doc (double sums are partition-order-dependent).
    "dsir_weights" -> { (s, d) =>
      dsirLogWeights(s, d).orderBy("doc_id")
    },

    // The RESAMPLE half of DSIR (Xie et al. 2023 §2: importance
    // resampling is Gumbel-top-k over the log-weights): each doc gets a
    // DETERMINISTIC Gumbel perturbation G = -ln(-ln(u)) with u derived
    // from h60('dsir' || doc_id) — identical integers in both engines, so
    // the selected SET is reproducible — and the top
    // [[DsirSampleK]] keys (doc_id tiebreak) form the sample. Top-k rides
    // TakeOrderedAndProject (per-partition heads merged on the driver —
    // bounded, never a global sort). Output is the evidence the sampler
    // exists to produce: the per-lang mixture of the selected docs next
    // to the corpus mixture — importance resampling toward the 'en'
    // target must SHIFT the selected share (spec asserts the direction;
    // the oracle pins the exact table).
    "dsir_resample_stats" -> { (s, d) =>
      val gk = dsirLogWeights(s, d)
        .join(documents(s, d).select("doc_id", "lang"), "doc_id")
        .select(col("doc_id"), col("lang"),
          round(col("dsir_logw") -
            log(-log((pmod(h60(concat(lit("dsir"), col("doc_id").cast("string"))),
              lit(1000000L)).cast("double") + 0.5) / 1e6)), 6).as("gk"))
      val sel = gk.orderBy(col("gk").desc, col("doc_id")).limit(DsirSampleK)
      fill(sel, "TextAnalysis.dsir_resample_stats/sel") // the per-lang counts AND the 1-row total
      val selByLang = sel.groupBy("lang").agg(count(lit(1)).as("n_sel"))
      val nSel = sel.agg(count(lit(1)).as("k"))
      val corpus = documents(s, d).groupBy("lang")
        .agg(count(lit(1)).as("n_corpus"))
      val nAll = documents(s, d).agg(count(lit(1)).as("n"))
      corpus.join(selByLang, Seq("lang"), "left")
        .crossJoin(nSel).crossJoin(nAll) // 1-row aggregates — broadcast
        .select(col("lang"),
          coalesce(col("n_sel"), lit(0L)).as("n_sel"),
          col("n_corpus"),
          round(coalesce(col("n_sel"), lit(0L)).cast("double") /
            col("k").cast("double"), 6).as("sel_share"),
          round(col("n_corpus").cast("double") /
            col("n").cast("double"), 6).as("corpus_share"))
        .orderBy("lang")
    },

    // Collocation mining: adjacent-token pairs scored by pointwise mutual
    // information, PMI = ln(p(ab) / (p(a)p(b))). Bigram rows come from the
    // posexplode+lead window shape (the HOF-transform form re-tokenizes per
    // index — see TextHash.shingleRows), so the corpus-sized work is one
    // doc_id window + two map-side-combined groupBys; the PMI join runs on
    // vocab-sized tallies. Each PMI is a per-row double from exact integer
    // counts — no order-dependent sums anywhere.
    "colloc_pmi" -> { (s, d) =>
      val docs = documents(s, d)
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val uni = docs.select(explode(toks(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val n1 = uni.agg(sum("c").as("n1"))
      val bgc = docs
        .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "tok")))
        .withColumn("nxt", lead("tok", 1).over(w))
        .where(col("nxt").isNotNull)
        .groupBy(col("tok").as("w1"), col("nxt").as("w2"))
        .agg(count(lit(1)).as("c_pair"))
      val n2 = bgc.agg(sum("c_pair").as("n2"))
      val pmi =
        log((col("c_pair").cast("double") / col("n2").cast("double")) /
          ((col("c1").cast("double") / col("n1").cast("double")) *
            (col("c2").cast("double") / col("n1").cast("double"))))
      bgc.where(col("c_pair") >= CollocMinCount)
        .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
        .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
        .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
        .select(col("w1"), col("w2"), col("c_pair"), col("c1"), col("c2"),
          round(pmi, 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(CollocTopK)
    },

    // Rolling polynomial hash over token hashes — an order-sensitive
    // document fingerprint (reordered tokens change it; dedup_simhash is the
    // order-insensitive counterpart).
    "text_fingerprint" -> { (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          aggregate(
            transform(toks(col("text")), x => h60(x) % 1000000007L),
            lit(0L),
            (acc, h) => (acc * 31L + h) % 1000000007L).as("fingerprint"))
        .orderBy("doc_id")
    },

    // Bigram-LM negative log likelihood per document — the next model up
    // from text_unigram_nll: add-one-smoothed CONDITIONAL probabilities
    // p(w2|w1) = (c(w1 w2)+1) / (c(w1->)+V), where c(w1->) counts w1 as a
    // bigram context (so doc-final tokens don't inflate the denominator)
    // and V is the corpus unigram vocabulary. Scale shape: the corpus
    // collapses to a BIGRAM-vocabulary-sized count relation; context
    // counts and V are tiny and BROADCAST, while the pair-count join is a
    // plain equi-join on the pair key (bigram vocab can outgrow a
    // broadcast at 100 TB — let AQE pick the build side). Per-event NLLs
    // round to 6 dp then sum exactly as DECIMAL (double summation is
    // partition-order-dependent). Docs with < 2 tokens have no bigram
    // events and drop out, same as the oracle.
    "text_bigram_nll" -> { (s, d) =>
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val bi = documents(s, d)
        .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "tok")))
        .withColumn("nxt", lead("tok", 1).over(w))
        .where(col("nxt").isNotNull)
        .select(col("doc_id"), col("tok").as("w1"), col("nxt").as("w2"))
      val pair = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c_pair"))
      val ctx = bi.groupBy("w1").agg(count(lit(1)).as("c_ctx"))
      val v = documents(s, d)
        .select(explode(toks(col("text"))).as("tok"))
        .agg(countDistinct("tok").as("v"))
      bi.join(pair, Seq("w1", "w2"))
        .join(broadcast(ctx), Seq("w1"))
        .crossJoin(broadcast(v))
        .select(col("doc_id"),
          round(-log((col("c_pair") + 1).cast("double") /
            (col("c_ctx") + col("v")).cast("double")), 6).as("nll"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bi"),
          sum(round(col("nll") * 1e6).cast("long")).as("s6"))
        // see text_unigram_nll: exact integer half-up mean at 6 dp
        .select(col("doc_id"), col("n_bi"),
          (expr("(2 * s6 + n_bi) div (2 * n_bi)").cast("double") / 1e6)
            .as("mean_nll"))
        .orderBy("doc_id")
    },

    // Interpolated Kneser-Ney bigram NLL (fixed discount D = 0.75) — the
    // smoothing real n-gram LMs ship with, next to text_bigram_nll's
    // Laplace baseline: P(w2|w1) = (c(w1,w2) - D)/c(w1.) +
    // D*N1+(w1,.)/c(w1.) * N1+(.,w2)/N1+(.,.), where the continuation
    // probability counts in how many distinct CONTEXTS a word appears
    // (the "Francisco problem": frequent-but-predictable words stop
    // stealing mass). Every count is exact; each observed bigram has
    // c >= 1 > D so the discounted term stays positive. Same exact
    // integer half-up 6-dp mean as the other NLL queries.
    "text_kn_bigram_nll" -> { (s, d) =>
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val bi = documents(s, d)
        .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "tok")))
        .withColumn("nxt", lead("tok", 1).over(w))
        .where(col("nxt").isNotNull)
        .select(col("doc_id"), col("tok").as("w1"), col("nxt").as("w2"))
      val pair = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c_pair"))
      val ctx = bi.groupBy("w1")
        .agg(count(lit(1)).as("c_ctx"), countDistinct("w2").as("n1f"))
      val cont = pair.groupBy("w2").agg(count(lit(1)).as("n1b"))
      val n1t = pair.agg(count(lit(1)).as("n1t"))
      bi.join(pair, Seq("w1", "w2"))
        .join(broadcast(ctx), Seq("w1"))
        .join(broadcast(cont), Seq("w2"))
        .crossJoin(broadcast(n1t))
        .select(col("doc_id"),
          round(-log(
            (col("c_pair").cast("double") - lit(0.75)) / col("c_ctx").cast("double")
              + (lit(0.75) * col("n1f").cast("double") / col("c_ctx").cast("double"))
                * (col("n1b").cast("double") / col("n1t").cast("double"))), 6)
            .as("nll"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bi"),
          sum(round(col("nll") * 1e6).cast("long")).as("s6"))
        .select(col("doc_id"), col("n_bi"),
          (expr("(2 * s6 + n_bi) div (2 * n_bi)").cast("double") / 1e6)
            .as("mean_nll"))
        .orderBy("doc_id")
    },

    // Unicode canonicalization over a planted multilingual fixture (the
    // parquet corpus is ASCII, so the unicode behavior needs its own
    // VALUES table, like the regexp edge-case queries): NFC composition,
    // accent stripping, and the case-folded normalization KEY a
    // multilingual dedup would hash — composed 'Café', decomposed
    // 'Café' and 'CAFÉ' all land on 'cafe', while Ł keeps its stroke
    // (the bar is part of the letter, not a combining mark — matching
    // DuckDB's utf8proc semantics exactly).
    "text_normalize_values" -> { (s, _) =>
      graft.Graft.init(s)
      normFixture(s).select(col("id"),
        call_function("graft_nfc", col("s")).as("nfc"),
        call_function("graft_strip_accents", col("s")).as("stripped"),
        lower(call_function("graft_strip_accents", col("s"))).as("norm_key"))
        .orderBy("id")
    },

    // Character-distribution Shannon entropy per document — the
    // compressibility proxy (degenerate repeated text scores low; uniform
    // noise scores high) that complements the token-level repetition
    // filters. Scale shape: one codegen'd position explode + substr (the
    // dup_exact_spans cost model: every char position once), one (doc, ch)
    // groupBy reusing the doc_id partitioning downstream; each cell's
    // -p·ln p comes from exact integer counts, rounded to 1e-9 and summed
    // as longs (double addition is partition-order-dependent).
    "text_char_entropy" -> { (s, d) =>
      charEntropy(documents(s, d).select("doc_id", "text")).orderBy("doc_id")
    },

    // Gopher-style quality-rule battery (Rae et al. 2021): five document
    // filters — word count bounds, mean token length bounds, symbol ratio,
    // alphabetic-token fraction, stopword presence — each a boolean flag
    // plus the n_failed / pass_all roll-up a pipeline thresholds on.
    // Pure per-row projection, no shuffle; every ratio is an int/int
    // double division (bit-exact across engines) so the boundary
    // comparisons agree with the oracle exactly.
    "quality_gopher_rules" -> { (s, d) =>
      gopherRules(documents(s, d).select("doc_id", "text")).orderBy("doc_id")
    },

    // Corpus roll-up of the rule battery: per-rule failure counts and the
    // overall survivor count in ONE map-side-combined aggregate (no
    // per-rule rescans — the five flags come from a single projection).
    "quality_gopher_stats" -> { (s, d) =>
      gopherRules(documents(s, d).select("doc_id", "text"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(!col("r_word_count"), 1L).otherwise(0L)).as("fail_word_count"),
          sum(when(!col("r_mean_len"), 1L).otherwise(0L)).as("fail_mean_len"),
          sum(when(!col("r_symbol"), 1L).otherwise(0L)).as("fail_symbol"),
          sum(when(!col("r_alpha"), 1L).otherwise(0L)).as("fail_alpha"),
          sum(when(!col("r_stopword"), 1L).otherwise(0L)).as("fail_stopword"),
          sum(when(col("pass_all"), 1L).otherwise(0L)).as("n_pass_all"))
    },

    // The dedup composition: exact dedup keyed on the normalization key.
    "dedup_normalized" -> { (s, _) =>
      graft.Graft.init(s)
      normFixture(s)
        .groupBy(lower(call_function("graft_strip_accents", col("s")))
          .as("norm_key"))
        .agg(count(lit(1)).as("n_variants"), min(col("id")).as("keep_id"))
        .orderBy("norm_key")
    },

    // Word-blocklist screen (the C4/Dolma "bad words" filter): per-doc
    // blocked-token count and fraction against a term list, with the
    // keep/drop flag a pipeline thresholds on. The list rides a BROADCAST
    // left join against the exploded token stream (not an isin literal:
    // a production blocklist is 10k+ terms — list-sized broadcast, one
    // map-side-combined per-doc aggregate, no extra shuffle beyond the
    // doc_id combine).
    "quality_blocklist" -> { (s, d) =>
      blocklistCounts(s, documents(s, d).select("doc_id", "text"))
        .select(col("doc_id"), col("n_tokens"), col("n_blocked"),
          round(col("n_blocked").cast("double") / col("n_tokens").cast("double"), 6)
            .as("blocked_frac"),
          (col("n_blocked").cast("double") / col("n_tokens").cast("double") >
            BlockThreshold).as("drop_doc"))
        .orderBy("doc_id")
    },

    // Unicode-script profile — the script-mix screen that catches
    // mislabeled/mixed-script documents before language-keyed routing
    // (fasttext-style langid misfires exactly on these). The fixture text
    // is pure ASCII, so — like the PII battery — deterministic Cyrillic /
    // CJK / Greek snippets are planted on doc_id-keyed slices and the
    // profile must find exactly them. Counts are length-minus-stripped
    // per char-class (replace-all in BOTH engines); dominant script is the
    // first maximal count under a fixed priority order. Pure per-row
    // projection — no shuffle at any scale.
    "text_script_profile" -> { (s, d) =>
      val t = withPlantedScripts
      def cnt(re: String) =
        length(t) - length(regexp_replace(t, re, ""))
      // counts are output columns; the argmax itself is the SHARED
      // dominantScript helper (codegen subexpression elimination folds
      // the duplicated count expressions), so the tie-break priority
      // lives in exactly one place
      documents(s, d).select(col("doc_id"),
          length(t).as("n_chars"), cnt(LatinClass).as("n_latin"),
          cnt(CyrillicClass).as("n_cyrillic"), cnt(CjkClass).as("n_cjk"),
          cnt(GreekClass).as("n_greek"),
          dominantScript.as("dominant_script"))
        .orderBy("doc_id")
    },

    // Per-source roll-up of the same profile: the corpus-level script mix
    // (bounded at sources × 4 rows).
    "script_mix_by_source" -> { (s, d) =>
      documents(s, d)
        .select(col("source"), dominantScript.as("dominant_script"))
        .groupBy("source", "dominant_script")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "dominant_script")
    }
  )

  /** Dominant-script argmax over the planted-multiscript text — shared by
    * the script queries and the web-curation pipeline's routing gate.
    */
  private[operators] def dominantScript: Column = {
    val t = withPlantedScripts
    def cnt(re: String) = length(t) - length(regexp_replace(t, re, ""))
    val (nl, nc, nj, ng) = (cnt(LatinClass), cnt(CyrillicClass),
      cnt(CjkClass), cnt(GreekClass))
    val mx = greatest(nl, nc, nj, ng)
    when(nl === mx, "latin").when(nc === mx, "cyrillic")
      .when(nj === mx, "cjk").otherwise("greek")
  }

  /** Blocklist terms (stand-in for a production bad-words list) and the
    * drop threshold on the blocked-token fraction. Mixed corpus
    * frequencies on purpose: 'slow'/'hash' are common (docs straddle the
    * threshold), 'dup' is rare (exercises the zero path).
    */
  val Blocklist = Seq("slow", "dup", "hash")
  val BlockThreshold = 0.08

  /** (doc_id, n_tokens, n_blocked) — blocklist hit counts via the
    * broadcast left join, the ONE definition `quality_blocklist` and the
    * web-curation funnel both count with.
    */
  private[operators] def blocklistCounts(s: SparkSession,
                                         docs: DataFrame): DataFrame = {
    import s.implicits._
    val bl = broadcast(Blocklist.toDF("btok"))
    docs.select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .join(bl, col("tok") === col("btok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("btok").isNotNull, 1L).otherwise(0L)).as("n_blocked"))
  }

  /** CTE chain ending in `bcnt(doc_id, n_tokens, n_blocked)` — the DuckDB
    * mirror of [[blocklistCounts]].
    */
  private[operators] def blocklistCountsSql: String = {
    val bl = Blocklist.map(t => s"('$t')").mkString(", ")
    s"""bl(btok) AS (VALUES $bl),
       |tk AS (SELECT doc_id, unnest(${toksSql("text")}) AS tok FROM documents),
       |bcnt AS (SELECT doc_id, count(*) AS n_tokens,
       |    CAST(sum(CASE WHEN btok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_blocked
       |  FROM tk LEFT JOIN bl ON tk.tok = bl.btok GROUP BY doc_id)""".stripMargin
  }

  // Unicode char classes shared by the script-profile queries — literal
  // BMP ranges (not \p{script=...}: Java and RE2 spell script names
  // differently; explicit ranges mean the SAME pattern string runs in
  // both engines).
  private[operators] val LatinClass = "[A-Za-z]"
  private[operators] val CyrillicClass = "[Ѐ-ӿ]"
  private[operators] val CjkClass = "[一-鿿]"
  private[operators] val GreekClass = "[Ͱ-Ͽ]"

  /** Planted multiscript docs on doc_id-keyed slices (fixture text is
    * pure ASCII — same non-vacuous-verification move as the PII battery):
    * the planted slices keep a short Latin prefix but are DOMINATED by
    * the planted script, so the dominant-script argmax is exercised on
    * every branch, not vacuously 'latin'.
    */
  private[operators] def withPlantedScripts: Column = {
    val id = col("doc_id")
    val pre = substring(col("text"), 1, 20)
    when(id % 8 === 1, concat(pre, repeat(lit(" привет мир данных"), 8)))
      .when(id % 8 === 2, concat(pre, repeat(lit(" 你好世界数据集"), 8)))
      .when(id % 8 === 3, concat(pre, repeat(lit(" γεια σου κόσμε"), 8)))
      .otherwise(col("text"))
  }

  private[operators] def withPlantedScriptsSql: String =
    """(CASE WHEN doc_id % 8 = 1 THEN substr(text, 1, 20) || repeat(' привет мир данных', 8)
      |      WHEN doc_id % 8 = 2 THEN substr(text, 1, 20) || repeat(' 你好世界数据集', 8)
      |      WHEN doc_id % 8 = 3 THEN substr(text, 1, 20) || repeat(' γεια σου κόσμε', 8)
      |      ELSE text END)"""
      .stripMargin.replace("\n", " ")

  /** DuckDB mirror of the script-profile projection (shared by both
    * script queries' oracles).
    */
  private[operators] def scriptProfileCte: String = {
    def cnt(cls: String) =
      s"CAST(len(t) - len(regexp_replace(t, '$cls', '', 'g')) AS INTEGER)"
    val (nl, nc, nj, ng) = (cnt(LatinClass), cnt(CyrillicClass),
      cnt(CjkClass), cnt(GreekClass))
    s"""sp AS (SELECT doc_id, source, CAST(len(t) AS INTEGER) AS n_chars,
       |  $nl AS n_latin, $nc AS n_cyrillic, $nj AS n_cjk, $ng AS n_greek
       |  FROM (SELECT doc_id, source, $withPlantedScriptsSql AS t
       |        FROM documents)),
       |dom AS (SELECT *,
       |  CASE WHEN n_latin = greatest(n_latin, n_cyrillic, n_cjk, n_greek) THEN 'latin'
       |       WHEN n_cyrillic = greatest(n_latin, n_cyrillic, n_cjk, n_greek) THEN 'cyrillic'
       |       WHEN n_cjk = greatest(n_latin, n_cyrillic, n_cjk, n_greek) THEN 'cjk'
       |       ELSE 'greek' END AS dominant_script
       |  FROM sp)""".stripMargin
  }

  /** Per-doc character-distribution Shannon entropy for any (doc_id,
    * text) DataFrame — see the text_char_entropy query comment for the
    * scale shape and fixed-point discipline.
    */
  def charEntropy(docs: DataFrame): DataFrame = {
    val Fix = 1e9
    // chunked per-char scan (TextHash.ownedPositions): the direct
    // substr(text, i, 1) loop scans O(i) chars per position — quadratic
    // on long docs (the winnow/substring-family cliff)
    val cells = TextHash.ownedPositions(docs.select("doc_id", "text"), 1)
      .select(col("doc_id"), col("chunk").substr(col("li"), lit(1)).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
    val n = cells.groupBy("doc_id").agg(sum("c").as("n"))
    val p = col("c").cast("double") / col("n").cast("double")
    cells.join(n, "doc_id")
      .select(col("doc_id"), col("n"),
        round(-p * log(p) * Fix).cast("long").as("ec"))
      .groupBy("doc_id")
      .agg(first("n").as("n_chars"), count(lit(1)).as("n_distinct_chars"),
        round(sum(col("ec")).cast("double") / Fix, 6).as("char_entropy"))
  }

  /** Per-doc Gopher rule flags for any DataFrame with doc_id + text.
    * One pass: tokenize once, derive the five metrics, compare against the
    * shared thresholds. n_failed counts false flags; pass_all == all five.
    */
  def gopherRules(df: DataFrame): DataFrame = {
    val flags = df
      .select(col("doc_id"), col("text"), toks(col("text")).as("_t"))
      .select(col("doc_id"),
        size(col("_t")).as("n_tokens"),
        (aggregate(col("_t"), lit(0), (acc, x) => acc + length(x)).cast("double") /
          size(col("_t"))).as("mtl"),
        (length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", "")).cast("double") /
          length(col("text"))).as("sym"),
        (size(filter(col("_t"), x => x.rlike("[a-z]"))).cast("double") /
          size(col("_t"))).as("alpha"),
        score(col("_t"), stopwords).as("stop_hits"))
      .select(col("doc_id"),
        (col("n_tokens") >= GMinWords && col("n_tokens") <= GMaxWords).as("r_word_count"),
        (col("mtl") >= GMinMeanLen && col("mtl") <= GMaxMeanLen).as("r_mean_len"),
        (col("sym") <= GMaxSymbolRatio).as("r_symbol"),
        (col("alpha") >= GMinAlphaFrac).as("r_alpha"),
        (col("stop_hits") >= GMinStopHits).as("r_stopword"))
    val nf = Seq("r_word_count", "r_mean_len", "r_symbol", "r_alpha", "r_stopword")
      .map(f => when(col(f), 0).otherwise(1))
      .reduce(_ + _)
    flags.withColumn("n_failed", nf).withColumn("pass_all", col("n_failed") === 0)
  }

  /** DuckDB CTE producing the same flag relation as [[gopherRules]]. */
  private def gopherRulesSqlCte: String =
    s"""tok AS (SELECT doc_id, text, ${toksSql("text")} AS t FROM documents),
       |m AS (SELECT doc_id,
       |  CAST(len(t) AS INTEGER) AS n_tokens,
       |  CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / len(t) AS mtl,
       |  CAST(len(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) / len(text) AS sym,
       |  CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(t) AS alpha,
       |  CAST(${scoreSql("t", stopwords)} AS INTEGER) AS stop_hits
       |  FROM tok),
       |f AS (SELECT doc_id,
       |  (n_tokens >= $GMinWords AND n_tokens <= $GMaxWords) AS r_word_count,
       |  (mtl >= $GMinMeanLen AND mtl <= $GMaxMeanLen) AS r_mean_len,
       |  (sym <= $GMaxSymbolRatio) AS r_symbol,
       |  (alpha >= $GMinAlphaFrac) AS r_alpha,
       |  (stop_hits >= $GMinStopHits) AS r_stopword
       |  FROM m),
       |g AS (SELECT doc_id, r_word_count, r_mean_len, r_symbol, r_alpha, r_stopword,
       |  CAST((CASE WHEN r_word_count THEN 0 ELSE 1 END) +
       |       (CASE WHEN r_mean_len THEN 0 ELSE 1 END) +
       |       (CASE WHEN r_symbol THEN 0 ELSE 1 END) +
       |       (CASE WHEN r_alpha THEN 0 ELSE 1 END) +
       |       (CASE WHEN r_stopword THEN 0 ELSE 1 END) AS INTEGER) AS n_failed
       |  FROM f)""".stripMargin

  /** Inline unicode fixture: composed/decomposed/case/accent variants,
    * written as \\u escapes so the source encoding can never silently
    * re-compose them; the oracle builds the SAME code points via chr().
    */
  private def normFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, "Caf\u00e9"),                    // composed e-acute
      (2L, "Cafe\u0301"),                   // decomposed e + combining acute
      (3L, "CAF\u00c9"),                    // uppercase composed
      (4L, "na\u00efve"), (5L, "NAIVE"),
      (6L, "stra\u00dfe"),                  // sharp-s survives accent-strip
      (7L, "\u00f8re"),                     // o-stroke is not an accent
      (8L, "\u0104\u0106\u0118\u0141"),  // A-C-E-ogonek/acute + L-stroke
      (9L, "a\u0328c\u0301e\u0328"),      // decomposed a/c/e + marks
      (10L, "cafe")
    ).toDF("id", "s")
  }

  val oracles: Map[String, String] = Map(
    "text_stats" -> {
      val st = scoreSql("t", stopwords)
      s"""WITH tok AS (SELECT doc_id, text, ${toksSql("text")} AS t FROM documents),
         |s AS (SELECT doc_id,
         |  CAST(len(text) AS INTEGER) AS n_chars,
         |  CAST(len(t) AS INTEGER) AS n_tokens,
         |  CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / len(t) AS avg_token_len,
         |  CAST(len(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) / len(text) AS punct_ratio,
         |  CAST($st AS DOUBLE) / len(t) AS stopword_ratio
         |  FROM tok)
         |SELECT doc_id, n_chars, n_tokens, avg_token_len, punct_ratio, stopword_ratio,
         |  round(least(1.0, CAST(n_tokens AS DOUBLE) / $LenCap) * $WLen +
         |        (1.0 - punct_ratio) * $WPunct +
         |        least(1.0, stopword_ratio * $StopBoost) * $WStop, 6) AS quality_score
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "curriculum_order" -> {
      s"""WITH tok AS (SELECT doc_id, text, ${toksSql("text")} AS t FROM documents),
         |q AS (SELECT doc_id, ${qualitySql("t", "text")} AS qs FROM tok),
         |rk AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY qs DESC, doc_id) AS rank FROM q),
         |n AS (SELECT count(*) AS n_total FROM rk),
         |bd AS (SELECT doc_id,
         |    CAST(((rank - 1) * $CurriculumBands) // n_total AS INTEGER) AS band,
         |    ${h60Sql(s"'$CurriculumSalt' || CAST(doc_id AS VARCHAR)")} AS ord
         |  FROM rk CROSS JOIN n)
         |SELECT doc_id, band,
         |  row_number() OVER (ORDER BY band, ord, doc_id) AS pos
         |FROM bd ORDER BY pos""".stripMargin
    },

    "text_langid" -> {
      val langs = langSignatures.map(_._1)
      s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS t FROM documents),
         |s AS (SELECT doc_id,
         |  $langScoreColsSql
         |  FROM tok)
         |SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
         |  $langPredSql AS lang_pred
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "text_lang_quality" ->
      s"""WITH tok AS (SELECT doc_id, text, ${toksSql("text")} AS t FROM documents),
         |s AS (SELECT doc_id,
         |  $langScoreColsSql,
         |  ${qualitySql("t", "text")} AS quality_score
         |  FROM tok),
         |p AS (SELECT doc_id, $langPredSql AS lang_pred, quality_score FROM s)
         |SELECT lang_pred, count(*) AS n_docs,
         |  CAST(sum(CAST(quality_score AS DECIMAL(12,6))) AS DOUBLE) / count(*) AS mean_quality
         |FROM p GROUP BY lang_pred ORDER BY lang_pred""".stripMargin,

    "text_token_counts" ->
      s"""SELECT doc_id,
         |  CAST(len(${toksSql("text")}) AS INTEGER) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '$bpePattern')) AS INTEGER) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    "colloc_pmi" ->
      s"""WITH ta AS (SELECT doc_id, ${toksSql("text")} AS t FROM documents),
         |uni AS (SELECT w, count(*) AS c
         |  FROM (SELECT unnest(t) AS w FROM ta) GROUP BY w),
         |n1 AS (SELECT CAST(sum(c) AS BIGINT) AS n1 FROM uni),
         |pairs AS (SELECT t[i] AS w1, t[i+1] AS w2
         |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM ta)),
         |bgc AS (SELECT w1, w2, count(*) AS c_pair FROM pairs GROUP BY w1, w2),
         |n2 AS (SELECT CAST(sum(c_pair) AS BIGINT) AS n2 FROM bgc)
         |SELECT bgc.w1, bgc.w2, bgc.c_pair, u1.c AS c1, u2.c AS c2,
         |  round(ln((CAST(c_pair AS DOUBLE)/CAST(n2 AS DOUBLE))
         |    / ((CAST(u1.c AS DOUBLE)/CAST(n1 AS DOUBLE))
         |       * (CAST(u2.c AS DOUBLE)/CAST(n1 AS DOUBLE)))), 6) AS pmi
         |FROM bgc JOIN uni u1 ON bgc.w1 = u1.w JOIN uni u2 ON bgc.w2 = u2.w
         |  CROSS JOIN n1 CROSS JOIN n2
         |WHERE c_pair >= $CollocMinCount
         |ORDER BY pmi DESC, bgc.w1, bgc.w2 LIMIT $CollocTopK""".stripMargin,

    "text_repetition" ->
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS tt FROM documents),
         |tok AS (SELECT doc_id, unnest(tt) AS tok FROM t),
         |ta AS (SELECT doc_id, count(*) AS n_tok, count(DISTINCT tok) AS n_tok_d
         |  FROM tok GROUP BY 1),
         |bg AS (SELECT doc_id, unnest(CASE WHEN len(tt) >= 2
         |  THEN list_transform(range(1, len(tt)), i -> tt[i] || ' ' || tt[i+1])
         |  ELSE [] END) AS bg FROM t),
         |bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
         |ba AS (SELECT doc_id, sum(c) AS n_bi, max(c) AS top_bi FROM bc GROUP BY 1),
         |tg AS (SELECT doc_id, unnest(${shingles3Sql("tt")}) AS sh FROM t),
         |tc AS (SELECT doc_id, sh, count(*) AS c FROM tg GROUP BY 1, 2),
         |tga AS (SELECT doc_id, sum(c) AS n_tri, count(*) AS n_tri_d FROM tc GROUP BY 1)
         |SELECT doc_id, n_tok,
         |  round(CAST(n_tok - n_tok_d AS DOUBLE) / CAST(n_tok AS DOUBLE), 6)
         |    AS dup_token_frac,
         |  round(COALESCE(CAST(top_bi AS DOUBLE) / CAST(n_bi AS DOUBLE), 0.0), 6)
         |    AS top_bigram_frac,
         |  round(COALESCE(CAST(n_tri - n_tri_d AS DOUBLE) / CAST(n_tri AS DOUBLE), 0.0), 6)
         |    AS dup_trigram_frac
         |FROM ta LEFT JOIN ba USING (doc_id) LEFT JOIN tga USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "text_unigram_nll" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${toksSql("text")}) AS tok FROM documents),
         |v AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
         |n AS (SELECT sum(cnt) AS n_total FROM v),
         |t2 AS (SELECT doc_id,
         |  round(-ln(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE)), 6) AS nll
         |  FROM tok JOIN v USING (tok) CROSS JOIN n)
         |SELECT doc_id, count(*) AS n_tok,
         |  CAST((2 * sum(CAST(round(nll * 1000000) AS BIGINT)) + count(*))
         |    // (2 * count(*)) AS DOUBLE) / 1000000.0 AS mean_nll
         |FROM t2 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dsir_weights" ->
      s"""WITH tok AS (SELECT doc_id, lang, unnest(${toksSql("text")}) AS tok
         |  FROM documents),
         |cv AS (SELECT tok, count(*) AS cnt_c FROM tok GROUP BY 1),
         |tv AS (SELECT tok, count(*) AS cnt_t0 FROM tok WHERE lang = 'en' GROUP BY 1),
         |voc AS (SELECT cv.tok, cnt_c, CAST(coalesce(cnt_t0, 0) AS BIGINT) AS cnt_t
         |  FROM cv LEFT JOIN tv ON cv.tok = tv.tok),
         |k AS (SELECT count(*) AS n_c,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         |    count(DISTINCT tok) AS v
         |  FROM tok),
         |lr AS (SELECT doc_id,
         |    round(ln((CAST(cnt_t + 1 AS DOUBLE) / CAST(n_t + v AS DOUBLE))
         |      / (CAST(cnt_c + 1 AS DOUBLE) / CAST(n_c + v AS DOUBLE))), 6) AS lr
         |  FROM tok JOIN voc USING (tok) CROSS JOIN k)
         |SELECT doc_id, count(*) AS n_tok,
         |  round(CAST(sum(CAST(lr AS DECIMAL(18,6))) AS DOUBLE), 6) AS dsir_logw
         |FROM lr GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dsir_resample_stats" ->
      s"""WITH tok AS (SELECT doc_id, lang, unnest(${toksSql("text")}) AS tok
         |  FROM documents),
         |cv AS (SELECT tok, count(*) AS cnt_c FROM tok GROUP BY 1),
         |tv AS (SELECT tok, count(*) AS cnt_t0 FROM tok WHERE lang = 'en' GROUP BY 1),
         |voc AS (SELECT cv.tok, cnt_c, CAST(coalesce(cnt_t0, 0) AS BIGINT) AS cnt_t
         |  FROM cv LEFT JOIN tv ON cv.tok = tv.tok),
         |k AS (SELECT count(*) AS n_c,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         |    count(DISTINCT tok) AS v
         |  FROM tok),
         |lr AS (SELECT doc_id,
         |    round(ln((CAST(cnt_t + 1 AS DOUBLE) / CAST(n_t + v AS DOUBLE))
         |      / (CAST(cnt_c + 1 AS DOUBLE) / CAST(n_c + v AS DOUBLE))), 6) AS lr
         |  FROM tok JOIN voc USING (tok) CROSS JOIN k),
         |w AS (SELECT doc_id,
         |    round(CAST(sum(CAST(lr AS DECIMAL(18,6))) AS DOUBLE), 6) AS dsir_logw
         |  FROM lr GROUP BY doc_id),
         |g AS (SELECT d.doc_id, d.lang,
         |    round(w.dsir_logw - ln(-ln(
         |      (CAST(${h60Sql("'dsir' || CAST(d.doc_id AS VARCHAR)")} % 1000000 AS DOUBLE)
         |        + 0.5) / 1000000.0)), 6) AS gk
         |  FROM w JOIN documents d USING (doc_id)),
         |sel AS (SELECT lang FROM g ORDER BY gk DESC, doc_id LIMIT $DsirSampleK),
         |ns AS (SELECT count(*) AS k2 FROM sel),
         |sl AS (SELECT lang, count(*) AS n_sel FROM sel GROUP BY 1),
         |cs AS (SELECT lang, count(*) AS n_corpus FROM documents GROUP BY 1),
         |na AS (SELECT count(*) AS n FROM documents)
         |SELECT cs.lang, CAST(coalesce(sl.n_sel, 0) AS BIGINT) AS n_sel,
         |  cs.n_corpus,
         |  round(CAST(coalesce(sl.n_sel, 0) AS DOUBLE) / CAST(k2 AS DOUBLE), 6)
         |    AS sel_share,
         |  round(CAST(cs.n_corpus AS DOUBLE) / CAST(n AS DOUBLE), 6)
         |    AS corpus_share
         |FROM cs LEFT JOIN sl USING (lang) CROSS JOIN ns CROSS JOIN na
         |ORDER BY lang""".stripMargin,

    "text_fingerprint" ->
      s"""SELECT doc_id,
         |  CAST(list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(${toksSql("text")}, x -> ${h60Sql("x")} % 1000000007)),
         |    (acc, h) -> (acc * 31 + h) % 1000000007) AS BIGINT) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_bigram_nll" ->
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS tt FROM documents),
         |bi0 AS (SELECT doc_id, unnest(CASE WHEN len(tt) >= 2
         |    THEN list_transform(range(1, len(tt)), i -> tt[i] || ' ' || tt[i+1])
         |    ELSE [] END) AS bg FROM t),
         |bi AS (SELECT doc_id, split_part(bg, ' ', 1) AS w1, bg FROM bi0),
         |pair AS (SELECT bg, count(*) AS c_pair FROM bi GROUP BY 1),
         |ctx AS (SELECT w1, count(*) AS c_ctx FROM bi GROUP BY 1),
         |v AS (SELECT count(DISTINCT tok) AS v
         |  FROM (SELECT unnest(${toksSql("text")}) AS tok FROM documents)),
         |ev AS (SELECT doc_id,
         |    round(-ln(CAST(c_pair + 1 AS DOUBLE) / CAST(c_ctx + v AS DOUBLE)), 6)
         |      AS nll
         |  FROM bi JOIN pair USING (bg) JOIN ctx USING (w1) CROSS JOIN v)
         |SELECT doc_id, count(*) AS n_bi,
         |  CAST((2 * sum(CAST(round(nll * 1000000) AS BIGINT)) + count(*))
         |    // (2 * count(*)) AS DOUBLE) / 1000000.0 AS mean_nll
         |FROM ev GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_kn_bigram_nll" ->
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS tt FROM documents),
         |bi0 AS (SELECT doc_id, unnest(CASE WHEN len(tt) >= 2
         |    THEN list_transform(range(1, len(tt)), i -> tt[i] || ' ' || tt[i+1])
         |    ELSE [] END) AS bg FROM t),
         |bi AS (SELECT doc_id, split_part(bg, ' ', 1) AS w1,
         |    split_part(bg, ' ', 2) AS w2, bg FROM bi0),
         |pair AS (SELECT bg, count(*) AS c_pair FROM bi GROUP BY 1),
         |ctx AS (SELECT w1, count(*) AS c_ctx, count(DISTINCT w2) AS n1f
         |  FROM bi GROUP BY 1),
         |cont AS (SELECT split_part(bg, ' ', 2) AS w2, count(*) AS n1b
         |  FROM pair GROUP BY 1),
         |n1t AS (SELECT count(*) AS n1t FROM pair),
         |ev AS (SELECT doc_id,
         |    round(-ln(
         |      (CAST(c_pair AS DOUBLE) - 0.75) / CAST(c_ctx AS DOUBLE)
         |      + (0.75 * CAST(n1f AS DOUBLE) / CAST(c_ctx AS DOUBLE))
         |        * (CAST(n1b AS DOUBLE) / CAST(n1t AS DOUBLE))), 6) AS nll
         |  FROM bi JOIN pair USING (bg) JOIN ctx USING (w1)
         |    JOIN cont USING (w2) CROSS JOIN n1t)
         |SELECT doc_id, count(*) AS n_bi,
         |  CAST((2 * sum(CAST(round(nll * 1000000) AS BIGINT)) + count(*))
         |    // (2 * count(*)) AS DOUBLE) / 1000000.0 AS mean_nll
         |FROM ev GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_char_entropy" ->
      """WITH ch AS (SELECT doc_id, substr(text, CAST(i AS INTEGER), 1) AS ch
        |  FROM (SELECT doc_id, text, unnest(range(1, len(text) + 1)) AS i
        |        FROM documents)),
        |cells AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY 1),
        |t AS (SELECT cells.doc_id, n,
        |    CAST(round(-(CAST(c AS DOUBLE)/CAST(n AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE)/CAST(n AS DOUBLE)) * 1e9) AS BIGINT) AS ec
        |  FROM cells JOIN n ON cells.doc_id = n.doc_id)
        |SELECT doc_id, any_value(n) AS n_chars, count(*) AS n_distinct_chars,
        |  round(CAST(sum(ec) AS DOUBLE)/1e9, 6) AS char_entropy
        |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "quality_gopher_rules" ->
      s"""WITH $gopherRulesSqlCte
         |SELECT doc_id, r_word_count, r_mean_len, r_symbol, r_alpha,
         |  r_stopword, n_failed, (n_failed = 0) AS pass_all
         |FROM g ORDER BY doc_id""".stripMargin,

    "quality_gopher_stats" ->
      s"""WITH $gopherRulesSqlCte
         |SELECT count(*) AS n_docs,
         |  CAST(sum(CASE WHEN r_word_count THEN 0 ELSE 1 END) AS BIGINT) AS fail_word_count,
         |  CAST(sum(CASE WHEN r_mean_len THEN 0 ELSE 1 END) AS BIGINT) AS fail_mean_len,
         |  CAST(sum(CASE WHEN r_symbol THEN 0 ELSE 1 END) AS BIGINT) AS fail_symbol,
         |  CAST(sum(CASE WHEN r_alpha THEN 0 ELSE 1 END) AS BIGINT) AS fail_alpha,
         |  CAST(sum(CASE WHEN r_stopword THEN 0 ELSE 1 END) AS BIGINT) AS fail_stopword,
         |  CAST(sum(CASE WHEN n_failed = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all
         |FROM g""".stripMargin,

    "text_normalize_values" ->
      s"""WITH $normValuesSqlCte
         |SELECT CAST(id AS BIGINT) AS id, nfc_normalize(s) AS nfc,
         |  strip_accents(s) AS stripped,
         |  lower(strip_accents(s)) AS norm_key
         |FROM v ORDER BY id""".stripMargin,

    "dedup_normalized" ->
      s"""WITH $normValuesSqlCte
         |SELECT lower(strip_accents(s)) AS norm_key, count(*) AS n_variants,
         |  CAST(min(id) AS BIGINT) AS keep_id
         |FROM v GROUP BY 1 ORDER BY norm_key""".stripMargin,

    "quality_blocklist" ->
      s"""WITH $blocklistCountsSql
         |SELECT doc_id, n_tokens, n_blocked,
         |  round(CAST(n_blocked AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
         |    AS blocked_frac,
         |  CAST(n_blocked AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |    > $BlockThreshold AS drop_doc
         |FROM bcnt ORDER BY doc_id""".stripMargin,

    "text_script_profile" ->
      s"""WITH $scriptProfileCte
         |SELECT doc_id, n_chars, n_latin, n_cyrillic, n_cjk, n_greek,
         |  dominant_script
         |FROM dom ORDER BY doc_id""".stripMargin,

    "script_mix_by_source" ->
      s"""WITH $scriptProfileCte
         |SELECT source, dominant_script, count(*) AS n_docs
         |FROM dom GROUP BY 1, 2 ORDER BY source, dominant_script""".stripMargin
  )

  /** Oracle VALUES mirroring [[normFixture]] — combining marks built via
    * chr() so the SQL string carries no raw combining code points.
    */
  private def normValuesSqlCte: String =
    """v(id, s) AS (VALUES
      |  (1, 'Caf' || chr(233)),
      |  (2, 'Cafe' || chr(769)),
      |  (3, 'CAF' || chr(201)),
      |  (4, 'na' || chr(239) || 've'),
      |  (5, 'NAIVE'),
      |  (6, 'stra' || chr(223) || 'e'),
      |  (7, chr(248) || 're'),
      |  (8, chr(260) || chr(262) || chr(280) || chr(321)),
      |  (9, 'a' || chr(808) || 'c' || chr(769) || 'e' || chr(808)),
      |  (10, 'cafe'))""".stripMargin
}
