package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Graft.fill
import graft.Tables._
import TextHash._

/** Corpus-preparation pack — the operations a large-scale training-data
  * pipeline runs between raw ingestion and dedup/packing. The reference has
  * nothing in this category (SURVEY.md §2.5); these are north-star
  * extensions, each built for the 100 TB shape:
  *
  *   - TF-IDF term weighting: two map-side-combined aggregations (tf on
  *     (doc, term), df on term) + a broadcast join of the vocabulary —
  *     the corpus is never shuffled twice on the same key.
  *   - Sequence packing (concat-and-chunk): the standard LLM pretraining
  *     step — documents are concatenated IN ORDER within a shard and cut
  *     into fixed token-budget chunks. Packing is inherently sequential,
  *     so it is computed per `source` shard (window partitioned by source,
  *     never a global single-partition sort — that is the scale trap).
  *   - Benchmark-contamination check: shingle inverted-index semi-join of
  *     the corpus against a (small, broadcast) benchmark shingle set.
  *   - PII redaction: pure per-row regexp scrubbing, no shuffle.
  *   - Deterministic hash sampling (plain + per-language stratified):
  *     md5-keyed so re-runs, retries, and the DuckDB oracle all select the
  *     exact same rows — seeded `rand()` is NOT reproducible across
  *     engines or even across Spark partitionings.
  *   - Heavy hitters + shingle inverted index: vocabulary-sized outputs
  *     from corpus-sized inputs, both map-side combined.
  *
  * Everything bottoms out in md5 (TextHash) or integer arithmetic so the
  * DuckDB oracle reproduces results bit-for-bit; doubles only ever come
  * from single IEEE divisions / multiplications of identical operands
  * (deterministic), with round(,6) applied where a transcendental (ln in
  * TF-IDF) could differ in the last ulp across libm implementations.
  */
object Corpus {

  /** TF-IDF top terms kept per document. */
  val TopTerms = 3

  /** Packing token budget per chunk. Power of two on purpose: cumulative
    * token counts are exact longs, and long/2^k double division is exact,
    * so floor() agrees bit-for-bit across engines.
    */
  val ChunkTokens = 256L

  /** Candidate context lengths for `pack_efficiency_ladder`. */
  val PackLadder = Seq(128L, 512L, 2048L)

  /** Inference batch size for the padding-efficiency planner (small enough
    * that every fixture source spans several batches).
    */
  val BatchSize = 8L

  /** doc_id % BenchMod == 0 selects the fixture's "benchmark" subset. */
  val BenchMod = 50

  /** Shingle-overlap ratio at or above which a non-benchmark doc is
    * flagged contaminated.
    */
  val ContamThreshold = 0.5

  /** Salt for deterministic sampling — changing it draws an independent
    * sample (the md5 analog of a new seed).
    */
  val SampleSalt = "graft-s1:"

  /** (doc_id, n_shingles, n_overlap, overlap_ratio) of `probe` against
    * the benchmark shingle set — the ONE definition of the contamination
    * ratio (distinct-3-shingle grain, coalesce'd hit sum, 6-dp rounding)
    * shared by `contamination_check` and the e2e pretrain funnel, so the
    * gate the funnel applies can never drift from the standalone query
    * its spec reconciles against. The benchmark side shingles ONLY the
    * benchmark docs (benchmark-sized → broadcast); the probe side
    * streams through the join.
    */
  def contamOverlap(probe: DataFrame, benchDocs: DataFrame): DataFrame = {
    val benchSh = shingleRows(benchDocs.select("doc_id", "text"))
      .select("sh").distinct().withColumn("_hit", lit(1))
    shingleRows(probe.select("doc_id", "text")).distinct()
      .join(broadcast(benchSh), Seq("sh"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("_hit"), lit(0))).as("n_overlap"))
      .withColumn("overlap_ratio",
        round(col("n_overlap").cast("double") / col("n_shingles"), 6))
  }

  /** Salt for the train/val/test split (independent of [[SampleSalt]]). */
  val SplitSalt = "graft-split:"

  /** Per-language keep thresholds (out of 1000) for stratified sampling:
    * downsample the dominant language, keep more of the rare ones.
    */
  val strataRates: Seq[(String, Int)] =
    Seq("en" -> 50, "de" -> 200, "es" -> 200, "fr" -> 200, "zh" -> 500)
  val DefaultRate = 100

  /** Training-shuffle shard count (tracks cluster parallelism at scale). */
  val NumShards = 8

  /** Candidate vocab sizes for vocab_coverage_curve (fixture vocab = 31
    * types, so the ladder straddles it and the last arm saturates).
    */
  val CoverageLadder = Seq(5, 10, 20, 30)

  /** Term count for the term_burstiness dispersion profile. */
  val BurstTopK = 20

  /** Probe-window cap for pii_spans: no supported PII value exceeds this,
    * and the cap turns the per-position suffix copy (O(doc²) bytes) into
    * a constant-width window.
    */
  val PiiMaxLen = 64

  // ------------------------------------------------------------------ pii

  // Patterns stay inside the RE2 ∩ java.util.regex common subset (no
  // lookaround/backrefs) so Spark and DuckDB match identically.
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"

  /** Minimum chars [[EmailRe]]'s post-'@' part can match: `[a-z0-9.-]+`
    * ≥ 1, the literal '.', `[a-z]{2,}` ≥ 2 — 4 total. Changing EmailRe
    * changes this; [[EmailMaxLookback]] follows automatically.
    */
  val EmailMinDomainLen = 4

  /** Max local-part length between an email match's start and its '@'
    * that still fits the [[PiiMaxLen]] probe window: local + '@'(1) +
    * domain(≥ [[EmailMinDomainLen]]) ≤ PiiMaxLen. Currently 59 — the
    * exact zero-margin bound, derived so loosening PiiMaxLen or EmailRe
    * can't silently desynchronize the anchor lookback from the window.
    */
  val EmailMaxLookback = PiiMaxLen - 1 - EmailMinDomainLen
  val SsnRe = "\\d{3}-\\d{2}-\\d{4}"
  val PhoneRe = "\\+1-555-\\d{4}"

  /** The fixture's word-soup docs carry no natural PII, so the query plants
    * deterministic PII on a doc_id-keyed subset (emails on %3, phones on
    * %4, SSNs on %5) — redaction is verified non-vacuously and the oracle
    * synthesizes the identical text.
    */
  private def withPlantedPii: Column = {
    val id4 = lpad((col("doc_id") % 10000).cast("string"), 4, "0")
    concat(
      col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com"))).otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        concat(lit(" call +1-555-"), id4)).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" ssn 123-45-"), id4)).otherwise(lit("")))
  }

  private def plantedPiiSql: String = {
    val id4 = "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    s"""text ||
       |  CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END ||
       |  CASE WHEN doc_id % 4 = 0 THEN ' call +1-555-' || $id4 ELSE '' END ||
       |  CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-' || $id4 ELSE '' END""".stripMargin
  }

  /** Chain-redact a text column: email -> SSN -> phone. Order matters only
    * for overlapping matches (there are none among these patterns); fixed
    * anyway so both engines agree by construction.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        SsnRe, "<SSN>"),
      PhoneRe, "<PHONE>")

  private def redactPiiSql(x: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($x, '$EmailRe', '<EMAIL>', 'g'), " +
      s"'$SsnRe', '<SSN>', 'g'), '$PhoneRe', '<PHONE>', 'g')"

  // ------------------------------------------------------------- sampling

  /** Deterministic per-row sample key in [0, 1000): 60-bit md5 of
    * salt:doc_id:text, mod 1000. Uniform enough for rate control, exactly
    * reproducible everywhere.
    */
  def sampleKey(docId: Column, text: Column): Column =
    h60(concat(lit(SampleSalt), docId.cast("string"), lit(":"), text)) % 1000

  /** 2^60 as an exact double — the h60 range, so u = (h60+1)/2^60 ∈ (0,1]
    * scales by a power of two (no rounding beyond the long→double cast,
    * which both engines perform identically).
    */
  private val Pow2_60 = 1152921504606846976.0

  val WeightedK = 100

  private def sampleKeySql: String =
    s"${h60Sql(s"'$SampleSalt' || CAST(doc_id AS VARCHAR) || ':' || text")} % 1000"

  private def strataThreshold: Column =
    strataRates.foldRight(lit(DefaultRate): Column) { case ((l, t), els) =>
      when(col("lang") === l, lit(t)).otherwise(els)
    }

  private def strataThresholdSql: String =
    strataRates.foldRight(DefaultRate.toString) { case ((l, t), els) =>
      s"CASE WHEN lang = '$l' THEN $t ELSE $els END"
    }

  /** Max docs any single source may contribute (`source_cap_sample`). */
  val SourceCap = 20

  /** Frequency-ranked vocabulary: (tok, cnt, id) with id 1..V by
    * (count desc, token asc).
    */
  private def vocabTable(s: SparkSession, d: String): DataFrame = {
    // ranked via the distributed globalRank, NOT row_number() over an
    // unpartitioned window: a web-scale raw-token vocabulary is 1e8-1e9
    // rows (every typo and numeral), and a global window would move ALL
    // of it through one task
    val counts = documents(s, d)
      .select(explode(toks(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    Ranking.globalRank(counts, Seq(desc("cnt"), asc("tok")))
      .withColumn("id", col("rank").cast("int")).drop("rank")
  }

  /** Target fraction of the corpus the alpha-mixture sample keeps. */
  val MixTargetFrac = 0.5

  /** Shingles in more than this many docs count as boilerplate. */
  val BoilerplateDfCap = 4L

  /** Per-source (source, n_src, rate, thresh) for `sample_mixture`:
    * w_s = sqrt(n_s/N) rounded to 9 dp (alpha = 0.5 temperature), W =
    * exact DECIMAL sum of the w's, rate_s = min(1, (w_s/W)·(frac·N)/n_s),
    * thresh = floor(rate·1e6) — the integer the md5 draw compares against.
    * |sources| rows; built from two tiny aggregates, broadcast by callers.
    */
  private def mixtureRates(s: SparkSession, d: String): DataFrame = {
    // totals via unbounded windows over the |sources|-row aggregate (NOT
    // scalar-subquery cross joins, which re-derive the per-source
    // aggregate once per scalar — 4 corpus scans instead of this 1). The
    // single-partition window is fine: it sees |sources| rows, and the
    // DECIMAL window sum is exact regardless of row order.
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    documents(s, d).groupBy("source").agg(count(lit(1)).as("n_src"))
      .withColumn("n_total", sum("n_src").over(wAll))
      .withColumn("w",
        round(sqrt(col("n_src").cast("double") / col("n_total").cast("double")), 9))
      .withColumn("w_sum",
        sum(col("w").cast(DecimalType(20, 9))).over(wAll).cast("double"))
      .withColumn("rate", least(lit(1.0),
        (col("w") / col("w_sum")) * (lit(MixTargetFrac) * col("n_total").cast("double"))
          / col("n_src").cast("double")))
      .withColumn("thresh", floor(col("rate") * lit(1000000.0)).cast("long"))
      .select("source", "n_src", "rate", "thresh")
  }

  /** CTE block mirroring [[mixtureRates]] (defines `rt(source, n_src,
    * rate, thresh)`), shared by both mixture oracles.
    */
  private def mixtureRatesCtes: String =
    s"""s AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
       |t AS (SELECT sum(n_src) AS n_total FROM s),
       |w AS (SELECT source, n_src, n_total,
       |  round(sqrt(CAST(n_src AS DOUBLE) / CAST(n_total AS DOUBLE)), 9) AS w
       |  FROM s CROSS JOIN t),
       |ww AS (SELECT CAST(sum(CAST(w AS DECIMAL(20,9))) AS DOUBLE) AS w_sum FROM w),
       |rt AS (SELECT source, n_src,
       |  least(1.0, ((w / w_sum) * ($MixTargetFrac * CAST(n_total AS DOUBLE)))
       |    / CAST(n_src AS DOUBLE)) AS rate,
       |  CAST(floor(least(1.0, ((w / w_sum) * ($MixTargetFrac * CAST(n_total AS DOUBLE)))
       |    / CAST(n_src AS DOUBLE)) * 1000000.0) AS BIGINT) AS thresh
       |  FROM w CROSS JOIN ww)""".stripMargin

  // -------------------------------------------------------------- queries

  /** Anchored span-scan body of `pii_spans` over a (doc_id, t) frame —
    * factored out so the boundary spec can feed adversarial docs (e.g. a
    * local part of exactly [[EmailMaxLookback]] chars) through the same
    * plan the production query runs.
    *
    * ONE pass finds every anchor occurrence: split on the 3-char class;
    * the i-th separator sits at the running sum of (chunk len + 1), and
    * the anchor's identity is recovered as the char AT that position.
    * Rows per doc = occurrences + 1 — the per-doc window is bounded.
    */
  def piiSpansFrom(docs: DataFrame): DataFrame = {
      val w = Window.partitionBy("doc_id").orderBy("i")
      val anchors = docs
        .select(col("doc_id"), col("t"),
          posexplode(split(col("t"), "[@+-]", -1)).as(Seq("i", "chunk")))
        .withColumn("q", sum(length(col("chunk")) + 1).over(w).cast("int"))
        .where(col("q") <= length(col("t")))
        .withColumn("ch", expr("substring(t, q, 1)"))
      // candidate (kind, start) list per anchor; email probes every start
      // within local-part reach of its '@' (locallen ≤ EmailMaxLookback
      // under the PiiMaxLen window: the domain needs ≥ EmailMinDomainLen
      // chars after the '@')
      val cands = anchors
        .select(col("doc_id"), col("t"), explode(
          when(col("ch") === "+",
            array(struct(lit("phone").as("kind"), col("q").as("p"))))
          .when(col("ch") === "-" && col("q") >= 4,
            array(struct(lit("ssn").as("kind"), (col("q") - 3).as("p"))))
          .when(col("ch") === "@" && col("q") >= 2,
            transform(
              sequence(greatest(lit(1), col("q") - EmailMaxLookback),
                col("q") - 1),
              p => struct(lit("email").as("kind"), p.as("p"))))
          .otherwise(array().cast("array<struct<kind:string,p:int>>"))).as("c"))
        .select(col("doc_id"), col("t"),
          col("c.kind").as("kind"), col("c.p").as("p"))
        // two '@'s within lookback reach generate a position twice — dedup
        // so the hit multiset stays identical to the all-positions scan
        .dropDuplicates("doc_id", "kind", "p")
      val probeRe = Map("email" -> EmailRe, "ssn" -> SsnRe, "phone" -> PhoneRe)
      val hits = cands
        .withColumn("len", coalesce(probeRe.foldLeft(lit(null).cast("int")) {
          case (acc, (k, re)) => when(col("kind") === k,
            length(regexp_extract(expr(s"substring(t, p, $PiiMaxLen)"),
              s"^($re)", 0))).otherwise(acc) }, lit(0)))
        .where(col("len") > 0)
        .select(col("doc_id"), col("kind"), col("p"), col("len"))
      val wPrev = Window.partitionBy("doc_id", "kind").orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy("doc_id", "kind").orderBy("p")
      hits
        .withColumn("brk",
          when(col("p") > coalesce(max(col("p") + col("len")).over(wPrev), lit(-1)), 1L)
            .otherwise(0L))
        .withColumn("isle", sum("brk").over(wRun))
        .groupBy("doc_id", "kind", "isle")
        .agg(min("p").as("span_start"),
          (max(col("p") + col("len")) - min(col("p"))).cast("long").as("span_len"),
          count(lit(1)).as("n_anchored_hits"))
        .select("doc_id", "kind", "span_start", "span_len", "n_anchored_hits")
        .orderBy("doc_id", "kind", "span_start")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TF-IDF top-3 terms per document. tf aggregates on (doc_id, term)
    // (map-side combined), df on term; the vocabulary relation (31 rows
    // here, vocab-sized always) is broadcast back onto tf — the corpus
    // shuffles once. idf = ln((N+1)/(df+1)) + 1 (smoothed); tfidf rounded
    // to 6 dp BEFORE ranking so both engines rank identical values
    // (term-asc tie-break makes the top-3 cut deterministic).
    "tfidf_top_terms" -> { (s, d) =>
      val docs = documents(s, d).select("doc_id", "text")
      val tok = docs.select(col("doc_id"), explode(toks(col("text"))).as("term"))
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val total = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("term"))
      tf.join(broadcast(dfreq), "term")
        .crossJoin(broadcast(total))
        .withColumn("tfidf",
          round(col("tf") * (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1.0), 6))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= TopTerms)
        .select("doc_id", "term", "tf", "df", "tfidf", "rnk")
        .orderBy("doc_id", "rnk")
    },

    // Concat-and-chunk sequence packing: per source shard, documents are
    // laid out in doc_id order and cut into ChunkTokens-token chunks; each
    // doc reports the chunk span it lands in. The window is PARTITIONED BY
    // source — packing parallelizes across shards; a global ORDER BY
    // window would serialize the corpus through one partition.
    "pack_chunks" -> { (s, d) =>
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      documents(s, d)
        .select(col("doc_id"), col("source"),
          size(toks(col("text"))).cast("long").as("n_tok"))
        .withColumn("tok_before", coalesce(sum("n_tok").over(w), lit(0L)))
        .withColumn("chunk_start", floor(col("tok_before") / lit(ChunkTokens.toDouble)))
        .withColumn("chunk_end",
          floor((col("tok_before") + col("n_tok") - 1) / lit(ChunkTokens.toDouble)))
        .withColumn("n_chunks", col("chunk_end") - col("chunk_start") + 1)
        .orderBy("source", "doc_id")
    },

    // Packing-efficiency planner: padding waste of ONE-DOC-PER-SEQUENCE
    // batching (each doc padded to a multiple of the context length;
    // over-long docs split first) vs CONCAT-AND-PACK (pack_chunks'
    // strategy — only each shard's final chunk is padded), across a
    // ladder of candidate context lengths. The comparison that picks a
    // trainer context/packing strategy before paying for tokenization at
    // corpus scale. Closed-form integer arithmetic — one pass over the
    // per-doc token counts exploded by the 3-length ladder, one
    // per-(L, source) agg for the shard tails; waste fractions are the
    // only divisions.
    "pack_efficiency_ladder" -> { (s, d) =>
      val nt = documents(s, d)
        .select(col("source"), size(toks(col("text"))).cast("long").as("n_tok"))
      val ladder = nt.select(col("source"), col("n_tok"),
        explode(array(PackLadder.map(lit): _*)).as("ctx"))
      // naive: per doc, ceil(n/L)*L − n  (integer ceil via (n+L−1) div L)
      val naive = ladder.groupBy("ctx")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("total_tokens"),
          sum(expr("(n_tok + ctx - 1) DIV ctx") * col("ctx") - col("n_tok"))
            .as("naive_pad"))
      // packed: per (L, shard), ceil(sum(n)/L)*L − sum(n) — only the
      // shard tail pads
      val packed = ladder.groupBy("ctx", "source")
        .agg(sum("n_tok").as("st"))
        .groupBy("ctx")
        .agg(sum(expr("(st + ctx - 1) DIV ctx") * col("ctx") - col("st"))
          .as("packed_pad"))
      naive.join(packed, "ctx")
        .select(col("ctx"), col("n_docs"), col("total_tokens"),
          col("naive_pad"), col("packed_pad"),
          round(col("naive_pad").cast("double") /
            (col("total_tokens") + col("naive_pad")).cast("double"), 6)
            .as("naive_waste_frac"),
          round(col("packed_pad").cast("double") /
            (col("total_tokens") + col("packed_pad")).cast("double"), 6)
            .as("packed_waste_frac"))
        .orderBy("ctx")
    },

    // Chunk-level utilization: explode each doc's chunk span, compute the
    // exact token contribution per (doc, chunk) with integer boundary
    // arithmetic, aggregate per chunk. Every chunk but the last per shard
    // must hold exactly ChunkTokens tokens — the invariant the spec locks.
    "pack_chunk_stats" -> { (s, d) =>
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val b = lit(ChunkTokens)
      documents(s, d)
        .select(col("doc_id"), col("source"),
          size(toks(col("text"))).cast("long").as("n_tok"))
        .withColumn("tok_before", coalesce(sum("n_tok").over(w), lit(0L)))
        .withColumn("chunk_start", floor(col("tok_before") / lit(ChunkTokens.toDouble)))
        .withColumn("chunk_end",
          floor((col("tok_before") + col("n_tok") - 1) / lit(ChunkTokens.toDouble)))
        .withColumn("chunk_id", explode(sequence(col("chunk_start"), col("chunk_end"))))
        .withColumn("tok_in_chunk",
          least((col("chunk_id") + 1) * b, col("tok_before") + col("n_tok"))
            - greatest(col("chunk_id") * b, col("tok_before")))
        .groupBy("source", "chunk_id")
        .agg(count(lit(1)).as("n_docs"), sum("tok_in_chunk").as("n_tokens"))
        .orderBy("source", "chunk_id")
    },

    // Benchmark contamination: fraction of each doc's distinct 3-shingles
    // that appear in the benchmark subset (doc_id % 50 == 0 stands in for
    // an eval suite). The benchmark shingle set is benchmark-sized ->
    // broadcast; the corpus side streams through the semi-join probe.
    "contamination_check" -> { (s, d) =>
      val docs = documents(s, d).select("doc_id", "text")
      contamOverlap(docs, docs.where(col("doc_id") % BenchMod === 0))
        .withColumn("is_benchmark", col("doc_id") % BenchMod === 0)
        .withColumn("contaminated",
          col("overlap_ratio") >= ContamThreshold && !col("is_benchmark"))
        .orderBy("doc_id")
    },

    // PII redaction: per-row regexp scrub (email/SSN/phone) with match
    // counts taken BEFORE redaction. Pure projection — no shuffle, stays
    // in whole-stage codegen.
    "pii_redact" -> { (s, d) =>
      documents(s, d).select(col("doc_id"), withPlantedPii.as("_pii"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("_pii"), lit(EmailRe), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("_pii"), lit(SsnRe), lit(0))).as("n_ssns"),
          size(regexp_extract_all(col("_pii"), lit(PhoneRe), lit(0))).as("n_phones"),
          redactPii(col("_pii")).as("redacted"))
        .orderBy("doc_id")
    },

    // Frequency-ranked vocabulary (token -> dense id), the tokenizer's
    // vocab-build step; ranked via the distributed Ranking.globalRank
    // (see vocabTable).
    "vocab_table" -> { (s, d) =>
      vocabTable(s, d).select("id", "tok", "cnt").orderBy("id")
    },

    // OOV audit under the train/deploy split discipline: the vocabulary
    // is FROZEN on the train split, then every split measures its
    // token-level OOV rate and type coverage against it — the check run
    // before shipping a tokenizer (a high val/test OOV rate means the
    // vocab was built on unrepresentative data). One tok-keyed equi-join
    // marks in-vocab tokens (vocab-sized right side, NOT broadcast at
    // web scale), then a (split, tok) pre-aggregate makes the distinct
    // type counts a plain count — no multi-distinct expand.
    "vocab_oov_rate" -> { (s, d) =>
      val k = h60(concat(lit(SplitSalt), col("doc_id").cast("string"))) % 1000
      val tk = documents(s, d)
        .withColumn("split",
          when(k < 800, "train").when(k < 900, "validation").otherwise("test"))
        .select(col("split"), explode(toks(col("text"))).as("tok"))
      val trainVocab = tk.where(col("split") === "train")
        .select("tok").distinct().withColumn("iv", lit(true))
      tk.join(trainVocab, Seq("tok"), "left")
        .groupBy("split", "tok", "iv")
        .agg(count(lit(1)).as("n"))
        .groupBy("split")
        .agg(sum("n").as("n_tokens"),
          sum(when(col("iv").isNull, col("n")).otherwise(0L)).as("n_oov"),
          count(lit(1)).as("n_types"),
          sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov_types"))
        .withColumn("oov_rate",
          round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6))
        .select("split", "n_tokens", "n_oov", "n_types", "n_oov_types", "oov_rate")
        .orderBy("split")
    },

    // Token-id encoding: each document rendered as its ordered token-id
    // sequence (the text -> ids step before sequence packing). Vocab is
    // broadcast onto the posexploded token stream; per-doc assembly sorts
    // the (pos, id) pairs inside one aggregation — corpus shuffles once,
    // on doc_id. Ids join to a scalar string (driver-harness sortable).
    "vocab_encode" -> { (s, d) =>
      val tok = documents(s, d)
        .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "tok")))
      tok.join(broadcast(vocabTable(s, d)), "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          concat_ws(",",
            transform(array_sort(collect_list(struct(col("pos"), col("id")))),
              t => t.getField("id"))).as("ids"))
        .orderBy("doc_id")
    },

    // Per-source document cap (the RefinedWeb/CCNet domain-cap move: no
    // single source may dominate the training mix): keep at most SourceCap
    // docs per source, chosen by the deterministic md5 sample key (a
    // reproducible "random" cap, not a quality-ordered one) with doc_id
    // tie-break. row_number ≤ k over the source partition — the
    // Filter-over-Window shape the GroupTopK rewrite bounds to ≤ k rows
    // per source per partition crossing the shuffle.
    "source_cap_sample" -> { (s, d) =>
      val w = Window.partitionBy("source")
        .orderBy(col("_k").asc, col("doc_id").asc)
      documents(s, d)
        .withColumn("_k", sampleKey(col("doc_id"), col("text")))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= SourceCap)
        .select("source", "doc_id", "rk")
        .orderBy("source", "rk")
    },

    // Weighted sampling without replacement (Efraimidis-Spirakis priority
    // sampling): each doc draws a deterministic md5-uniform u ∈ (0,1] and
    // competes with key ln(u)/w, w = n_chars — docs win proportionally to
    // their weight. Top-k by key is a TakeOrderedAndProject (per-partition
    // bounded heaps, k rows to the driver merge — the 100 TB top-k plan);
    // the rank window afterwards only ever sees the k survivors.
    "sample_weighted" -> { (s, d) =>
      val u = (h60(concat(lit("wsamp:"), col("doc_id").cast("string"),
        lit(":"), col("text"))) + 1).cast("double") / lit(Pow2_60)
      val top = documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          (log(u) / col("n_chars").cast("double")).as("pri"))
        .orderBy(col("pri").desc, col("doc_id"))
        .limit(WeightedK)
      top.withColumn("rk",
          row_number().over(Window.orderBy(col("pri").desc, col("doc_id"))))
        .select(col("rk"), col("doc_id"), col("n_chars"),
          round(col("pri"), 6).as("priority"))
        .orderBy("rk")
    },

    // Deterministic 10% sample: md5-keyed row filter — reproducible across
    // engines, retries, and partitionings (rand(seed) is none of those).
    "sample_hash_10pct" -> { (s, d) =>
      documents(s, d)
        .where(sampleKey(col("doc_id"), col("text")) < 100)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    // Stratified sampling audit: per-language kept counts under per-lang
    // thresholds. One map-side-combined aggregation over the corpus.
    "sample_stratified" -> { (s, d) =>
      documents(s, d)
        .withColumn("_k", sampleKey(col("doc_id"), col("text")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("_k") < strataThreshold, 1L).otherwise(0L)).as("n_kept"))
        .withColumn("kept_ratio", round(col("n_kept").cast("double") / col("n_total"), 6))
        .orderBy("lang")
    },

    // Per-document boilerplate ratio: the fraction of a doc's 3-shingle
    // OCCURRENCES whose corpus document-frequency exceeds BoilerplateDfCap
    // — corpus-frequent shingles are navigation chrome / templates / legal
    // footers, and a doc dominated by them is boilerplate even when it is
    // not an exact dup of anything. Same inverted-index machinery as the
    // n-gram dedup (one shingle-hash shuffle, reused by the join); docs
    // with fewer than 3 tokens have no shingles and no row.
    "boilerplate_ratio" -> { (s, d) =>
      val sh = shingleRows(documents(s, d).select("doc_id", "text"))
      val hot = sh.distinct()
        .groupBy("sh").agg(count(lit(1)).as("df"))
        .where(col("df") > BoilerplateDfCap)
        .select(col("sh"), lit(1).as("is_hot"))
      sh.join(hot, Seq("sh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sh"),
          sum(coalesce(col("is_hot"), lit(0))).as("n_hot"))
        .select(col("doc_id"), col("n_sh"), col("n_hot"),
          round(col("n_hot").cast("double") / col("n_sh").cast("double"), 6)
            .as("boilerplate_ratio"))
        .orderBy("doc_id")
    },

    // Temperature-based source mixture sampling (alpha = 0.5): the
    // multi-source rebalancing step of pretraining data curation —
    // per-source weights w_s = sqrt(n_s / N) (up-weights small sources,
    // down-weights dominant ones), normalized and converted to per-source
    // keep rates targeting MixTargetFrac of the corpus, then an md5-keyed
    // deterministic per-doc draw against the source's integer threshold.
    // Model state is a |sources|-row broadcast; the corpus is touched once
    // with a pure per-row filter. Every arithmetic step is either exact
    // (integer counts, DECIMAL-summed 9-dp weights) or an identical IEEE
    // double expression in both engines (sqrt/div are correctly rounded),
    // so the oracle selects the exact same rows.
    "sample_mixture" -> { (s, d) =>
      documents(s, d).select("doc_id", "source")
        .join(broadcast(mixtureRates(s, d)), "source")
        .where(h60(concat(lit("mix:"), col("doc_id").cast("string"))) % 1000000L
          < col("thresh"))
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // The mixture audit: per-source original count, kept count, and keep
    // rate — how far the alpha-rebalanced mix moved from the raw mix.
    "sample_mixture_stats" -> { (s, d) =>
      val kept = documents(s, d).select("doc_id", "source")
        .join(broadcast(mixtureRates(s, d)), "source")
        .where(h60(concat(lit("mix:"), col("doc_id").cast("string"))) % 1000000L
          < col("thresh"))
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
      mixtureRates(s, d)
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_src"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          round(col("rate"), 6).as("rate"))
        .orderBy("source")
    },

    // Deterministic 80/10/10 train/validation/test split: md5-keyed per-doc
    // assignment (salted independently of the sampling key, so split and
    // sample draws are uncorrelated). Doc-level output so the oracle
    // verifies every single assignment, not just the counts. Pure per-row
    // map — no shuffle; the same row lands in the same split on any
    // cluster, any partitioning, any retry.
    "corpus_split" -> { (s, d) =>
      val k = h60(concat(lit(SplitSalt), col("doc_id").cast("string"))) % 1000
      documents(s, d)
        .select(col("doc_id"), col("lang"), k.as("k"))
        .withColumn("split",
          when(col("k") < 800, "train")
            .when(col("k") < 900, "validation")
            .otherwise("test"))
        .orderBy("doc_id")
    },

    // Inference batching planner: padded-token waste of fixed-size
    // batches under arrival (doc_id) order vs length-bucketed order —
    // batching similar-length docs together is the standard trick that
    // cuts padding FLOPs in bulk inference/scoring. Both orderings are
    // windows PARTITIONED BY source (shard-parallel, never a global
    // sort); padding is exact integer accounting: a batch costs
    // batch_rows × max(n_tok) and wastes that minus Σ n_tok.
    "batch_padding_efficiency" -> { (s, d) =>
      val base = documents(s, d)
        .select(col("doc_id"), col("source"),
          size(toks(col("text"))).cast("long").as("n_tok"))
      val naive = Window.partitionBy("source").orderBy("doc_id")
      val bucketed = Window.partitionBy("source").orderBy("n_tok", "doc_id")
      def perSource(w: org.apache.spark.sql.expressions.WindowSpec,
                    name: String) =
        base
          .withColumn("bat", floor((row_number().over(w) - 1) / BatchSize.toDouble))
          .groupBy("source", "bat")
          .agg((max("n_tok") * count(lit(1)) - sum("n_tok")).as("waste"),
            count(lit(1)).as("n"))
          .groupBy("source")
          .agg(sum("waste").as(name), sum("n").as(s"n_$name"))
      perSource(naive, "naive_waste")
        .join(perSource(bucketed, "bucketed_waste").drop("n_bucketed_waste"),
          "source")
        .join(base.groupBy("source").agg(sum("n_tok").as("total_tok")), "source")
        .select(col("source"), col("n_naive_waste").as("n_docs"),
          col("total_tok"), col("naive_waste"), col("bucketed_waste"),
          when(col("naive_waste") === 0, lit(0.0))
            .otherwise(round(lit(1.0) - col("bucketed_waste").cast("double") /
              col("naive_waste").cast("double"), 6)).as("waste_cut"))
        .orderBy("source")
    },

    // Eval-contamination firewall, batch face: train-split documents with
    // at least one near-dup in the validation/test split — the docs an
    // ingest pipeline must HOLD BACK to keep eval honest under a
    // doc-keyed split. Composes the cross-set signature index
    // (Dedup.minhashMatchesAgainst — band equi-join, incoming side
    // broadcast) with the split assignment; the STREAMING face is the
    // same index behind StreamingOps.nearDupIngest (equivalence proven in
    // StreamingSpec). At 100 TB the eval index is tiny (eval is ~20% of
    // docs but the INDEX is 32 longs/doc) and precomputed once.
    "split_firewall" -> { (s, d) =>
      val k = h60(concat(lit(SplitSalt), col("doc_id").cast("string"))) % 1000
      val docs = documents(s, d)
      val sp = docs.select(col("doc_id"),
        when(k < 800, "train").when(k < 900, "validation")
          .otherwise("test").as("split"))
      val evalDocs = docs.join(sp.where(col("split") =!= "train"), "doc_id")
        .select("doc_id", "text")
      val trainDocs = docs.join(sp.where(col("split") === "train"), "doc_id")
        .select("doc_id", "text")
      Dedup.minhashMatchesAgainst(trainDocs, Dedup.signatureIndex(evalDocs))
        .orderBy("doc_id")
    },

    // Split-leakage audit: every near-duplicate pair annotated with the
    // train/val/test assignment of BOTH sides — a pair straddling the
    // boundary means eval data leaks into training through a near-copy.
    // The pair relation is the (tiny vs corpus) minhash-LSH output; split
    // assignment is a pure per-row hash, so the two annotation joins
    // broadcast. This is the audit a random split ALWAYS fails somewhere
    // at corpus scale — the fix being cluster-level splitting
    // (dedup_components as the split key), which this query quantifies
    // the need for.
    "split_leakage" -> { (s, d) =>
      val k = h60(concat(lit(SplitSalt), col("doc_id").cast("string"))) % 1000
      val sp = documents(s, d).select(col("doc_id"),
        when(k < 800, "train").when(k < 900, "validation")
          .otherwise("test").as("split"))
      Dedup.minhashPairs(s, d)
        .join(sp.as("pa"), col("doc_a") === col("pa.doc_id"))
        .join(sp.as("pb"), col("doc_b") === col("pb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          col("pa.split").as("split_a"), col("pb.split").as("split_b"),
          (col("pa.split") =!= col("pb.split")).cast("int").as("leaks"))
        .orderBy("doc_a", "doc_b")
    },

    // Exact heavy hitters: top-20 tokens by corpus frequency with corpus
    // share. Token counts are vocab-sized after the map-side combine; the
    // 1-row total is broadcast back.
    "tokens_heavy_hitters" -> { (s, d) =>
      val tok = documents(s, d)
        .select(explode(toks(col("text"))).as("term"))
      val counts = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
      val total = tok.agg(count(lit(1)).as("total"))
      counts.crossJoin(broadcast(total))
        .withColumn("share", round(col("cnt").cast("double") / col("total"), 6))
        .orderBy(desc("cnt"), asc("term"))
        .limit(20)
        .select("term", "cnt", "share")
    },

    // Deterministic training shuffle: md5 sort keys assign every doc a
    // shard and a position within it — the global permutation a training
    // run consumes. Shards sort independently (row_number windows are
    // per-shard, never one global ORDER BY partition); re-runs, retries,
    // and the oracle produce the identical permutation.
    "corpus_shuffle" -> { (s, d) =>
      val w = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
      documents(s, d)
        .select(col("doc_id"),
          (h60(concat(lit("shard:"), col("doc_id").cast("string"))) % NumShards).as("shard"),
          h60(concat(lit("pos:"), col("doc_id").cast("string"))).as("sort_key"))
        .withColumn("pos", row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    },

    // Shingle inverted index: posting lists (sorted doc_id lists) for
    // every 3-shingle shared by >= 2 docs — the direct index behind the
    // n-gram dedup join. Map-side-combined aggregation; output is
    // index-sized (distinct shingles), not corpus-sized. The posting list
    // is emitted as a comma-joined string so the driver's pandas-based
    // hash compare can sort on it (ndarray cells are unhashable as sort
    // keys); the sort happens on the numeric ids BEFORE stringification.
    "inverted_shingle_index" -> { (s, d) =>
      val sh = shingleRows(documents(s, d).select("doc_id", "text")).distinct()
      sh.groupBy("sh")
        .agg(count(lit(1)).as("df"),
          concat_ws(",", transform(sort_array(collect_list(col("doc_id"))),
            x => x.cast("string"))).as("doc_ids"))
        .where(col("df") >= 2)
        .orderBy("sh")
    },

    // Token-BALANCED shard planner: where corpus_shuffle spreads docs by
    // hash (balanced in COUNT, not cost), training shards should carry
    // near-equal TOKEN totals so no data-parallel worker becomes the
    // stragglers' shard. Serpentine (boustrophedon) assignment over the
    // token-count rank — block b of S docs deals shard 0..S-1 on even
    // blocks and S-1..0 on odd blocks, pairing heavy docs with light
    // ones — gets within one max-doc-weight of perfect balance in ONE
    // distributed pass (rank via Ranking.globalRank; the greedy LPT
    // alternative is inherently sequential). The spec locks the balance
    // bound; shard_balance_stats below measures it.
    "shard_assign_balanced" -> { (s, d) => shardAssignBalanced(s, d) },

    // Per-shard audit of the planner: doc counts and token totals.
    "shard_balance_stats" -> { (s, d) =>
      shardAssignBalanced(s, d)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tok_sum"))
        .orderBy("shard")
    },

    // Vocabulary richness per source: hapax legomena (types seen exactly
    // once IN that source) as a fraction of the source's types and of its
    // tokens. Template/boilerplate slices have few hapaxes; scraped noise
    // has many — a cheap lexical-diversity signal next to drift_source_kl.
    // ONE corpus-sized (source, tok) groupBy; everything downstream is
    // per-source-vocabulary-sized.
    "vocab_hapax_rate" -> { (s, d) =>
      documents(s, d)
        .select(col("source"), explode(toks(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_types"), sum("c").as("n_tokens"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("n_types"), col("n_tokens"), col("n_hapax"),
          round(col("n_hapax").cast("double") / col("n_types").cast("double"), 6)
            .as("hapax_type_frac"),
          round(col("n_hapax").cast("double") / col("n_tokens").cast("double"), 6)
            .as("hapax_token_frac"))
        .orderBy("source")
    },

    // Span-level PII detection: the maximal character REGIONS a redaction
    // pass must blank, per kind — pii_redact rewrites the text; this
    // returns the offsets (what a selective-redaction or audit-overlay
    // pipeline needs). Candidate starts come from ANCHOR characters each
    // pattern provably contains — '@' for email (at start+locallen, and
    // locallen ≤ EmailMaxLookback under the PiiMaxLen probe window: the
    // domain needs ≥ EmailMinDomainLen chars after the '@'), the first
    // '-' for SSN (always at start+3), '+' for phone
    // (at start exactly) — so the anchored probe regex runs at a few
    // positions per planted value instead of EVERY corpus position
    // (1.5M probes × 3 kinds → ~100k; 8.2 s → sub-second at sf0.1).
    // The probe itself is unchanged, so the hit set — including the
    // suffix starts that land at adjacent positions and chain-merge into
    // one maximal region via the island windows (partitioned by doc —
    // bounded) — is byte-identical to the all-positions scan the DuckDB
    // oracle still runs. Region start = leftmost anchored hit; end =
    // furthest match end.
    "pii_spans" -> { (s, d) =>
      piiSpansFrom(
        documents(s, d).select(col("doc_id"), withPlantedPii.as("t")))
    },


    // Term burstiness: variance-to-mean ratio (index of dispersion) of
    // per-document counts for the top-BurstTopK corpus terms. VMR ≈ 1 is
    // Poisson scatter (function words); VMR >> 1 is clumpy, topical usage
    // (content words) — the classic signal separating the two, and a
    // boilerplate detector when a "content-looking" term scores near 1.
    // Zero-count documents enter through the n_docs scalar only: E[x] and
    // E[x²] need Σcnt and Σcnt² over nonzero (doc, term) cells plus the
    // document total — never a dense doc×term grid. All moments are exact
    // integer sums; two double divisions at the end.
    "term_burstiness" -> { (s, d) =>
      val dt = documents(s, d)
        .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
        .groupBy("tok", "doc_id").agg(count(lit(1)).as("c"))
      fill(dt, "Corpus.term_burstiness/dt") // feeds the top-K build AND the moment probe
      val top = dt.groupBy("tok").agg(sum("c").as("total"))
        .orderBy(desc("total"), asc("tok")).limit(BurstTopK)
      val nd = documents(s, d).agg(count(lit(1)).as("n_docs"))
      val m = dt.join(top, "tok")
        .groupBy("tok")
        .agg(first("total").as("total"), sum(col("c") * col("c")).as("ssq"))
        .crossJoin(broadcast(nd))
      val mean = col("total").cast("double") / col("n_docs").cast("double")
      val ex2 = col("ssq").cast("double") / col("n_docs").cast("double")
      m.select(col("tok"), col("total"),
          round(mean, 6).as("mean_per_doc"),
          round((ex2 - mean * mean) / mean, 6).as("vmr"))
        .orderBy(desc("total"), asc("tok"))
    },

    // Vocabulary-size sweep: what fraction of token OCCURRENCES the top-V
    // types cover, for a ladder of candidate vocab sizes — the curve that
    // picks a tokenizer/feature vocabulary budget (coverage flattens →
    // stop paying for types). Ranks via Ranking.globalRank; the ladder is
    // a handful of conditional sums in ONE aggregate over the ranked
    // vocab (never a per-V rescan).
    "vocab_coverage_curve" -> { (s, d) =>
      val vocab = documents(s, d)
        .select(explode(toks(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val ranked = Ranking.globalRank(vocab, Seq(desc("cnt"), asc("tok")))
      val aggs = count(lit(1)).as("n_types") +: sum("cnt").as("total") +:
        CoverageLadder.map(v =>
          sum(when(col("rank") <= v, col("cnt")).otherwise(0L)).as(s"c_$v"))
      val one = ranked.agg(aggs.head, aggs.tail: _*)
      one.select(explode(array(CoverageLadder.map(v =>
          struct(lit(v).as("vocab_size"), col(s"c_$v").as("covered_tokens"),
            col("total").as("total_tokens"))): _*)).as("r"))
        .select(col("r.vocab_size"), col("r.covered_tokens"),
          col("r.total_tokens"),
          round(col("r.covered_tokens").cast("double") /
            col("r.total_tokens").cast("double"), 6).as("coverage"))
        .orderBy("vocab_size")
    },

    // Zipf's-law fit over the corpus vocabulary: OLS slope of ln(freq) on
    // ln(rank) (natural text ≈ −1; machine-generated or deduplicate-worthy
    // corpora drift off). Ranks come from Ranking.globalRank — the
    // web-scale vocabulary never crosses one task — and the five OLS
    // moments accumulate as 1e-9 fixed-point DECIMAL(38,0) sums (products
    // of logs overflow a scaled long at 10^8 types; decimal is exact and
    // associative where double summation is partition-order-dependent).
    // One closing double expression, written operand-for-operand like the
    // oracle.
    "vocab_zipf_slope" -> { (s, d) =>
      val vocab = documents(s, d)
        .select(explode(toks(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val ranked = Ranking.globalRank(vocab, Seq(desc("cnt"), asc("tok")))
        .select(log(col("rank").cast("double")).as("x"),
          log(col("cnt").cast("double")).as("y"))
      val t = ranked.select(
        round(col("x") * 1e9).cast("long").as("x9"),
        round(col("y") * 1e9).cast("long").as("y9"),
        round(col("x") * col("y") * 1e9).cast("long").as("xy9"),
        round(col("x") * col("x") * 1e9).cast("long").as("xx9"))
      val dec = DecimalType(38, 0)
      t.agg(count(lit(1)).as("n_types"),
          sum(col("x9").cast(dec)).as("sx9"), sum(col("y9").cast(dec)).as("sy9"),
          sum(col("xy9").cast(dec)).as("sxy9"), sum(col("xx9").cast(dec)).as("sxx9"))
        .select(col("n_types"),
          round((col("n_types").cast("double") * (col("sxy9").cast("double") / 1e9) -
            (col("sx9").cast("double") / 1e9) * (col("sy9").cast("double") / 1e9)) /
            (col("n_types").cast("double") * (col("sxx9").cast("double") / 1e9) -
              (col("sx9").cast("double") / 1e9) * (col("sx9").cast("double") / 1e9)),
            6).as("zipf_slope"))
    },

    // Heaps'-law fit: vocabulary growth V(N) ~ k*N^beta reading the corpus
    // in doc_id order (natural text: beta ~ 0.4-0.6; beta near 1 flags
    // unbounded novelty — IDs/noise; near 0 a closed template vocabulary).
    // Zipf's dual, and the curve that predicts how a tokenizer's OOV rate
    // decays as the corpus grows. Fit at TWO type grains so the fixture
    // exercises both regimes non-vacuously: word types (the fixture's
    // closed 31-word vocabulary saturates -> beta ~ 0) and word-3-gram
    // types (a combinatorially open space that keeps growing -> beta well
    // away from 0) — the token-vs-shingle gap itself is the
    // template-corpus diagnostic. A classically SEQUENTIAL statistic made
    // distributed: a type's first-occurrence doc is just min(doc_id) over
    // the occurrence stream (no global scan order needed), per-doc
    // occurrence and new-type counts prefix-sum through
    // Ranking.globalCumSum (doc-grain relation, never one task), and the
    // log-log OLS moments accumulate with vocab_zipf_slope's 1e-9
    // fixed-point DECIMAL(38,0) discipline.
    "vocab_heaps_slope" -> { (s, d) =>
      val docs = documents(s, d).select("doc_id", "text")
      val tokStream = docs.select(col("doc_id"), explode(toks(col("text"))).as("ty"))
      val shStream = shingleRows(docs).select(col("doc_id"), col("sh").as("ty"))
      heapsFit(shStream, "shingle3").unionAll(heapsFit(tokStream, "token"))
        .orderBy("grain")
    }
  )

  /** One Heaps'-law OLS fit over a (doc_id, ty) type-occurrence stream;
    * docs with no occurrences at this grain (< 3 tokens for shingles)
    * contribute no curve point, mirrored in the oracle.
    */
  private def heapsFit(stream: DataFrame, grain: String): DataFrame = {
    val nt = stream.groupBy("doc_id").agg(count(lit(1)).as("n_occ"))
    val nu = stream.groupBy("ty").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("new_types"))
    val doc = nt.join(nu, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_occ"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
    // globalCumSum is an EXCLUSIVE prefix; add the row's own value
    val c1 = Ranking.globalCumSum(doc, Seq(asc("doc_id")), col("n_occ"), "nd0")
    val c2 = Ranking.globalCumSum(c1, Seq(asc("doc_id")), col("new_types"), "vd0")
    val curve = c2.select(
      (col("nd0") + col("n_occ")).as("nd"),
      (col("vd0") + col("new_types")).as("vd"))
    val x = log(col("nd").cast("double"))
    val y = log(col("vd").cast("double"))
    val t = curve.select(col("nd"), col("vd"),
      round(x * 1e9).cast("long").as("x9"),
      round(y * 1e9).cast("long").as("y9"),
      round(x * y * 1e9).cast("long").as("xy9"),
      round(x * x * 1e9).cast("long").as("xx9"))
    val dec = DecimalType(38, 0)
    t.agg(count(lit(1)).as("n_docs"),
        max("nd").as("total_units"), max("vd").as("vocab_size"),
        sum(col("x9").cast(dec)).as("sx9"), sum(col("y9").cast(dec)).as("sy9"),
        sum(col("xy9").cast(dec)).as("sxy9"), sum(col("xx9").cast(dec)).as("sxx9"))
      .select(lit(grain).as("grain"), col("n_docs"), col("total_units"),
        col("vocab_size"),
        round((col("n_docs").cast("double") * (col("sxy9").cast("double") / 1e9) -
          (col("sx9").cast("double") / 1e9) * (col("sy9").cast("double") / 1e9)) /
          (col("n_docs").cast("double") * (col("sxx9").cast("double") / 1e9) -
            (col("sx9").cast("double") / 1e9) * (col("sx9").cast("double") / 1e9)),
          6).as("heaps_beta"))
  }

  private def shardAssignBalanced(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d)
      .select(col("doc_id"), size(toks(col("text"))).cast("long").as("n_tok"))
    val ranked = Ranking.globalRank(base, Seq(desc("n_tok"), asc("doc_id")))
    val idx = (col("rank") - 1) % NumShards
    ranked
      .withColumn("shard",
        when(pmod(floor((col("rank") - 1) / NumShards), lit(2)) === 0, idx)
          .otherwise(lit(NumShards - 1) - idx).cast("int"))
      .select("doc_id", "n_tok", "shard")
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------- oracles

  private def tokCte =
    s"tok AS (SELECT doc_id, source, ${toksSql("text")} AS tt FROM documents)"

  private def shCte =
    s"""t AS (SELECT doc_id, ${toksSql("text")} AS tt FROM documents),
       |s AS (SELECT DISTINCT doc_id, unnest(${shingles3Sql("tt")}) AS sh FROM t)""".stripMargin

  private def packCte =
    s"""$tokCte,
       |c AS (SELECT doc_id, source, CAST(len(tt) AS BIGINT) AS n_tok,
       |  CAST(COALESCE(sum(len(tt)) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
       |  FROM tok),
       |p AS (SELECT doc_id, source, n_tok, tok_before,
       |  CAST(floor(tok_before / $ChunkTokens.0) AS BIGINT) AS chunk_start,
       |  CAST(floor((tok_before + n_tok - 1) / $ChunkTokens.0) AS BIGINT) AS chunk_end
       |  FROM c)""".stripMargin

  val oracles: Map[String, String] = Map(
    "tfidf_top_terms" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${toksSql("text")}) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (SELECT doc_id, term, tf, df,
         |    round(tf * (ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) + 1.0), 6) AS tfidf
         |  FROM tf JOIN df USING (term) CROSS JOIN n),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY tfidf DESC, term) AS INTEGER) AS rnk FROM scored)
         |SELECT doc_id, term, tf, df, tfidf, rnk FROM r
         |WHERE rnk <= $TopTerms ORDER BY doc_id, rnk""".stripMargin,

    "pack_chunks" ->
      s"""WITH $packCte
         |SELECT doc_id, source, n_tok, tok_before, chunk_start, chunk_end,
         |  chunk_end - chunk_start + 1 AS n_chunks
         |FROM p ORDER BY source, doc_id""".stripMargin,

    "pack_chunk_stats" ->
      s"""WITH $packCte,
         |x AS (SELECT source, unnest(range(chunk_start, chunk_end + 1)) AS chunk_id,
         |    n_tok, tok_before FROM p),
         |y AS (SELECT source, chunk_id,
         |    least((chunk_id + 1) * $ChunkTokens, tok_before + n_tok)
         |      - greatest(chunk_id * $ChunkTokens, tok_before) AS tok_in_chunk
         |  FROM x)
         |SELECT source, chunk_id, count(*) AS n_docs,
         |  CAST(sum(tok_in_chunk) AS BIGINT) AS n_tokens
         |FROM y GROUP BY source, chunk_id ORDER BY source, chunk_id""".stripMargin,

    "pack_efficiency_ladder" ->
      s"""WITH $tokCte,
         |nt AS (SELECT source, CAST(len(tt) AS BIGINT) AS n_tok FROM tok),
         |l AS (SELECT source, n_tok, unnest([${PackLadder.mkString(", ")}]) AS ctx
         |  FROM nt),
         |nv AS (SELECT ctx, count(*) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         |    CAST(sum(((n_tok + ctx - 1) // ctx) * ctx - n_tok) AS BIGINT)
         |      AS naive_pad
         |  FROM l GROUP BY ctx),
         |sh2 AS (SELECT ctx, source, CAST(sum(n_tok) AS BIGINT) AS st
         |  FROM l GROUP BY ctx, source),
         |pk AS (SELECT ctx, CAST(sum(((st + ctx - 1) // ctx) * ctx - st)
         |    AS BIGINT) AS packed_pad
         |  FROM sh2 GROUP BY ctx)
         |SELECT CAST(ctx AS BIGINT) AS ctx, n_docs, total_tokens,
         |  naive_pad, packed_pad,
         |  round(CAST(naive_pad AS DOUBLE)
         |    / CAST(total_tokens + naive_pad AS DOUBLE), 6) AS naive_waste_frac,
         |  round(CAST(packed_pad AS DOUBLE)
         |    / CAST(total_tokens + packed_pad AS DOUBLE), 6) AS packed_waste_frac
         |FROM nv JOIN pk USING (ctx) ORDER BY ctx""".stripMargin,

    "contamination_check" ->
      s"""WITH $shCte,
         |b AS (SELECT DISTINCT sh FROM s WHERE doc_id % $BenchMod = 0),
         |j AS (SELECT s.doc_id, count(*) AS n_shingles,
         |    CAST(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
         |  FROM s LEFT JOIN b ON s.sh = b.sh GROUP BY s.doc_id)
         |SELECT doc_id, n_shingles, n_overlap,
         |  round(CAST(n_overlap AS DOUBLE) / n_shingles, 6) AS overlap_ratio,
         |  doc_id % $BenchMod = 0 AS is_benchmark,
         |  (round(CAST(n_overlap AS DOUBLE) / n_shingles, 6) >= $ContamThreshold
         |    AND doc_id % $BenchMod <> 0) AS contaminated
         |FROM j ORDER BY doc_id""".stripMargin,

    "pii_redact" ->
      s"""WITH p AS (SELECT doc_id, ${plantedPiiSql} AS pii FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(pii, '$EmailRe')) AS INTEGER) AS n_emails,
         |  CAST(len(regexp_extract_all(pii, '$SsnRe')) AS INTEGER) AS n_ssns,
         |  CAST(len(regexp_extract_all(pii, '$PhoneRe')) AS INTEGER) AS n_phones,
         |  ${redactPiiSql("pii")} AS redacted
         |FROM p ORDER BY doc_id""".stripMargin,

    "vocab_table" ->
      s"""WITH c AS (SELECT tok, count(*) AS cnt
         |  FROM (SELECT unnest(${toksSql("text")}) AS tok FROM documents) GROUP BY 1)
         |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS INTEGER) AS id,
         |  tok, cnt
         |FROM c ORDER BY id""".stripMargin,

    "vocab_oov_rate" ->
      s"""WITH ks AS (SELECT doc_id, text,
         |    ${h60Sql(s"'$SplitSalt' || CAST(doc_id AS VARCHAR)")} % 1000 AS k
         |  FROM documents),
         |ds AS (SELECT doc_id, text,
         |    CASE WHEN k < 800 THEN 'train' WHEN k < 900 THEN 'validation'
         |         ELSE 'test' END AS split FROM ks),
         |tk AS (SELECT split, unnest(${toksSql("text")}) AS tok FROM ds),
         |tv AS (SELECT DISTINCT tok FROM tk WHERE split = 'train'),
         |j AS (SELECT t.split, t.tok, (tv.tok IS NOT NULL) AS iv
         |  FROM tk t LEFT JOIN tv ON t.tok = tv.tok),
         |bt AS (SELECT split, tok, iv, count(*) AS n FROM j GROUP BY 1, 2, 3)
         |SELECT split, CAST(sum(n) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN NOT iv THEN n ELSE 0 END) AS BIGINT) AS n_oov,
         |  count(*) AS n_types,
         |  CAST(sum(CASE WHEN NOT iv THEN 1 ELSE 0 END) AS BIGINT) AS n_oov_types,
         |  round(CAST(sum(CASE WHEN NOT iv THEN n ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(n) AS DOUBLE), 6) AS oov_rate
         |FROM bt GROUP BY split ORDER BY split""".stripMargin,

    "vocab_encode" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${toksSql("text")}) AS tok,
         |    generate_subscripts(${toksSql("text")}, 1) AS pos
         |  FROM documents),
         |c AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
         |v AS (SELECT tok, CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS INTEGER) AS id
         |  FROM c)
         |SELECT doc_id, count(*) AS n_tok,
         |  string_agg(id, ',' ORDER BY pos) AS ids
         |FROM tok JOIN v USING (tok) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "source_cap_sample" ->
      s"""WITH k AS (SELECT source, doc_id, $sampleKeySql AS kk FROM documents),
         |r AS (SELECT source, doc_id, CAST(row_number() OVER
         |    (PARTITION BY source ORDER BY kk, doc_id) AS INTEGER) AS rk FROM k)
         |SELECT source, doc_id, rk FROM r WHERE rk <= $SourceCap
         |ORDER BY source, rk""".stripMargin,

    "sample_weighted" ->
      s"""WITH pri AS (SELECT doc_id, n_chars,
         |    ln(CAST(${h60Sql("'wsamp:' || CAST(doc_id AS VARCHAR) || ':' || text")} + 1
         |        AS DOUBLE) / 1152921504606846976.0)
         |      / CAST(n_chars AS DOUBLE) AS pri
         |  FROM documents),
         |r AS (SELECT CAST(row_number() OVER (ORDER BY pri DESC, doc_id)
         |    AS INTEGER) AS rk, doc_id, n_chars, round(pri, 6) AS priority
         |  FROM pri)
         |SELECT rk, doc_id, n_chars, priority FROM r
         |WHERE rk <= $WeightedK ORDER BY rk""".stripMargin,

    "sample_hash_10pct" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE $sampleKeySql < 100 ORDER BY doc_id""".stripMargin,

    "sample_stratified" ->
      s"""WITH k AS (SELECT lang, $sampleKeySql AS kk FROM documents)
         |SELECT lang, count(*) AS n_total,
         |  CAST(sum(CASE WHEN kk < $strataThresholdSql THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  round(CAST(sum(CASE WHEN kk < $strataThresholdSql THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS kept_ratio
         |FROM k GROUP BY lang ORDER BY lang""".stripMargin,

    "boilerplate_ratio" ->
      s"""WITH $shCte,
         |hot AS (SELECT sh, 1 AS is_hot FROM (
         |    SELECT sh, count(*) AS df FROM s GROUP BY 1) WHERE df > $BoilerplateDfCap),
         |occ AS (SELECT doc_id, sh FROM (
         |  SELECT doc_id, unnest(${shingles3Sql("tt")}) AS sh
         |  FROM (SELECT doc_id, ${toksSql("text")} AS tt FROM documents)))
         |SELECT doc_id, count(*) AS n_sh,
         |  CAST(sum(COALESCE(is_hot, 0)) AS BIGINT) AS n_hot,
         |  round(CAST(sum(COALESCE(is_hot, 0)) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         |    AS boilerplate_ratio
         |FROM occ LEFT JOIN hot USING (sh)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "sample_mixture" ->
      s"""WITH $mixtureRatesCtes
         |SELECT doc_id, source FROM documents JOIN rt USING (source)
         |WHERE ${h60Sql("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000000 < thresh
         |ORDER BY doc_id""".stripMargin,

    "sample_mixture_stats" ->
      s"""WITH $mixtureRatesCtes,
         |kept AS (SELECT source, count(*) AS n_kept
         |  FROM documents JOIN rt USING (source)
         |  WHERE ${h60Sql("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000000 < thresh
         |  GROUP BY 1)
         |SELECT rt.source, rt.n_src, COALESCE(kept.n_kept, 0) AS n_kept,
         |  round(rt.rate, 6) AS rate
         |FROM rt LEFT JOIN kept USING (source) ORDER BY source""".stripMargin,

    "corpus_split" ->
      s"""WITH k AS (SELECT doc_id, lang,
         |    ${h60Sql(s"'$SplitSalt' || CAST(doc_id AS VARCHAR)")} % 1000 AS k
         |  FROM documents)
         |SELECT doc_id, lang, k,
         |  CASE WHEN k < 800 THEN 'train' WHEN k < 900 THEN 'validation'
         |       ELSE 'test' END AS split
         |FROM k ORDER BY doc_id""".stripMargin,

    "batch_padding_efficiency" ->
      s"""WITH base AS (SELECT doc_id, source,
         |    CAST(len(${toksSql("text")}) AS BIGINT) AS n_tok FROM documents),
         |nv AS (SELECT source, n_tok,
         |    (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1) // $BatchSize AS bat
         |  FROM base),
         |bk AS (SELECT source, n_tok,
         |    (row_number() OVER (PARTITION BY source ORDER BY n_tok, doc_id) - 1) // $BatchSize AS bat
         |  FROM base),
         |nw AS (SELECT source, CAST(sum(w) AS BIGINT) AS naive_waste,
         |    CAST(sum(n) AS BIGINT) AS n_docs
         |  FROM (SELECT source, bat, max(n_tok)*count(*) - sum(n_tok) AS w,
         |      count(*) AS n FROM nv GROUP BY source, bat)
         |  GROUP BY source),
         |bw AS (SELECT source, CAST(sum(w) AS BIGINT) AS bucketed_waste
         |  FROM (SELECT source, bat, max(n_tok)*count(*) - sum(n_tok) AS w
         |      FROM bk GROUP BY source, bat)
         |  GROUP BY source),
         |tt AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS total_tok
         |  FROM base GROUP BY source)
         |SELECT nw.source, n_docs, total_tok, naive_waste, bucketed_waste,
         |  CASE WHEN naive_waste = 0 THEN 0.0
         |       ELSE round(1.0 - CAST(bucketed_waste AS DOUBLE)
         |         / CAST(naive_waste AS DOUBLE), 6) END AS waste_cut
         |FROM nw JOIN bw ON nw.source = bw.source JOIN tt ON nw.source = tt.source
         |ORDER BY nw.source""".stripMargin,

    "split_firewall" ->
      s"""${Dedup.sigSqlCte},
         |pairs AS (${Dedup.minhashPairsSqlSelect}),
         |sp AS (SELECT doc_id,
         |  CASE WHEN ${h60Sql(s"'$SplitSalt' || CAST(doc_id AS VARCHAR)")} % 1000 < 800 THEN 'train'
         |       WHEN ${h60Sql(s"'$SplitSalt' || CAST(doc_id AS VARCHAR)")} % 1000 < 900 THEN 'validation'
         |       ELSE 'test' END AS split
         |  FROM documents),
         |und AS (SELECT doc_a AS did, doc_b AS other FROM pairs
         |        UNION ALL SELECT doc_b, doc_a FROM pairs)
         |SELECT DISTINCT did AS doc_id
         |FROM und JOIN sp a ON und.did = a.doc_id
         |  JOIN sp b ON und.other = b.doc_id
         |WHERE a.split = 'train' AND b.split <> 'train'
         |ORDER BY doc_id""".stripMargin,

    "split_leakage" ->
      s"""${Dedup.sigSqlCte},
         |pairs AS (${Dedup.minhashPairsSqlSelect}),
         |sp AS (SELECT doc_id,
         |  CASE WHEN ${h60Sql(s"'$SplitSalt' || CAST(doc_id AS VARCHAR)")} % 1000 < 800 THEN 'train'
         |       WHEN ${h60Sql(s"'$SplitSalt' || CAST(doc_id AS VARCHAR)")} % 1000 < 900 THEN 'validation'
         |       ELSE 'test' END AS split
         |  FROM documents)
         |SELECT doc_a, doc_b, pa.split AS split_a, pb.split AS split_b,
         |  CAST(pa.split <> pb.split AS INTEGER) AS leaks
         |FROM pairs JOIN sp pa ON doc_a = pa.doc_id
         |  JOIN sp pb ON doc_b = pb.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    "tokens_heavy_hitters" ->
      s"""WITH tok AS (SELECT unnest(${toksSql("text")}) AS term FROM documents),
         |c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
         |t AS (SELECT count(*) AS total FROM tok)
         |SELECT term, cnt, round(CAST(cnt AS DOUBLE) / total, 6) AS share
         |FROM c CROSS JOIN t ORDER BY cnt DESC, term LIMIT 20""".stripMargin,

    "corpus_shuffle" ->
      s"""WITH k AS (SELECT doc_id,
         |    ${h60Sql("'shard:' || CAST(doc_id AS VARCHAR)")} % $NumShards AS shard,
         |    ${h60Sql("'pos:' || CAST(doc_id AS VARCHAR)")} AS sort_key
         |  FROM documents)
         |SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY sort_key, doc_id) AS BIGINT) AS pos
         |FROM k ORDER BY shard, pos""".stripMargin,

    "inverted_shingle_index" ->
      s"""WITH $shCte
         |SELECT sh, count(*) AS df,
         |  array_to_string(list_transform(list_sort(list(doc_id)),
         |    x -> CAST(x AS VARCHAR)), ',') AS doc_ids
         |FROM s GROUP BY sh HAVING count(*) >= 2 ORDER BY sh""".stripMargin,

    "shard_assign_balanced" ->
      s"""WITH $shardBalCte
         |SELECT doc_id, n_tok, shard FROM sh ORDER BY doc_id""".stripMargin,

    "shard_balance_stats" ->
      s"""WITH $shardBalCte
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS tok_sum
         |FROM sh GROUP BY shard ORDER BY shard""".stripMargin,

    "vocab_hapax_rate" ->
      s"""WITH st AS (SELECT source, tok, count(*) AS c FROM (
         |    SELECT source, unnest(${toksSql("text")}) AS tok FROM documents)
         |  GROUP BY 1, 2)
         |SELECT source, count(*) AS n_types, CAST(sum(c) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         |  round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS hapax_type_frac,
         |  round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(c) AS DOUBLE), 6) AS hapax_token_frac
         |FROM st GROUP BY source ORDER BY source""".stripMargin,

    "pii_spans" -> {
      val arms = Seq(("email", EmailRe), ("ssn", SsnRe), ("phone", PhoneRe))
        .map { case (k, re) =>
          s"""SELECT doc_id, '$k' AS kind, p,
             |  len(regexp_extract(substr(t, CAST(p AS INTEGER), $PiiMaxLen), '^($re)'))
             |    AS len FROM pos""".stripMargin }
        .mkString("\nUNION ALL\n")
      s"""WITH pp AS (SELECT doc_id, ${plantedPiiSql} AS t FROM documents),
         |pos AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS p FROM pp),
         |hits AS (SELECT * FROM ($arms) WHERE len > 0),
         |b AS (SELECT doc_id, kind, p, len,
         |    CASE WHEN p > coalesce(max(p + len) OVER (PARTITION BY doc_id, kind
         |        ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         |      THEN 1 ELSE 0 END AS brk
         |  FROM hits),
         |i AS (SELECT *, sum(brk) OVER (PARTITION BY doc_id, kind
         |    ORDER BY p ROWS UNBOUNDED PRECEDING) AS isle FROM b)
         |SELECT doc_id, kind, CAST(min(p) AS INTEGER) AS span_start,
         |  CAST(max(p + len) - min(p) AS BIGINT) AS span_len,
         |  count(*) AS n_anchored_hits
         |FROM i GROUP BY doc_id, kind, isle
         |ORDER BY doc_id, kind, span_start""".stripMargin
    },

    "term_burstiness" ->
      s"""WITH dt AS (SELECT tok, doc_id, count(*) AS c FROM (
         |    SELECT doc_id, unnest(${toksSql("text")}) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |top AS (SELECT tok, CAST(sum(c) AS BIGINT) AS total FROM dt
         |  GROUP BY tok ORDER BY total DESC, tok LIMIT $BurstTopK),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |m AS (SELECT dt.tok, any_value(total) AS total,
         |    CAST(sum(c * c) AS BIGINT) AS ssq
         |  FROM dt JOIN top ON dt.tok = top.tok GROUP BY dt.tok)
         |SELECT tok, total,
         |  round(CAST(total AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         |    AS mean_per_doc,
         |  round((CAST(ssq AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |      - (CAST(total AS DOUBLE) / CAST(n_docs AS DOUBLE))
         |        * (CAST(total AS DOUBLE) / CAST(n_docs AS DOUBLE)))
         |    / (CAST(total AS DOUBLE) / CAST(n_docs AS DOUBLE)), 6) AS vmr
         |FROM m CROSS JOIN nd ORDER BY total DESC, tok""".stripMargin,

    "vocab_coverage_curve" -> {
      val arms = CoverageLadder.map(v =>
        s"""SELECT $v AS vocab_size,
           |  CAST(sum(CASE WHEN rank <= $v THEN cnt ELSE 0 END) AS BIGINT)
           |    AS covered_tokens,
           |  CAST(sum(cnt) AS BIGINT) AS total_tokens FROM r""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH v AS (SELECT tok, count(*) AS cnt FROM (
         |    SELECT unnest(${toksSql("text")}) AS tok FROM documents) GROUP BY 1),
         |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rank
         |  FROM v),
         |c AS ($arms)
         |SELECT vocab_size, covered_tokens, total_tokens,
         |  round(CAST(covered_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6)
         |    AS coverage
         |FROM c ORDER BY vocab_size""".stripMargin
    },

    "vocab_zipf_slope" ->
      s"""WITH v AS (SELECT tok, count(*) AS cnt FROM (
         |    SELECT unnest(${toksSql("text")}) AS tok FROM documents) GROUP BY 1),
         |r AS (SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS DOUBLE)) AS x,
         |    ln(CAST(cnt AS DOUBLE)) AS y FROM v),
         |t AS (SELECT CAST(round(x*1e9) AS BIGINT) AS x9,
         |    CAST(round(y*1e9) AS BIGINT) AS y9,
         |    CAST(round(x*y*1e9) AS BIGINT) AS xy9,
         |    CAST(round(x*x*1e9) AS BIGINT) AS xx9 FROM r),
         |m AS (SELECT count(*) AS n, sum(CAST(x9 AS HUGEINT)) AS sx9,
         |    sum(CAST(y9 AS HUGEINT)) AS sy9, sum(CAST(xy9 AS HUGEINT)) AS sxy9,
         |    sum(CAST(xx9 AS HUGEINT)) AS sxx9 FROM t)
         |SELECT n AS n_types,
         |  round((CAST(n AS DOUBLE) * (CAST(sxy9 AS DOUBLE)/1e9)
         |      - (CAST(sx9 AS DOUBLE)/1e9) * (CAST(sy9 AS DOUBLE)/1e9))
         |    / (CAST(n AS DOUBLE) * (CAST(sxx9 AS DOUBLE)/1e9)
         |      - (CAST(sx9 AS DOUBLE)/1e9) * (CAST(sx9 AS DOUBLE)/1e9)), 6)
         |    AS zipf_slope
         |FROM m""".stripMargin,

    "vocab_heaps_slope" ->
      s"""WITH tt AS (SELECT doc_id, ${toksSql("text")} AS tt FROM documents),
         |${heapsChain("tk", s"SELECT doc_id, unnest(${toksSql("text")}) AS ty FROM documents")},
         |${heapsChain("sh", s"SELECT doc_id, unnest(${shingles3Sql("tt")}) AS ty FROM tt")}
         |SELECT * FROM (
         |  ${heapsArm("tk", "token")}
         |  UNION ALL
         |  ${heapsArm("sh", "shingle3")}
         |) ORDER BY grain""".stripMargin
  )

  /** Oracle CTE chain for one Heaps'-law grain (prefix `p`), mirroring
    * [[heapsFit]] term for term over the `src` (doc_id, ty) stream.
    */
  private def heapsChain(p: String, src: String): String =
    s"""${p}s AS ($src),
       |${p}nt AS (SELECT doc_id, count(*) AS n_occ FROM ${p}s GROUP BY 1),
       |${p}nu AS (SELECT fd AS doc_id, count(*) AS new_types FROM
       |    (SELECT ty, min(doc_id) AS fd FROM ${p}s GROUP BY 1) GROUP BY 1),
       |${p}dg AS (SELECT a.doc_id, a.n_occ, coalesce(b.new_types, 0) AS new_types
       |  FROM ${p}nt a LEFT JOIN ${p}nu b ON a.doc_id = b.doc_id),
       |${p}cs AS (SELECT CAST(sum(n_occ) OVER w AS BIGINT) AS nd,
       |    CAST(sum(new_types) OVER w AS BIGINT) AS vd FROM ${p}dg
       |  WINDOW w AS (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |${p}r AS (SELECT nd, vd, ln(CAST(nd AS DOUBLE)) AS x,
       |    ln(CAST(vd AS DOUBLE)) AS y FROM ${p}cs),
       |${p}t AS (SELECT nd, vd, CAST(round(x*1e9) AS BIGINT) AS x9,
       |    CAST(round(y*1e9) AS BIGINT) AS y9,
       |    CAST(round(x*y*1e9) AS BIGINT) AS xy9,
       |    CAST(round(x*x*1e9) AS BIGINT) AS xx9 FROM ${p}r),
       |${p}m AS (SELECT count(*) AS n, max(nd) AS total_units,
       |    max(vd) AS vocab_size, sum(CAST(x9 AS HUGEINT)) AS sx9,
       |    sum(CAST(y9 AS HUGEINT)) AS sy9, sum(CAST(xy9 AS HUGEINT)) AS sxy9,
       |    sum(CAST(xx9 AS HUGEINT)) AS sxx9 FROM ${p}t)""".stripMargin

  private def heapsArm(p: String, grain: String): String =
    s"""SELECT '$grain' AS grain, n AS n_docs, total_units, vocab_size,
       |    round((CAST(n AS DOUBLE) * (CAST(sxy9 AS DOUBLE)/1e9)
       |        - (CAST(sx9 AS DOUBLE)/1e9) * (CAST(sy9 AS DOUBLE)/1e9))
       |      / (CAST(n AS DOUBLE) * (CAST(sxx9 AS DOUBLE)/1e9)
       |        - (CAST(sx9 AS DOUBLE)/1e9) * (CAST(sx9 AS DOUBLE)/1e9)), 6)
       |      AS heaps_beta
       |  FROM ${p}m""".stripMargin

  /** Oracle CTE for the serpentine token-balanced shard assignment (the
    * oracle may use a plain global window; the engine side rides
    * Ranking.globalRank).
    */
  private def shardBalCte: String =
    s"""base AS (SELECT doc_id,
       |    CAST(len(${toksSql("text")}) AS BIGINT) AS n_tok FROM documents),
       |rk AS (SELECT doc_id, n_tok,
       |    row_number() OVER (ORDER BY n_tok DESC, doc_id) AS rank FROM base),
       |sh AS (SELECT doc_id, n_tok,
       |    CAST(CASE WHEN ((rank-1) // $NumShards) % 2 = 0
       |         THEN (rank-1) % $NumShards
       |         ELSE $NumShards - 1 - ((rank-1) % $NumShards) END AS INTEGER)
       |      AS shard
       |  FROM rk)""".stripMargin
}
