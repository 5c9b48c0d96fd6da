package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Graft.fill
import graft.Tables._
import TextHash._

/** Substring-level exact-duplication analysis — the signal behind
  * "deduplicating training data" substring dedup (repeated boilerplate /
  * templated spans that document-level dedup misses because the documents
  * differ elsewhere).
  *
  * Every document emits the 60-bit hashes of its `SpanLen`-char windows at
  * stride `SpanStride` (stride < span length, so any repeated region of
  * length ≥ SpanLen + SpanStride − 1 is guaranteed to contribute at least
  * one sampled window on both sides). Windows repeating across ≥ 2 distinct
  * documents mark duplicated spans.
  *
  * 100 TB shape: span emission is a pure per-row explode (no shuffle, stays
  * in codegen); the only exchanges are hash-keyed aggregations — 8-byte
  * span hashes cross the wire, never the text. The per-span stats relation
  * is corpus-vocabulary-sized and joins back to span rows on its hash key
  * (shuffle equi-join; NOT broadcast — at real scale the distinct-span set
  * is large). The final per-doc profile reuses the doc_id key. No all-pairs
  * joins anywhere.
  */
object Substring {

  val SpanLen = 40
  val SpanStride = 20
  private val TopSpans = 20

  /** Minimum duplicated-substring length for the EXACT (suffix-grain)
    * pass — every character position is examined, unlike the sampled
    * stride-[[SpanStride]] profile above.
    */
  val ExactLen = 20

  /** Grams in more than this many DISTINCT docs are excluded from the
    * pair-provenance join (boilerplate — `dup_span_top`'s job) so no
    * gram bucket goes quadratic.
    */
  val PairDfCap = 8L

  /** Pairs reported by `dup_span_pairs`. */
  val TopPairs = 50

  /** Minimum distinct shared grams for a LOSSLESS provenance pair. */
  val MinSharedGrams = 3L

  /** Audited-slice modulus for `dup_span_pairs_lossless`: lossless
    * provenance enumerates every qualifying pair, and the TRUE pair set
    * over a boilerplate-heavy corpus is near-quadratic in the corpus (the
    * answer's size, not an algorithmic artifact) — so the lossless query
    * audits a doc_id slice (the suspected-leak set / benchmark side in a
    * real pipeline) rather than the whole corpus. The ALGORITHM is
    * slice-size-agnostic; the slice bounds the answer.
    */
  val ProvSliceMod = 10L

  /** Chunk stride for the position-grain gram extractors: documents are
    * cut into stride-aligned chunks of `stride + gramLen - 1` chars so
    * every gram's O(position) UTF8String scan is bounded by the CHUNK,
    * not the document. The stride grid is a perfect OWNERSHIP partition
    * of start positions (chunk k owns global 0-based starts
    * [k·S, k·S + S)), and chunk k's text covers exactly its owned grams
    * (k·S + S - 1 + gramLen - 1 ≤ k·S + S + gramLen - 2 = last chunk
    * char) — so unlike winnow's overlap chunking there are NO seam
    * duplicates: the emitted (doc_id, i, h) multiset is identical to the
    * unchunked form (SubstringSpec proves row-set equality). The r10
    * scale probe caught the unchunked HOF form burning 1,580 s CPU per
    * task inside interpreted Substring.nullSafeEval on 2.2M-char giants
    * (O(len²) scans — the same cliff winnow hit in r9).
    */
  private[operators] val GramChunkStride = 128

  /** (doc_id, i, h): EVERY character position i (1-based) with the 64-bit
    * hash of its [[ExactLen]]-gram. Chunked generate/project chain — the
    * 1-row explode materializes each chunk ONCE per chunk row (the
    * Generate is a projection-collapse barrier, so the per-position
    * substring indexes a 147-char local, never the full document), and
    * every expression stays in whole-stage codegen. Only
    * (doc_id, int, 8-byte hash) rows ever shuffle, never text.
    */
  private[graft] def exactGramsOf(docs: DataFrame): DataFrame =
    TextHash.ownedPositions(docs, ExactLen, GramChunkStride)
      .select(col("doc_id"), col("i"),
        xxhash64(col("chunk").substr(col("li"), lit(ExactLen))).as("h"))

  private def exactGrams(s: SparkSession, d: String): DataFrame =
    exactGramsOf(documents(s, d).select("doc_id", "text"))

  /** df-CAPPED provenance pairs (doc_a, doc_b, n_shared): shared-gram
    * counts restricted to grams in 2..[[PairDfCap]] docs — no gram bucket
    * can go quadratic, at the documented cost of missing pairs whose
    * every shared gram is boilerplate-frequent (the lossless variant
    * exists for those).
    */
  def spanPairsCapped(docs: DataFrame): DataFrame = {
    val byDoc = exactGramsOf(docs).select("doc_id", "h").distinct()
    val wH = Window.partitionBy("h")
    val filt = byDoc.withColumn("nd", count(lit(1)).over(wH))
      .where(col("nd").between(2, PairDfCap))
      .select("doc_id", "h")
    filt.as("a").join(filt.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** LOSSLESS provenance pairs (doc_a, doc_b, n_shared): every doc pair
    * sharing >= `minShared` distinct [[ExactLen]]-grams, with NO df cap —
    * heavily duplicated (boilerplate) spans still attribute. The quadratic
    * candidate bucket is avoided by the AllPairs prefix filter ported from
    * [[Dedup.prefixJaccardPairs]]: per doc, grams sort by ascending global
    * (df, h) and only the first |set| − minShared + 1 enter the candidate
    * join — any pair with overlap >= minShared MUST collide inside both
    * prefixes (pigeonhole under the shared total order), so candidate
    * generation loses nothing; exact shared counts are then recomputed on
    * the full gram sets of the candidates only. df = 1 grams are dropped
    * before the sort (they can join no pair), which is what makes the
    * prefixes short on a mostly-unique corpus.
    */
  def spanPairsLossless(docs: DataFrame, minShared: Long): DataFrame = {
    val e = exactGramsOf(docs).select("doc_id", "h").distinct()
    // the df aggregate, the docT join probe and both verify sides
    fill(e, "Substring.spanPairsLossless/e")
    val dfs = e.groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2)
    val docT = e.join(dfs, "h")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ts"),
        count(lit(1)).as("ng"))
    val pref = docT
      .where(col("ng") >= minShared)
      .select(col("doc_id"),
        explode(slice(col("ts"), lit(1),
          (col("ng") - lit(minShared) + 1).cast("int"))).as("pt"))
      .select(col("doc_id"), col("pt.h").as("h"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(e.as("fa"), col("doc_a") === col("fa.doc_id"))
      .join(e.as("fb"),
        col("doc_b") === col("fb.doc_id") && col("fa.h") === col("fb.h"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Distinct gram-hash set of `docs` — the frozen benchmark-side state
    * the contamination gate checks against (public: the streaming spec
    * freezes it like a model artifact).
    */
  def benchmarkGrams(docs: DataFrame): DataFrame =
    exactGramsOf(docs).select("h").distinct()

  /** A probe doc is contaminated when >= this many of its characters are
    * covered by benchmark-shared substrings of length >= [[ExactLen]].
    */
  val ContamMinChars = 40

  /** Per-doc character coverage of `docs` by substrings (length >=
    * [[ExactLen]]) that also appear in `benchGrams` (a distinct gram-hash
    * column `h`, e.g. frozen from the benchmark slice) — the exact
    * substring-grain contamination gate, stateless given the gram set, so
    * a stream can apply it per micro-batch unchanged.
    */
  /** Maximal contaminated character islands of `docs` against the frozen
    * gram set: (doc_id, s, e) half-open 1-based char ranges [s, e) covered
    * by benchmark-shared ExactLen-grams, chain-merged so islands are
    * disjoint with ≥ 1 clean char between them. The shared core of the
    * coverage gate and the decontamination rewrite.
    */
  def contamIslands(docs: DataFrame, benchGrams: DataFrame): DataFrame = {
    val L = ExactLen
    val wPrev = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("i")
    exactGramsOf(docs).join(broadcast(benchGrams), "h").select("doc_id", "i")
      .withColumn("brk",
        when(col("i") > coalesce(max(col("i") + L).over(wPrev), lit(-1)), 1L)
          .otherwise(0L))
      .withColumn("isle", sum("brk").over(wRun))
      .groupBy("doc_id", "isle")
      .agg(min(col("i")).cast("long").as("s"),
        max(col("i") + L).cast("long").as("e"))
      .select("doc_id", "s", "e")
  }

  def exactContamination(docs: DataFrame, benchGrams: DataFrame): DataFrame =
    contamIslands(docs, benchGrams)
      .select(col("doc_id"), (col("e") - col("s")).as("span_len"))
      .groupBy("doc_id")
      .agg(sum("span_len").as("contam_chars"), count(lit(1)).as("n_spans"),
        max("span_len").as("max_span"))
      .withColumn("contaminated", col("contam_chars") >= ContamMinChars)

  /** Decontamination REWRITE: every probe doc with its benchmark-
    * contaminated islands REMOVED and the clean gaps re-joined — the
    * salvage counterpart of the coverage gate (drop the leaked spans,
    * keep the document). Gap pieces are computed relationally (lag over
    * each doc's few islands — partitions bounded by spans-per-doc, not
    * corpus size) and re-concatenated in order; uncontaminated docs pass
    * through untouched.
    */
  def decontaminate(docs: DataFrame, benchGrams: DataFrame): DataFrame = {
    val ranges = contamIslands(docs, benchGrams)
    val wd = Window.partitionBy("doc_id").orderBy("s")
    val gaps = ranges
      .withColumn("pstart", coalesce(lag("e", 1).over(wd), lit(1L)))
      .join(docs, "doc_id")
      .select(col("doc_id"),
        col("text").substr(col("pstart").cast("int"),
          (col("s") - col("pstart")).cast("int")).as("piece"),
        col("s"))
    val tails = ranges.groupBy("doc_id").agg(max("e").as("tstart"))
      .join(docs, "doc_id")
      .select(col("doc_id"),
        col("text").substr(col("tstart").cast("int"),
          greatest(length(col("text")) - col("tstart").cast("int") + 1, lit(0))
            .cast("int")).as("piece"),
        (length(col("text")) + 1).cast("long").as("s"))
    val rebuilt = gaps.unionByName(tails)
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("s"), col("piece")))),
          x => x.getField("piece")), "").as("clean_text"))
    docs.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), col("text")).as("clean_text"),
        (length(col("text")) -
          length(coalesce(col("clean_text"), col("text")))).cast("long")
          .as("removed_chars"))
  }

  /** (doc_id, s, span, h): sampled character windows + 60-bit hash.
    * Docs shorter than SpanLen emit nothing (fixture min 48 chars).
    * Rides [[TextHash.ownedPositions]] on the SpanStride grid (two-level
    * chunked extraction) so each span's substring scan is bounded by a
    * chunk, not the document — the direct form scanned O(offset) chars
    * per span (~1e11 char-ops on a 2.2M-char giant).
    */
  private def spanRows(s: SparkSession, d: String): DataFrame =
    TextHash.ownedPositions(
        documents(s, d).select("doc_id", "text"),
        window = SpanLen, stride = 32 * SpanStride, grid = SpanStride)
      .select(col("doc_id"), (col("i") - 1).cast("long").as("s"),
        col("chunk").substr(col("li"), lit(SpanLen)).as("span"))
      .withColumn("h", h60(col("span")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-document duplication profile: how many of a doc's sampled spans
    // also occur in at least one OTHER document.
    "dup_span_profile" -> { (s, d) =>
      val spans = spanRows(s, d)
      val stats = spans.groupBy("h")
        .agg(countDistinct(col("doc_id")).as("n_docs_h"))
      spans.join(stats, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("n_docs_h") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
        .withColumn("dup_ratio",
          round(col("n_dup_spans").cast("double") / col("n_spans").cast("double"), 6))
        .orderBy("doc_id")
    },

    // EXACT substring dedup at suffix grain (Lee et al., "Deduplicating
    // Training Data"): per-doc character coverage of every maximal
    // substring of length >= ExactLen occurring >= 2 times anywhere in
    // the corpus (within-doc repeats included). The L-gram window union
    // is exact — a duplicated substring of length M >= L makes all its
    // L-grams duplicated, and each duplicated L-gram IS a duplicated
    // substring — so union([i, i+L)) over duplicated starts equals the
    // duplicated-character set; adjacent/overlapping windows chain-merge
    // into maximal spans (the relational stand-in for a suffix array:
    // gram-bucketed group + per-doc island windows, never all-pairs).
    // Grams travel as xxhash64 keys; a 64-bit collision could only
    // over-mark a span (2^-64 per pair — accepted).
    "dup_exact_spans" -> { (s, d) =>
      val L = ExactLen
      val grams = exactGrams(s, d)
      // duplicated-gram marking via ONE hash-keyed shuffle: a count window
      // partitioned by h (groupBy-then-join-back would shuffle the gram
      // table twice — measured 6.3-6.5 s in-run vs 4.8 s cold-alone at sf0.1)
      val wH = Window.partitionBy("h")
      val wPrev = Window.partitionBy("doc_id").orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy("doc_id").orderBy("i")
      grams.withColumn("n", count(lit(1)).over(wH))
        .where(col("n") >= 2).select("doc_id", "i")
        .withColumn("brk",
          when(col("i") > coalesce(max(col("i") + L).over(wPrev), lit(-1)), 1L)
            .otherwise(0L))
        .withColumn("isle", sum("brk").over(wRun))
        .groupBy("doc_id", "isle")
        .agg((max(col("i") + L) - min(col("i"))).cast("long").as("span_len"))
        .groupBy("doc_id")
        .agg(sum("span_len").as("dup_chars"), count(lit(1)).as("n_spans"),
          max("span_len").as("max_span"))
        .orderBy("doc_id")
    },

    // Exact substring-grain CONTAMINATION: every non-benchmark doc's
    // character coverage by >= ExactLen-char substrings shared with the
    // benchmark slice (doc_id % BenchMod == 0, same slice as
    // contamination_check) — the suffix-grain upgrade of the shingle
    // overlap check, catching partial-sentence leaks shingles dilute.
    // The benchmark gram set is benchmark-sized and broadcasts.
    "contam_exact_coverage" -> { (s, d) =>
      val docs = documents(s, d).select("doc_id", "text")
      val bg = benchmarkGrams(docs.where(col("doc_id") % Corpus.BenchMod === 0))
      exactContamination(docs.where(col("doc_id") % Corpus.BenchMod =!= 0), bg)
        .orderBy("doc_id")
    },

    // Decontamination REWRITE over the same split: probe docs with their
    // benchmark-leaked islands cut out and the clean remainder re-joined.
    // Where the coverage gate DROPS a contaminated doc, the rewrite
    // salvages everything outside the leaked spans.
    "contam_rewrite" -> { (s, d) =>
      val docs = documents(s, d).select("doc_id", "text")
      val bg = benchmarkGrams(docs.where(col("doc_id") % Corpus.BenchMod === 0))
      decontaminate(docs.where(col("doc_id") % Corpus.BenchMod =!= 0), bg)
        .orderBy("doc_id")
    },

    // Span PROVENANCE: which doc PAIRS share exact >= ExactLen-char text,
    // weighted by the number of distinct shared grams — the contamination
    // forensics view of dup_exact_spans (who copied whom / which bench
    // doc leaked where). The gram table collapses to (doc, gram) presence,
    // grams in more than PairDfCap docs drop (boilerplate — no quadratic
    // bucket survives), and the remaining gram-bucketed self-join emits
    // pairs. Top-TopPairs under the total order (n_shared desc, a, b).
    "dup_span_pairs" -> { (s, d) =>
      spanPairsCapped(documents(s, d).select("doc_id", "text"))
        .orderBy(desc("n_shared"), col("doc_a"), col("doc_b"))
        .limit(TopPairs)
    },

    // LOSSLESS provenance over the audited slice: every pair sharing
    // >= MinSharedGrams distinct grams, NO df cap — the pair the capped
    // query provably misses (all shared grams above PairDfCap) is found
    // here (SubstringSpec adversary). Candidates via the AllPairs prefix
    // filter; see spanPairsLossless.
    "dup_span_pairs_lossless" -> { (s, d) =>
      spanPairsLossless(
        documents(s, d).select("doc_id", "text")
          .where(col("doc_id") % ProvSliceMod === 0),
        MinSharedGrams)
        .orderBy(desc("n_shared"), col("doc_a"), col("doc_b"))
        .limit(TopPairs)
    },

    // Most-repeated spans across the corpus: top-20 by occurrence count.
    // Grouping key is the 60-bit hash (what would cross the wire at scale);
    // min(span) recovers a deterministic representative text.
    "dup_span_top" -> { (s, d) =>
      spanRows(s, d)
        .groupBy("h")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"),
          min(col("span")).as("span"))
        .select("span", "n_docs", "n_occ")
        .orderBy(col("n_occ").desc, col("n_docs").desc, col("span"))
        .limit(TopSpans)
    }
  )

  // -------------------------------------------------------------- oracles

  /** DuckDB range() is end-exclusive vs Spark sequence() end-inclusive:
    * range(0, n_chars - SpanLen + 1, stride) == sequence(0, n_chars - SpanLen, stride).
    */
  private val spanCte =
    s"""sp AS (SELECT doc_id, s,
       |    substr(text, CAST(s + 1 AS INTEGER), $SpanLen) AS span
       |  FROM (SELECT doc_id, text,
       |          unnest(range(0, n_chars - ${SpanLen - 1}, $SpanStride)) AS s
       |        FROM documents WHERE n_chars >= $SpanLen)),
       |sh AS (SELECT doc_id, s, span, ${h60Sql("span")} AS h FROM sp)""".stripMargin

  val oracles: Map[String, String] = Map(
    "dup_span_profile" ->
      s"""WITH $spanCte,
         |st AS (SELECT h, count(DISTINCT doc_id) AS n_docs_h FROM sh GROUP BY h),
         |j AS (SELECT doc_id, n_docs_h FROM sh JOIN st USING (h)),
         |p AS (SELECT doc_id, count(*) AS n_spans,
         |    CAST(sum(CASE WHEN n_docs_h >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
         |  FROM j GROUP BY doc_id)
         |SELECT doc_id, n_spans, n_dup_spans,
         |  round(CAST(n_dup_spans AS DOUBLE) / CAST(n_spans AS DOUBLE), 6) AS dup_ratio
         |FROM p ORDER BY doc_id""".stripMargin,

    // brute force at character grain: raw grams as group keys (no hash),
    // the same island merge spelled in SQL
    "dup_exact_spans" ->
      s"""WITH g AS (SELECT doc_id,
         |    unnest(generate_series(1, length(text) - ${ExactLen - 1})) AS i, text
         |  FROM documents WHERE length(text) >= $ExactLen),
         |gr AS (SELECT doc_id, i,
         |    substr(text, CAST(i AS INTEGER), $ExactLen) AS h FROM g),
         |dup AS (SELECT h FROM gr GROUP BY h HAVING count(*) >= 2),
         |ds AS (SELECT gr.doc_id, gr.i FROM gr JOIN dup USING (h)),
         |isl AS (SELECT doc_id, i,
         |    CASE WHEN i > coalesce(max(i + $ExactLen) OVER (PARTITION BY doc_id
         |        ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         |      THEN 1 ELSE 0 END AS brk
         |  FROM ds),
         |i2 AS (SELECT doc_id, i,
         |    sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS isle FROM isl),
         |sp2 AS (SELECT doc_id, isle,
         |    CAST(max(i + $ExactLen) - min(i) AS BIGINT) AS span_len
         |  FROM i2 GROUP BY doc_id, isle)
         |SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS dup_chars,
         |  count(*) AS n_spans, max(span_len) AS max_span
         |FROM sp2 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "contam_exact_coverage" ->
      s"""WITH $contamIslandSqlCtes,
         |sp2 AS (SELECT doc_id, isle,
         |    CAST(max(i + $ExactLen) - min(i) AS BIGINT) AS span_len
         |  FROM i2 GROUP BY doc_id, isle)
         |SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS contam_chars,
         |  count(*) AS n_spans, max(span_len) AS max_span,
         |  (CAST(sum(span_len) AS BIGINT) >= $ContamMinChars) AS contaminated
         |FROM sp2 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "contam_rewrite" ->
      s"""WITH $contamIslandSqlCtes,
         |rng AS (SELECT doc_id, CAST(min(i) AS BIGINT) AS s,
         |    CAST(max(i + $ExactLen) AS BIGINT) AS e
         |  FROM i2 GROUP BY doc_id, isle),
         |gp AS (SELECT doc_id, s,
         |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS pstart
         |  FROM rng),
         |pieces AS (SELECT d.doc_id,
         |    substr(d.text, CAST(pstart AS INTEGER), CAST(s - pstart AS INTEGER))
         |      AS piece, s
         |  FROM gp JOIN documents d USING (doc_id)),
         |tl AS (SELECT doc_id, max(e) AS tstart FROM rng GROUP BY doc_id),
         |tp AS (SELECT d.doc_id, substr(d.text, CAST(tstart AS INTEGER)) AS piece,
         |    CAST(length(d.text) + 1 AS BIGINT) AS s
         |  FROM tl JOIN documents d USING (doc_id)),
         |allp AS (SELECT * FROM pieces UNION ALL SELECT * FROM tp),
         |reb AS (SELECT doc_id, string_agg(piece, '' ORDER BY s) AS clean_text
         |  FROM allp GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(reb.clean_text, d.text) AS clean_text,
         |  CAST(length(d.text) - length(coalesce(reb.clean_text, d.text)) AS BIGINT)
         |    AS removed_chars
         |FROM documents d LEFT JOIN reb USING (doc_id)
         |WHERE d.doc_id % ${Corpus.BenchMod} <> 0
         |ORDER BY d.doc_id""".stripMargin,

    "dup_span_pairs" ->
      s"""WITH g AS (SELECT doc_id,
         |    unnest(generate_series(1, length(text) - ${ExactLen - 1})) AS i, text
         |  FROM documents WHERE length(text) >= $ExactLen),
         |gr AS (SELECT doc_id, substr(text, CAST(i AS INTEGER), $ExactLen) AS h FROM g),
         |bd AS (SELECT DISTINCT doc_id, h FROM gr),
         |fd AS (SELECT doc_id, h FROM
         |  (SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS nd FROM bd)
         |  WHERE nd BETWEEN 2 AND $PairDfCap)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |FROM fd a JOIN fd b ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY n_shared DESC, doc_a, doc_b
         |LIMIT $TopPairs""".stripMargin,

    // naive all-pairs over the audited slice: small enough for the oracle,
    // and by definition the lossless ground truth the prefix filter must
    // reproduce exactly
    "dup_span_pairs_lossless" ->
      s"""WITH g AS (SELECT doc_id,
         |    unnest(generate_series(1, length(text) - ${ExactLen - 1})) AS i, text
         |  FROM documents
         |  WHERE length(text) >= $ExactLen AND doc_id % $ProvSliceMod = 0),
         |gr AS (SELECT doc_id, substr(text, CAST(i AS INTEGER), $ExactLen) AS h FROM g),
         |bd AS (SELECT DISTINCT doc_id, h FROM gr)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |FROM bd a JOIN bd b ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= $MinSharedGrams
         |ORDER BY n_shared DESC, doc_a, doc_b
         |LIMIT $TopPairs""".stripMargin,

    "dup_span_top" ->
      s"""WITH $spanCte,
         |g AS (SELECT h, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
         |    min(span) AS span
         |  FROM sh GROUP BY h)
         |SELECT span, n_docs, n_occ FROM g
         |ORDER BY n_occ DESC, n_docs DESC, span LIMIT $TopSpans""".stripMargin
  )

  /** Shared oracle CTEs: probe-side covered positions chain-merged into
    * contamination islands (i2 carries the island id per covered
    * position) — mirrors [[contamIslands]].
    */
  private def contamIslandSqlCtes: String =
    s"""g AS (SELECT doc_id,
       |    unnest(generate_series(1, length(text) - ${ExactLen - 1})) AS i, text
       |  FROM documents WHERE length(text) >= $ExactLen),
       |gr AS (SELECT doc_id, i,
       |    substr(text, CAST(i AS INTEGER), $ExactLen) AS h FROM g),
       |bg AS (SELECT DISTINCT h FROM gr WHERE doc_id % ${Corpus.BenchMod} = 0),
       |ds AS (SELECT gr.doc_id, gr.i FROM gr JOIN bg USING (h)
       |  WHERE gr.doc_id % ${Corpus.BenchMod} <> 0),
       |isl AS (SELECT doc_id, i,
       |    CASE WHEN i > coalesce(max(i + $ExactLen) OVER (PARTITION BY doc_id
       |        ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |      THEN 1 ELSE 0 END AS brk
       |  FROM ds),
       |i2 AS (SELECT doc_id, i,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS isle FROM isl)""".stripMargin
}
