package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Graft.fill
import graft.Tables._
import TextHash._

/** Winnowing document fingerprinting (Schleimer, Wilkerson, Aiken,
  * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD 2003 —
  * the MOSS algorithm). Complements the existing near-dup family with a
  * LOCAL fingerprint selection: every window of [[WinnowW]] consecutive
  * char-[[GramLen]]-gram hashes contributes its minimum (rightmost on
  * ties), which guarantees any cross-document match of length >=
  * [[GuaranteeLen]] chars shares at least one selected fingerprint, while
  * keeping expected density ~ 2/(WinnowW+1) of positions — an index ~3x
  * smaller than the full gram index [[Substring]] builds, with a provable
  * (not probabilistic, unlike MinHash) detection threshold.
  *
  * Rightmost-min selection is encoded as ONE integer key per position:
  * selkey = (h40(gram)) * 2^20 + (2^20 - 1 - i), so `min(selkey)` over a
  * window picks the smallest 40-bit hash and, on hash ties, the LARGEST
  * position — the tie rule that makes selection shift-invariant (aligned
  * windows in two docs sharing text pick the same relative gram). The
  * 20-bit position field admits chunks up to 2^20 - 1 chars (the default
  * [[ChunkLen]] sits far below that for execution reasons its scaladoc
  * explains); 40-bit fingerprint collisions can only over-link a pair
  * (~2^-40 each — accepted, and identical in the oracle since both
  * engines compute the same key).
  *
  * NO document length excludes a doc from fingerprinting: docs longer
  * than [[ChunkLen]] are cut into chunks at stride
  * `chunkLen - (GuaranteeLen - 1)`, so every [[GuaranteeLen]]-char span
  * (= every full gram window) lies entirely inside at least one chunk.
  * Within a window the local-position order equals the global-position
  * order, so a window shared by two overlapping chunks selects the SAME
  * gram in both — after re-basing to global positions, the chunked
  * fingerprint set is IDENTICAL to what an unbounded position field
  * would produce. WinnowSpec's chunk tests prove the set equality
  * against both a single-chunk run and a packing-free pure-Scala
  * reference with artificially small chunkLen (docs spanning 8+
  * chunks, plus a 70,000-char doc), and its cross-seam test plants a
  * shared GuaranteeLen-char run straddling a chunk seam.
  *
  * 100 TB shape: chunking + gram + window selection is per-doc (partition
  * keys doc_id, chunk offset; window length bounded by chunk length); only
  * (doc_id, 8-byte key) rows shuffle. The pair join is fingerprint-bucketed
  * with the same df cap discipline as [[Substring.spanPairsCapped]] — no
  * bucket goes quadratic.
  */
object Winnow {

  /** Char k-gram length (the noise threshold: no match shorter than this
    * is ever detected).
    */
  val GramLen = 8

  /** Window size in grams: every [[WinnowW]] consecutive grams yield >= 1
    * fingerprint.
    */
  val WinnowW = 6

  /** The winnowing guarantee: any shared substring of at least this many
    * chars (= WinnowW + GramLen - 1) produces a shared fingerprint.
    */
  val GuaranteeLen: Int = WinnowW + GramLen - 1

  /** Position field width: 20 bits of chunk-local position (1-based). */
  private val PosCard = 1L << 20
  val PosMax: Long = PosCard - 1

  /** Hash field: 40 bits of h60 (40 + 20 = 60 bits < signed-64 range).
    * Public so WinnowSpec's pure-Scala reference derives the width from
    * here instead of hard-coding a literal that can drift.
    */
  val HashMod = 1L << 40

  /** Default chunk length. Docs longer than this are strided into
    * overlapping chunks (overlap GuaranteeLen - 1 chars) so the selection
    * never drops a window; the fingerprint set is chunking-INVARIANT
    * (WinnowSpec proves set equality across chunk lengths), so this is a
    * pure execution knob. Two scale forces size it SMALL, not at the
    * 20-bit field's 2^20-1 ceiling (the r9 scale probe caught both on
    * 2.1M-char docs, where the ceiling default ran 550+ s without
    * finishing):
    *
    *   1. UTF8String.substring is O(char position) — it scans from the
    *      string START to find a codepoint offset — so gram hashing at
    *      position i of a chunk costs O(i) bytes; per-chunk work is
    *      O(chunkLen²), total O(len · chunkLen). Small chunks bound the
    *      scan; the 2^20 default made million-char docs effectively
    *      quadratic.
    *   2. One selection task per (doc, chunk): 2^20-char chunks put a
    *      whole giant doc in ~2 tasks; small chunks spread it out.
    *
    * Cost of going small: duplicated seam positions, (GuaranteeLen-1)/
    * stride. 127 (r10 sweep: 1.10 s vs 1.38 s at 255, 1.85 s at 4095 for
    * sf0.1 selections — the in-chunk substring scan still dominated at
    * 4 KB) costs 11% duplicated positions and still wins; below ~127 the
    * md5 floor takes over. Oracle SQL interpolates the same constant, so
    * both engines chunk identically at any value.
    */
  val ChunkLen: Int = 127

  /** Fingerprints in more than this many distinct docs are boilerplate and
    * leave the pair join (same discipline as [[Substring.PairDfCap]]).
    */
  val FpDfCap = 8L

  /** Pairs reported by `wn_overlap_pairs`. */
  val TopPairs = 50

  /** Exchange-based formulation of [[selections]] — kept as the physical
    * cross-check (WinnowSpec proves row-set equality with the map-side
    * default on every chunk geometry): the sliding min is a
    * per-(doc, chunk) ROWS window, which costs an
    * Exchange(doc_id, off) + Sort over every gram position. The chunk
    * TEXT is materialized once per chunk row (between the two
    * generators, so whole-stage codegen computes it once per chunk and
    * the position loop indexes the small local, never the full document).
    */
  private[graft] def selectionsWindowed(docs: DataFrame,
                                            chunkLen: Int = ChunkLen): DataFrame = {
    require(chunkLen >= GuaranteeLen && chunkLen <= PosMax,
      s"chunkLen must be in [$GuaranteeLen, $PosMax]")
    val wWin = Window.partitionBy("doc_id", "off").orderBy("i")
      .rowsBetween(-(WinnowW - 1), 0)
    chunkRows(docs, chunkLen)
      .select(col("doc_id"), col("off"), col("chunk"),
        explode(sequence(lit(1), col("ni"))).as("i"))
      .select(col("doc_id"), col("off"), col("i"),
        (pmod(h60(col("chunk").substr(col("i"), lit(GramLen))),
          lit(HashMod)) * PosCard + (lit(PosMax) - col("i")))
          .as("sk"))
      .withColumn("skm", min("sk").over(wWin))
      .where(col("i") >= WinnowW)
      .select(col("doc_id"), col("off"), col("i"), col("skm").as("sk"))
  }

  /** (doc_id, off, i, sk): every full-window chunk-local position i (gram
    * positions are 1-based; windows need i >= WinnowW) in the chunk at
    * char offset `off`, with min-selection key sk over the window ending
    * at i. MAP-SIDE sliding min: per chunk, the per-position key ARRAY is
    * materialized once and the window minimum is `array_min` over a
    * `slice`, so the per-position Window — and its
    * Exchange(doc_id, off) + Sort over every gram position — disappears
    * entirely; the whole selection is a generate/project chain with zero
    * shuffles (r10: 1.10 s vs 2.0 s windowed at sf0.1). Two Generate
    * barriers keep the collapse traps at bay: the chunk substring is
    * exploded out of a 1-element array (evaluated once per chunk row —
    * never inlined into the key lambda, where the O(position) UTF8String
    * scan would go quadratic on giant docs), and the position explode
    * below the key array keeps `ks` an attribute (so the 8-gram md5 runs
    * once per position, not once per window — the O(n·w) inlining trap a
    * barrier-free array formulation measured at 10.7 s vs ~3 s in r8;
    * same trap TextHash.shingleRows documents). [[selectionsWindowed]] is
    * the exchange-based cross-check; WinnowSpec proves row-set equality.
    */
  /** (doc_id, off, chunk, ni) chunk rows on the global stride grid, cut
    * via TWO extraction levels: L1 blocks of `64 · stride` chars (overlap
    * GuaranteeLen - 1, like the chunk grid itself), then chunks from the
    * BLOCK text. The chunk extraction substring is O(offset), so cutting
    * fine chunks straight from the document costs len²/(2·stride) in
    * extraction scans alone — the r10 probe measured the single-level
    * form at 210 s (vs 64 s for r9's 4 KB chunks) on 2.2M-char giants,
    * ~21 GB of scanning per giant at stride 114. Two levels:
    * len²/(2·64·stride) + len·64·stride/(2·stride) ≈ 400M char-ops per
    * giant. Output rows are identical to single-level cutting (the
    * (off, chunk) set depends only on the stride grid — WinnowSpec's
    * equality tests cover it through both formulations).
    */
  private def chunkRows(docs: DataFrame, chunkLen: Int): DataFrame = {
    val stride = chunkLen - (GuaranteeLen - 1)
    val b = 64 * stride
    val bl = b + GuaranteeLen - 1
    docs
      .where(length(col("text")) >= GuaranteeLen)
      .select(col("doc_id"), col("text"), length(col("text")).as("n"),
        explode(sequence(lit(0), length(col("text")) - GramLen, lit(b)))
          .as("boff"))
      // L1 barrier: block text materialized once per block row
      .select(col("doc_id"), col("boff"), col("n"),
        least(lit(64),
          floor((col("n") - GramLen - col("boff")) / stride).cast("int") + 1)
          .as("nj"),
        explode(array(col("text").substr(col("boff") + 1, lit(bl))))
          .as("btext"))
      .select(col("doc_id"), col("boff"), col("btext"), col("n"),
        explode(sequence(lit(0), (col("nj") - 1) * stride, lit(stride)))
          .as("joff"))
      // L2 barrier: chunk text from the BLOCK, once per chunk row
      .select(col("doc_id"), (col("boff") + col("joff")).as("off"),
        (least(lit(chunkLen), col("n") - col("boff") - col("joff"))
          - (GramLen - 1)).as("ni"),
        explode(array(col("btext").substr(col("joff") + 1, lit(chunkLen))))
          .as("chunk"))
  }

  private[graft] def selections(docs: DataFrame,
                                    chunkLen: Int = ChunkLen): DataFrame = {
    require(chunkLen >= GuaranteeLen && chunkLen <= PosMax,
      s"chunkLen must be in [$GuaranteeLen, $PosMax]")
    chunkRows(docs, chunkLen)
      // per-position selection keys, one md5 per position, as an array
      .select(col("doc_id"), col("off"), col("ni"),
        transform(sequence(lit(1), col("ni")), i =>
          pmod(h60(col("chunk").substr(i, lit(GramLen))), lit(HashMod))
            * PosCard + (lit(PosMax) - i)).as("ks"))
      // barrier: full-window ends only (ni < WinnowW → no rows; a
      // bare sequence(W, ni) would count DOWN there)
      .select(col("doc_id"), col("off"), col("ks"),
        explode(when(col("ni") >= WinnowW,
          sequence(lit(WinnowW), col("ni")))).as("i"))
      .select(col("doc_id"), col("off"), col("i"),
        array_min(slice(col("ks"), col("i") - (WinnowW - 1), lit(WinnowW)))
          .as("sk"))
  }

  /** [[selections]] re-based to document-global coordinates: gi = global
    * window-end gram position, gpos = global position of the selected
    * gram, fph = its 40-bit hash. Seam windows appear once per covering
    * chunk but with IDENTICAL (gi, gpos, fph) — distinct-grain consumers
    * collapse them for free.
    */
  private[graft] def globalSelections(docs: DataFrame,
                                          chunkLen: Int = ChunkLen): DataFrame =
    selections(docs, chunkLen).select(
      col("doc_id"),
      (col("off") + col("i")).as("gi"),
      (col("off") + lit(PosMax) - pmod(col("sk"), lit(PosCard))).as("gpos"),
      expr(s"sk div $PosCard").as("fph"))

  /** The fingerprint set: (doc_id, pos, fph) — distinct selected grams at
    * document-global 1-based positions with their 40-bit hashes.
    */
  def fingerprintsOf(docs: DataFrame, chunkLen: Int = ChunkLen): DataFrame =
    globalSelections(docs, chunkLen)
      .select(col("doc_id"), col("gpos").as("pos"), col("fph")).distinct()

  /** (doc_id, fph): each doc's distinct fingerprint hashes (two
    * selections of the same gram text at different positions — including
    * seam-window duplicates across chunks — collapse to one fph). Drops
    * the position field BEFORE the distinct so the hash-grain dedup is
    * ONE aggregation exchange ([[fingerprintsOf]] would pay a
    * (doc_id, pos, fph)-grain distinct first, then need a second).
    */
  def docFps(docs: DataFrame, chunkLen: Int = ChunkLen): DataFrame = {
    graft.Graft.init(docs.sparkSession) // graft_h60 on any caller session
    selections(docs, chunkLen)
      .select(col("doc_id"), expr(s"sk div $PosCard").as("fph")).distinct()
  }

  /** (fph, ds): one row per fingerprint hash with the SORTED ARRAY of
    * distinct doc ids carrying it — the bucket relation behind the pair
    * queries. Replaces (r13, guide §2.3/§2.4) the former three-exchange
    * chain `docFps` (distinct on (doc_id, fph)) → `count(*) OVER
    * (PARTITION BY fph)` (a full Exchange(fph) + Sort of the posting
    * mass through WindowExec) → fph self-join (pair mass through a
    * join): collect_set dedups doc ids inside the aggregation buffers
    * (map-side partial agg — the seam/position duplicates collapse
    * before the shuffle), the bucket size IS the window's nd count, and
    * consumers expand pairs positionally from the sorted array (for
    * i < j, ds(i) < ds(j) — row-for-row the old a.doc_id < b.doc_id join
    * predicate), so the self-join disappears entirely. Hot-fph safety is
    * unchanged: the window form moved the same per-fph mass into one
    * task's WindowExec buffer; the df-cap discipline (consumers filter
    * on size(ds)) is what actually bounds the bucket either way.
    */
  private def fpBuckets(docs: DataFrame): DataFrame = {
    graft.Graft.init(docs.sparkSession) // graft_h60 on any caller session
    selections(docs)
      .select(col("doc_id"), expr(s"sk div $PosCard").as("fph"))
      .groupBy("fph")
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
  }

  /** Positional pair expansion of a sorted-array bucket relation:
    * (doc_a, doc_b, n_shared) over all i < j pairs, doc_a < doc_b by the
    * sort, aggregated map-side-combined — no join, no distinct.
    */
  private def bucketPairs(buckets: DataFrame): DataFrame =
    buckets
      .select(posexplode(col("ds")).as(Seq("i", "doc_a")), col("ds"))
      .select(col("doc_a"),
        explode(slice(col("ds"), col("i") + lit(2),
          size(col("ds")) - col("i") - lit(1))).as("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))

  /** The frozen reference index a winnow ingestion gate probes: distinct
    * (ref_id, fph) fingerprint postings, with fingerprints in more than
    * [[FpDfCap]] distinct reference docs dropped (boilerplate — they carry
    * no per-doc provenance and would make hot fph buckets quadratic).
    */
  def referenceIndex(refDocs: DataFrame): DataFrame = {
    val fp = docFps(refDocs).select(col("doc_id").as("ref_id"), col("fph"))
    val wF = Window.partitionBy("fph")
    fp.withColumn("nd", count(lit(1)).over(wF))
      .where(col("nd") <= FpDfCap)
      .select("ref_id", "fph")
  }

  /** Docs in `docs` sharing at least `minShared` distinct winnowing
    * fingerprints WITH A SINGLE reference doc in `refIdx` (a
    * [[referenceIndex]] relation) — pair-grain containment, not corpus
    * membership: on a small-vocabulary corpus most individual grams exist
    * SOMEWHERE in any large reference, so per-pair shared counts are what
    * separate a genuine quote/copy from shared vocabulary (measured on the
    * fixture: background best-pair ~9-14 shared fingerprints, true
    * overlaps 70-115). Each doc's fingerprints depend only on its own
    * text, so a streaming gate applies this per micro-batch and matches
    * the batch answer exactly (StreamingSpec proves it). At 100 TB the
    * index is precomputed and fph-bucketed; the probe side joins on the
    * 8-byte key and the df cap bounds every bucket.
    */
  def winnowMatchesAgainst(docs: DataFrame, refIdx: DataFrame,
                           minShared: Long): DataFrame =
    docFps(docs)
      .join(refIdx, "fph")
      .groupBy("doc_id", "ref_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .select("doc_id").distinct()

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-doc fingerprint profile: windows examined (global grain — seam
    // windows counted once), fingerprints kept, density (theory:
    // ~2/(W+1) = 0.286 for random hashes; higher means internal
    // repetition pushes distinct minima apart).
    "wn_fingerprints" -> { (s, d) =>
      // n_windows is CLOSED-FORM: the chunk coverage guarantee means
      // every global window end in [WinnowW, n_grams] is selected
      // exactly once at the distinct-gi grain, so countDistinct(gi) ==
      // len - GuaranteeLen + 1 by construction (WinnowSpec's coverage
      // laws). Asserting the theory here while the ORACLE still counts
      // its DISTINCT gi turns the hash compare into a genuine coverage
      // cross-check — and drops the Expand x2 multi-distinct (the
      // remaining n_fp is a single-distinct two-phase agg; r10 floor
      // 3.09 s -> ~2.7 s under load-7 contention).
      // n_fp = count(DISTINCT (gpos, fph)) per doc as ONE doc_id-keyed
      // exchange (r13, guide §2.4): size(collect_set) dedups inside the
      // aggregation buffers — map-side, seam duplicates collapse before
      // the shuffle — where the former .distinct().groupBy paid an
      // Exchange on (doc_id, gpos, fph) AND a second on doc_id. The set
      // is per-doc and bounded by the doc's selected-gram count.
      val docs = documents(s, d).select("doc_id", "text")
      val nfp = globalSelections(docs)
        .groupBy("doc_id")
        .agg(size(collect_set(struct(col("gpos"), col("fph"))))
          .cast("long").as("n_fp"))
      docs.where(length(col("text")) >= GuaranteeLen)
        .select(col("doc_id"),
          (length(col("text")) - (GuaranteeLen - 1)).cast("long")
            .as("n_windows"))
        .join(nfp, "doc_id")
        .withColumn("density",
          round(col("n_fp").cast("double") / col("n_windows").cast("double"), 6))
        .select("doc_id", "n_windows", "n_fp", "density")
        .orderBy("doc_id")
    },

    // Doc pairs sharing winnowing fingerprints — the MOSS overlap report.
    // Counts DISTINCT shared fingerprint hashes per pair; fingerprints in
    // more than FpDfCap docs (boilerplate) leave before the join so no
    // fingerprint bucket goes quadratic. Any pair sharing a >=
    // GuaranteeLen-char run of non-boilerplate text appears.
    "wn_overlap_pairs" -> { (s, d) =>
      // Bucket form (r13): size(ds) IS the old window nd (distinct docs
      // per fph), the [2, FpDfCap] filter is the same band, and the
      // positional expansion emits exactly the old join's
      // a.doc_id < b.doc_id pairs — see [[fpBuckets]] for the two
      // exchanges and the self-join this removes.
      val buckets = fpBuckets(documents(s, d).select("doc_id", "text"))
        .where(size(col("ds")).between(2, FpDfCap.toInt))
      bucketPairs(buckets)
        .orderBy(desc("n_shared"), col("doc_a"), col("doc_b"))
        .limit(TopPairs)
    },

    // CONTAINMENT-normalized overlap: n_shared / min(|fp_a|, |fp_b|)
    // over the df-capped fingerprint universe. The raw pair count above
    // measures absolute shared mass, which SATURATES for very long
    // same-distribution docs (the r9 scale probe measured all three
    // 2.2M-char giants pairing at ~142k shared fingerprints regardless
    // of planted quotation — SCALEPROBE.md); containment is the
    // length-robust dial: a short doc quoted wholesale inside a giant
    // scores ~1.0 while two independent giants score near the
    // vocabulary background. Same bucketed join as wn_overlap_pairs plus
    // two doc-count-sized per-doc joins.
    "wn_containment" -> { (s, d) =>
      // Bucket form (r13) — same rewrite as wn_overlap_pairs (see
      // [[fpBuckets]]) with the containment-specific df band (nd <=
      // FpDfCap keeps singleton buckets: they contribute to nf but no
      // pairs, exactly as the old row filter did).
      // buckets feed BOTH the pair expansion AND the per-doc nf
      // aggregate (the r10 plan audit measured the selection pipeline
      // executing twice without the cache)
      val buckets = fpBuckets(documents(s, d).select("doc_id", "text"))
        .where(size(col("ds")) <= FpDfCap.toInt)
      fill(buckets, "Winnow.wn_containment/buckets")
      // nf = distinct df-capped fingerprints per doc: explode of the
      // capped buckets (posting mass bounded by FpDfCap per row)
      val nf = buckets.select(explode(col("ds")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("nf"))
      bucketPairs(buckets.where(size(col("ds")) >= 2))
        .join(nf.select(col("doc_id").as("doc_a"), col("nf").as("nf_a")), "doc_a")
        .join(nf.select(col("doc_id").as("doc_b"), col("nf").as("nf_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          round(col("n_shared").cast("double") /
            least(col("nf_a"), col("nf_b")).cast("double"), 6).as("containment"))
        .orderBy(desc("containment"), col("doc_a"), col("doc_b"))
        .limit(TopPairs)
    }
  )

  // -------------------------------------------------------------- oracles

  /** Shared CTEs: chunk offsets, per-position selection keys, full-window
    * minima, and global re-basing, mirroring [[selections]] /
    * [[globalSelections]] term for term. DuckDB generate_series is
    * end-inclusive with the same stride semantics as Spark sequence; both
    * window frames are ROWS-based over consecutive integer positions.
    */
  private def selCtes: String = {
    val stride = ChunkLen - (GuaranteeLen - 1)
    s"""c AS (SELECT doc_id, text,
       |    unnest(generate_series(0, length(text) - $GramLen, $stride)) AS off
       |  FROM documents WHERE length(text) >= $GuaranteeLen),
       |g AS (SELECT doc_id, off, text,
       |    unnest(generate_series(1,
       |      least($ChunkLen, length(text) - off) - ${GramLen - 1})) AS i
       |  FROM c),
       |sk AS (SELECT doc_id, off, i,
       |    (${h60Sql(s"substr(text, CAST(off + i AS INTEGER), $GramLen)")} % $HashMod)
       |      * $PosCard + ($PosMax - i) AS sk
       |  FROM g),
       |w AS (SELECT doc_id, off, i,
       |    min(sk) OVER (PARTITION BY doc_id, off ORDER BY i
       |      ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS skm
       |  FROM sk),
       |f AS (SELECT doc_id, off + i AS gi,
       |    off + ($PosMax - (skm % $PosCard)) AS gpos, skm // $PosCard AS fph
       |  FROM w WHERE i >= $WinnowW)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "wn_fingerprints" ->
      s"""WITH $selCtes
         |SELECT doc_id, count(DISTINCT gi) AS n_windows,
         |  count(DISTINCT (gpos, fph)) AS n_fp,
         |  round(CAST(count(DISTINCT (gpos, fph)) AS DOUBLE)
         |    / CAST(count(DISTINCT gi) AS DOUBLE), 6) AS density
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "wn_overlap_pairs" ->
      s"""WITH $selCtes,
         |fp AS (SELECT DISTINCT doc_id, fph FROM f),
         |fd AS (SELECT doc_id, fph FROM
         |  (SELECT doc_id, fph, count(*) OVER (PARTITION BY fph) AS nd FROM fp)
         |  WHERE nd BETWEEN 2 AND $FpDfCap)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |FROM fd a JOIN fd b ON a.fph = b.fph AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY n_shared DESC, doc_a, doc_b
         |LIMIT $TopPairs""".stripMargin,

    "wn_containment" ->
      s"""WITH $selCtes,
         |fp AS (SELECT DISTINCT doc_id, fph FROM f),
         |fd AS (SELECT doc_id, fph FROM
         |  (SELECT doc_id, fph, count(*) OVER (PARTITION BY fph) AS nd FROM fp)
         |  WHERE nd <= $FpDfCap),
         |nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM fd GROUP BY 1),
         |sh AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM fd a JOIN fd b ON a.fph = b.fph AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_shared,
         |  round(CAST(n_shared AS DOUBLE)
         |    / CAST(least(na.nf, nb.nf) AS DOUBLE), 6) AS containment
         |FROM sh JOIN nf na ON sh.doc_a = na.doc_id
         |  JOIN nf nb ON sh.doc_b = nb.doc_id
         |ORDER BY containment DESC, doc_a, doc_b
         |LIMIT $TopPairs""".stripMargin
  )
}
