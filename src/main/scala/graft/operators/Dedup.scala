package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft.{fill, persist}
import graft.Tables._
import TextHash._

/** Deduplication pack over the `documents` / `embeddings` fixtures — the
  * operators a large-scale training-data pipeline runs before anything else.
  * The reference has no dedup operators (SURVEY.md §2.5); these are the
  * north-star extensions, built Spark-first:
  *
  *   - exact:      hash-groupBy on the full text (one shuffle on md5(text)).
  *   - minhash:    per-row signature (pure map, no shuffle) -> band keys ->
  *                 explode(bands) -> equi-join on (band, key) -> distinct
  *                 candidate pairs -> verify by signature agreement. This is
  *                 the standard LSH shape that scales: candidate generation
  *                 touches only same-bucket rows, never the full cross join.
  *   - simhash:    60-bit fingerprint per row (pure map); near-dup pairs via
  *                 15-bit chunk banding + popcount(xor) Hamming verify.
  *   - ngram:      exact Jaccard via inverted shingle index (explode ->
  *                 equi-join on shingle hash -> count), no cross join.
  *   - embedding:  cosine near-dup pairs. Brute-force here (sf fixtures);
  *                 the LSH-bucketed scale path lives in Similarity.scala.
  *
  * All hashing is md5-derived (TextHash) so the DuckDB oracles reproduce
  * every value exactly. Ratios are int/int divisions in double — bit-exact
  * in both engines.
  */
object Dedup {

  // MinHash geometry: 32 permutations in 8 bands of 4 rows. With the
  // planted fixture dups at J~0.98, P(collision) ~ 1; at J=0.5 ~ 0.4.
  // ADOPTED from the measured (bands, rows) frontier — the oracled
  // `minhash_recall_frontier` rows are the recorded evidence (r11):
  // (8, 4) reaches recall 1.0 vs the exact J >= 0.5 truth at BOTH SFs
  // with near-perfect candidate precision (sf0.1: 257 candidates / 256
  // truth pairs = 0.996; sf0.01: 25/25 = 1.0), while the 2-row
  // geometries flood candidate generation for the same recall
  // ((16, 2): 2,280 candidates = 0.112 precision; (8, 2): 1,360 =
  // 0.188) and the strict geometries shed borderline-J truth
  // ((4, 8): recall 0.992; (2, 16): 0.836). (4, 4) also hits 256/256
  // at sf0.1 but with half the band margin against per-band unlucky
  // permutations at lower J — (8, 4) keeps the margin at equal hash
  // budget.
  private val NumHashes = 32
  private val Bands = 8
  private val Rows = NumHashes / Bands

  /** (bands, rows-per-band) operating points `minhash_recall_frontier`
    * measures, all reading PREFIXES of the one 32-component signature
    * relation (band b under (bands, rows) = components [b*rows,
    * (b+1)*rows)): the three 32-hash geometries around the default plus
    * the 16-hash halves and the strict 2x16 corner.
    */
  val MinhashFrontierGrid: Seq[(Int, Int)] =
    Seq((2, 16), (4, 4), (4, 8), (8, 2), (8, 4), (16, 2))

  /** Hamming radius defining a SimHash near-dup (both the production
    * `dedup_simhash_pairs` verify and the frontier's exact truth).
    */
  val SimhashHammingMax = 10

  /** (bands, bits-per-band) operating points `simhash_recall_frontier`
    * measures, every geometry a disjoint re-chunking of the SAME 60-bit
    * fingerprint (band k under (bands, bits) = bits [k*bits, (k+1)*bits)
    * — fingerprints computed once, never re-hashed). Pigeonhole gives a
    * STRUCTURAL recall floor: distance <= 10 can touch at most 10 bands,
    * so any geometry with > 10 bands has recall exactly 1.0; the
    * production default (4, 15) trades that guarantee for 32768-value
    * keys and a small candidate volume — and the oracled frontier
    * MEASURES what the trade costs at radius 10 (sf0.01 / sf0.1 agree):
    *
    *   (4,15) recall 0.26/0.25  cand 0.92x/0.86x of truth
    *   (5,12) recall 0.51/0.49  (6,10) recall 0.73/0.73
    *   (10,6) recall 0.9993/0.9995
    *   (12,5) recall 1.0 (structural)  cand 36x/34x of the (4,15) volume
    *   (20,3) recall 1.0 (structural)  cand 42x/40x
    *
    * Reading at scale: recall at d <= 10 over 60 bits REQUIRES > 10
    * bands, i.e. <= 5-bit keys — 32-value buckets whose size grows as
    * n/32, a quadratic candidate join at corpus scale. Wide 15-bit bands
    * are the shape that scales, and they are structurally complete only
    * for d <= bands-1 = 3 (the radius real SimHash deployments use —
    * Manku et al. WWW'07 run 64-bit fingerprints at k = 3). The pinned
    * `dedup_simhash_pairs` keeps (4,15) @ d <= 10 for oracle continuity
    * with this measured caveat; a 100 TB caller either tightens the
    * radius to 3 (recall becomes structural at (4,15)) or accepts the
    * 11-band pigeonhole index's bucket growth, which the frontier's
    * truth side implements losslessly.
    */
  val SimhashFrontierGrid: Seq[(Int, Int)] =
    Seq((4, 15), (5, 12), (6, 10), (10, 6), (12, 5), (20, 3))

  /** The 11 disjoint (shift, width) bands behind the frontier's EXACT
    * truth side: 5 six-bit + 6 five-bit bands cover all 60 bits, and 11
    * bands > SimhashHammingMax guarantees every qualifying pair collides
    * in at least one band — lossless candidate generation, then the
    * exact bit_count(xor) <= 10 verify. Truth without the all-pairs
    * product.
    */
  val SimhashTruthBands: Seq[(Int, Int)] = {
    val widths = Seq.fill(5)(6) ++ Seq.fill(6)(5)
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** Index of the FIRST band (under the given (shift, width) layout) where
    * two fingerprints agree, evaluated on their XOR. Banded candidate
    * generation emits a colliding pair once PER matching band — a pair at
    * Hamming 0 collides in all 11 truth bands — so the raw join output
    * needs a `distinct()` (a full shuffle + hash-agg over the duplicate-
    * multiplied candidate mass). Keeping only the row whose matched band
    * IS this index yields each pair exactly once from a codegen'd scalar
    * predicate instead: same result set, no distinct shuffle. At 100 TB
    * the distinct's shuffle grows with candidate multiplicity (x bands on
    * near-identical corpora); this filter is flat per candidate row.
    */
  private def firstZeroBand(xorv: Column, bands: Seq[(Int, Int)]): Column =
    bands.zipWithIndex.foldRight(lit(-1): Column) { case (((off, w), i), rest) =>
      when(shiftright(xorv, off).bitwiseAND(lit((1L << w) - 1)) === 0L, lit(i))
        .otherwise(rest)
    }
  // Permutation coefficients must be LARGE so a*h wraps around mod P —
  // small multipliers leave (a*h+b) monotone in h and every component
  // collapses to the set's global min-hash (caught by DedupSpec's exact-
  // Jaccard cross-check). Deterministic seed; embedded identically in the
  // DuckDB oracle. a*h < P^2 ~ 4.6e18 stays inside signed 64-bit.
  private val coefRng = new scala.util.Random(1234)
  private val aCoefs: Array[Long] =
    Array.fill(NumHashes)(1L + coefRng.nextLong(P - 1))
  private val bCoefs: Array[Long] =
    Array.fill(NumHashes)(coefRng.nextLong(P))
  private def aCoef(j: Int): Long = aCoefs(j)
  private def bCoef(j: Int): Long = bCoefs(j)

  /** doc_id + minhash signature columns s0..s31 + band keys k0..k7.
    *
    * Shape: explode shingles -> hash each ONCE -> one hash-aggregate with
    * 32 min() columns (partial/final two-phase, fully codegen'd). A
    * per-row array-HOF formulation looks shuffle-free but is a trap: Spark
    * evaluates lambda HOFs interpreted, and CollapseProject inlines the
    * md5 array into all 32 signature expressions — md5 per (shingle x
    * permutation), ~30x the work (measured: 4.3s -> ~1s at sf0.01 for the
    * pairs query after this rewrite). The explode shuffles only (doc_id,
    * 8-byte hash) pairs, map-side-combined before exchange.
    */
  private def signaturesFor(docs: DataFrame): DataFrame = {
    graft.Graft.init(docs.sparkSession) // graft_h60 on any caller session
    val exploded = shingleRows(docs)
      .select(col("doc_id"), (h60(col("sh")) % P).as("h"))
    val sigAggs = (0 until NumHashes).map { j =>
      min((col("h") * aCoef(j) + bCoef(j)) % P).as(s"s$j")
    }
    val withSigs = exploded.groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*)
    val bandCols = (0 until Bands).map { b =>
      concat_ws(",", (0 until Rows).map(r => col(s"s${b * Rows + r}")): _*).as(s"k$b")
    }
    withSigs.select((col("doc_id") +: (0 until NumHashes).map(j => col(s"s$j"))) ++ bandCols: _*)
  }

  /** SimHash: 60-bit fingerprint from token hashes (frequency-weighted ±1
    * per bit).
    *
    * Shape: explode tokens (md5 ONCE each), then ONE codegen'd two-phase
    * aggregation with 60 vote-sum columns (`sum(bit_j(h) ? 1 : -1)`), and
    * the fingerprint assembled as a per-row expression over the 60 sums.
    * Two earlier shapes were measured and rejected: the per-row HOF
    * formulation (aggregate inside transform(sequence(0,59))) ran
    * interpreted with CollapseProject re-inlining md5 per (token x bit) —
    * 366s at sf0.01; and an explode(0..59) cross shape shuffled 60x the
    * token rows (60M rows at sf0.1, ~10s) where this one shuffles the
    * 1M (doc_id, h) rows once, map-side combined.
    */
  private def simhashed(s: SparkSession, d: String): DataFrame = {
    val Bits = 60
    val th = documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .select(col("doc_id"), h60(col("tok")).as("h"))
    val voteAggs = (0 until Bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"v$j")
    }
    val fp = (0 until Bits)
      .map(j => when(col(s"v$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    th.groupBy("doc_id")
      .agg(voteAggs.head, voteAggs.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** Document-frequency cap for the capped n-gram query: shingles appearing
    * in more than this many documents are skipped during candidate
    * generation (boilerplate never identifies a near-dup pair anyway).
    */
  val NgramDfCap = 4L

  /** Minimum directional containment (either direction) for
    * `dedup_containment`.
    */
  val ContainmentMin = 0.8

  /** Exact-Jaccard thresholds for dedup_threshold_curve (min is the base
    * relation's cut; the rest are conditional arms).
    */
  val ThresholdLadder = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** Exact n-gram (3-shingle) Jaccard pairs >= `minJaccard` over a
    * (doc_id, text) corpus, via an inverted shingle index — no cross join:
    * only documents sharing a shingle ever meet, shuffled on the shingle
    * hash.
    *
    * `dfCap`: with `Some(c)`, shingles whose document frequency exceeds `c`
    * are dropped from CANDIDATE GENERATION only — the standard defense
    * against a corpus-frequent shingle whose posting list would explode
    * quadratically in the self-join. Intersection counts for surviving
    * candidates still use the full index, so reported jaccard values are
    * exact and the capped output is always a subset of the uncapped one
    * (a pair is only ever lost, never gained or re-scored).
    *
    * NOTE the inverted index is filled (it feeds the size aggregate and
    * both self-join sides); the caller releases it (Graft.releaseCaches).
    */
  def ngramJaccardPairs(docs: DataFrame, minJaccard: Double,
                        dfCap: Option[Long]): DataFrame = {
    val e = shingleIndex(docs)
    // the self-join's two exchange map stages (and on the capped path the
    // rare/df aggregate too)
    fill(e, "Dedup.ngramJaccardPairs/e")
    val n = e.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val inter = dfCap match {
      case None =>
        // candidate generation and intersection counting in ONE self-join
        e.as("a")
          .join(e.as("b"), col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("inter"))
      case Some(cap) =>
        // rare-shingle index for candidates; full index for exact counts
        val rare = e.groupBy("g").agg(count(lit(1)).as("df"))
          .where(col("df") <= cap).select("g")
        val idx = e.join(rare, Seq("g"), "left_semi")
        val cand = idx.as("a")
          .join(idx.as("b"), col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        cand
          .join(e.as("fa"), col("doc_a") === col("fa.doc_id"))
          .join(e.as("fb"),
            col("doc_b") === col("fb.doc_id") && col("fa.g") === col("fb.g"))
          .groupBy("doc_a", "doc_b")
          .agg(count(lit(1)).as("inter"))
    }
    inter
      .join(n.as("na"), col("doc_a") === col("na.doc_id"))
      .join(n.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("na.nsh") + col("nb.nsh") - col("inter")))
          .as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** The distinct (doc_id, g) inverted shingle index shared by the exact
    * Jaccard operators — one 60-bit hash per distinct 3-shingle per doc.
    * NOT persisted here: each caller decides (and owns the release).
    */
  def shingleIndex(docs: DataFrame): DataFrame = {
    graft.Graft.init(docs.sparkSession) // graft_h60 on any caller session
    shingleRows(docs)
      .select(col("doc_id"), h60(col("sh")).as("g"))
      .distinct()
  }

  /** The AllPairs prefix index over a (doc_id, g) shingle relation: one
    * (doc_id, nsh, g) row per shingle in each doc's prefix of the
    * |x| - ceil(num/den * |x|) + 1 RAREST shingles under the global
    * ascending (document frequency, hash) order. Any pair with Jaccard
    * >= num/den must collide inside both prefixes, and a corpus-hot
    * shingle sorts last so it lands in almost nobody's prefix — this is
    * the relation whose max bucket size stays bounded where the raw
    * index's explodes (DedupSpec's boilerplate adversary measures both).
    */
  def prefixRows(e: DataFrame, num: Int, den: Int): DataFrame =
    prefixRowsOf(prefixState(e), num, den)

  /** The per-doc AllPairs state behind [[prefixRows]]: one row per doc
    * with `nsh` and `ts`, the doc's distinct shingles as (df, g) structs
    * sorted ascending under the global (document frequency, hash) order —
    * ONE shuffle + per-doc sort, consumed by BOTH the prefix explode and
    * the array-verify (`ts.g` is the doc's full sorted shingle-hash
    * array, so candidate verification is a per-pair array intersection
    * against this relation instead of a corpus-sized double join).
    */
  def prefixState(e: DataFrame): DataFrame = {
    val dfs = e.groupBy("g").agg(count(lit(1)).as("df"))
    e.join(dfs, "g")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("g")))).as("ts"),
        count(lit(1)).as("nsh"))
  }

  /** Prefix explode of [[prefixState]]: each doc's |x| - ceil(t*|x|) + 1
    * rarest shingles (ceil via integer DIV).
    */
  private def prefixRowsOf(st: DataFrame, num: Int, den: Int): DataFrame =
    st.select(col("doc_id"), col("nsh"),
      explode(slice(col("ts"), lit(1),
        (col("nsh") - expr(s"(nsh * $num + ${den - 1}) DIV $den") + 1)
          .cast("int"))).as("pt"))
      .select(col("doc_id"), col("nsh"), col("pt.g").as("g"))

  /** Exact Jaccard pairs >= num/den via PREFIX FILTERING (the AllPairs /
    * PPJoin family: Bayardo et al. "Scaling Up All Pairs Similarity
    * Search", WWW'07; Xiao et al. PPJoin) — the LOSSLESS alternative to
    * the `dfCap` defense in [[ngramJaccardPairs]]: the df cap can MISS a
    * qualifying pair whose only shared shingles are corpus-hot; prefix
    * filtering provably never does, yet still dodges the hot-shingle
    * quadratic bucket.
    *
    * Order every doc's shingle set by ascending (document frequency,
    * hash) — one global total order — and index only each doc's PREFIX of
    * the |x| - ceil(t*|x|) + 1 RAREST shingles: any pair with Jaccard >= t
    * must collide inside both prefixes under a common order, so the
    * candidate equi-join touches only rare-shingle posting lists. A
    * boilerplate shingle shared by 10^5 docs sorts LAST and lands in
    * almost nobody's prefix — the mega-bucket never forms, and no pair is
    * lost (DedupSpec proves output equality with the uncapped inverted
    * index on the fixture AND on ScalaCheck-random corpora).
    *
    * Scale shape: df join + per-doc sort shuffle corpus-token-sized
    * (doc_id, hash, df) triples; the per-doc sorted state is bounded by
    * doc length; candidates are verified against FULL shingle sets through
    * the candidate-bounded join (cost ~ |candidates| x doc length, never
    * hot-token quadratic). Threshold is exact-rational (num/den) so the
    * keep predicate is pure integer arithmetic — no fp boundary cases.
    *
    * Since round 12 this is THE production exact-Jaccard path: every
    * `queries` entry (including the MinHash audit/frontier truth sides)
    * routes through it; the raw inverted-index self-join survives only as
    * `ngramJaccardPairs(..., dfCap = None)` for DedupSpec's equality
    * cross-checks.
    */
  def prefixJaccardPairs(docs: DataFrame, num: Int, den: Int): DataFrame = {
    graft.Graft.init(docs.sparkSession) // graft_h60 on any caller session
    val e = persist(shingleIndex(docs))
    val st = prefixState(e)
    // the verify's broadcast subtree (garr) and the probe side
    fill(st, "Dedup.prefixJaccardPairs/st")
    val pref = prefixRowsOf(st, num, den)
    // Candidate pairs: shared prefix shingle + the length filter
    // (J >= t forces min(|x|,|y|) >= t*max(|x|,|y|)).
    val cand = pref.as("a")
      .join(pref.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id") &&
          col("b.nsh") * den >= col("a.nsh") * num &&
          col("a.nsh") * den >= col("b.nsh") * num)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Verify against the full sorted shingle arrays already sitting in
    // the prefix state (ts.g — a codegen'd GetArrayStructFields, not a
    // lambda HOF): |A ∩ B| per candidate pair via one array
    // intersection, replacing the former candidate x doc-length row
    // expansion through two corpus-sized joins + a pair groupBy. The
    // doc-length relation rode along for free the same way (nsh is in
    // the state), dropping the separate n aggregation + two length
    // joins. Same integers, same division — bit-identical output.
    val garr = st.select(col("doc_id"), col("nsh"),
      col("ts").getField("g").as("ga"))
    cand
      .join(garr.as("fa"), col("doc_a") === col("fa.doc_id"))
      .join(garr.as("fb"), col("doc_b") === col("fb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("fa.ga"), col("fb.ga"))).cast("long")
          .as("inter"),
        col("fa.nsh").as("na"), col("fb.nsh").as("nb"))
      // keep predicate in exact integers; jaccard column rendered exactly
      // as in ngramJaccardPairs so the two operators are hash-comparable
      .where(col("inter") * den >= (col("na") + col("nb") - col("inter")) * num)
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
  }

  /** Directional-containment pairs (max(|A∩B|/|A|, |A∩B|/|B|) >=
    * [[ContainmentMin]]) with the candidate stage under the SAME lossless
    * prefix law as [[prefixJaccardPairs]]: if the overlap covers >=
    * ceil(4/5 * ns) of the smaller side s, it must intersect s's prefix
    * of the ns - ceil(4*ns/5) + 1 rarest shingles (else it would fit in
    * the ceil(4/5*ns) - 1 trailing ones). Unlike Jaccard there is NO
    * length filter — any doc can contain a much smaller one — so the
    * join is prefix x FULL index, run symmetrically (either side may be
    * the smaller). A hot shingle still never forms a prefix-side bucket:
    * only docs with nothing rarer carry it in their prefix, and such
    * all-boilerplate corpora have genuinely quadratic OUTPUT (every pair
    * really is a mutual containment) — the shape is output-bound, not
    * hot-key-bound. Verification computes exact intersections against
    * full shingle sets; the final predicate/columns are byte-identical
    * to [[containmentPairsRaw]], so DedupSpec's equality check and the
    * unchanged DuckDB oracle both hold row-for-row.
    */
  def containmentPairs(docs: DataFrame): DataFrame = {
    val e = shingleIndex(docs)
    // prefixState's df aggregate + join, the candidate join's full-index
    // side, both verify sides and the length aggregate all scan e
    fill(e, "Dedup.containmentPairs/e")
    // One filled per-doc sorted state feeds the prefix explode, the
    // full positional index AND the length relation (nsh) — the separate
    // n aggregate over e is gone with it.
    val st = prefixState(e)
    fill(st, "Dedup.containmentPairs/st")
    val n = st.select(col("doc_id"), col("nsh"))
    // POSITIONAL prefix × full-index candidate join (r13, the PPJoin
    // position filter on top of the r12 prefix law — Xiao et al., §2.5):
    // both sides carry each element's 0-based rank in the doc's sorted
    // (df, g) order. For the pair's FIRST shared shingle (positions
    // i, j 1-based) no overlap element sorts before it, so
    // inter <= 1 + min(na - i, nb - j) = min(na - pa, nb - pb) with the
    // 0-based pa/pb below; a qualifying pair (inter*5 >= 4*min(na,nb) —
    // the same exact rational as the prefix law) must pass the filter at
    // that first-shared emission, and the r12 law proves that emission
    // IS in the candidate join (the smaller side's earliest shared
    // shingle sits inside its prefix). Later emissions of the same pair
    // may be filtered — the pair already survived via the first, and
    // `distinct` collapsed the duplicates anyway. Candidates whose
    // positional upper bound cannot reach the threshold now drop inside
    // the join, before the distinct exchange and the verify expansion.
    val prefA = st.select(col("doc_id"), col("nsh"),
        posexplode(slice(col("ts"), lit(1),
          (col("nsh") - expr(s"(nsh * 4 + 4) DIV 5") + 1).cast("int")))
          .as(Seq("pa", "pt")))
      .select(col("doc_id"), col("nsh"), col("pa"), col("pt.g").as("g"))
    val fullB = st.select(col("doc_id").as("doc_idb"), col("nsh").as("nshb"),
        posexplode(col("ts")).as(Seq("pb", "pt")))
      .select(col("doc_idb"), col("nshb"), col("pb"), col("pt.g").as("gb"))
    val cand = prefA
      .join(fullB,
        col("g") === col("gb") && col("doc_id") =!= col("doc_idb") &&
          least(col("nsh") - col("pa"), col("nshb") - col("pb")) * 5 >=
            least(col("nsh"), col("nshb")) * 4)
      .select(least(col("doc_id"), col("doc_idb")).as("doc_a"),
        greatest(col("doc_id"), col("doc_idb")).as("doc_b"))
      .distinct()
    // verify by candidate x shingle expansion against the (persisted,
    // broadcastable) index — NOT the prefixJaccardPairs array-verify.
    // This is the shape behind the query's 1.75 s floor across twelve
    // full-run windows; an array-verify variant was tried in the r12
    // continuation and showed no win here (containment's prefix x
    // full-index candidate stage dominates, not the verify), so the
    // proven shape stays. The Jaccard family keeps the array-verify,
    // where the same mini-run A/B measured 1.3-2x wins family-wide.
    cand
      .join(e.as("fa"), col("doc_a") === col("fa.doc_id"))
      .join(e.as("fb"),
        col("doc_b") === col("fb.doc_id") && col("fa.g") === col("fb.g"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
      .join(n.as("na"), col("doc_a") === col("na.doc_id"))
      .join(n.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("inter").cast("double") / col("na.nsh")).as("cont_a_in_b"),
        (col("inter").cast("double") / col("nb.nsh")).as("cont_b_in_a"))
      .where(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= ContainmentMin)
  }

  /** The pre-r12 raw inverted-index containment join — the hot-shingle
    * self-join shape. Retained ONLY for DedupSpec's equality cross-check
    * against [[containmentPairs]]; not reachable from `queries`.
    */
  private[graft] def containmentPairsRaw(docs: DataFrame): DataFrame = {
    val e = persist(shingleIndex(docs))
    val n = e.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    e.as("a")
      .join(e.as("b"), col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(n.as("na"), col("doc_a") === col("na.doc_id"))
      .join(n.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("inter").cast("double") / col("na.nsh")).as("cont_a_in_b"),
        (col("inter").cast("double") / col("nb.nsh")).as("cont_b_in_a"))
      .where(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= ContainmentMin)
  }

  /** Smallest doc_id per identical text — the exact-dedup keep set, shared
    * by dedup_exact and the pipeline.
    */
  def exactKeepIds(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("doc_id"))
      .select("doc_id")

  def minhashPairs(s: SparkSession, d: String): DataFrame =
    minhashPairsFor(documents(s, d).select("doc_id", "text"))

  /** MinHash-LSH near-dup pairs (est. Jaccard >= 0.5) over any
    * (doc_id, text) DataFrame, unordered — the composable core reused by
    * the corpus-cleaning pipeline.
    */
  def minhashPairsFor(docs: DataFrame): DataFrame = {
    // sig feeds the band explode AND both verification join sides —
    // without the cache the md5+agg subtree runs 3x (at 100 TB this is a
    // checkpoint of the signature table); the verify joins' broadcast
    // builds race the candidate probe
    val sig = signaturesFor(docs)
    fill(sig, "Dedup.minhashPairsFor/sig")
    val bands = sig.select(col("doc_id"),
      posexplode(array((0 until Bands).map(b => col(s"k$b")): _*)).as(Seq("band", "key")))
    // A pair can collide in several bands -> distinct before verification.
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // Verify: fraction of agreeing signature components, read from the
    // persisted sig relation on both join sides.
    val matches = (0 until NumHashes)
      .map(j => when(col(s"sa.s$j") === col(s"sb.s$j"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (matches.cast("double") / NumHashes).as("est_jaccard"))
      .where(col("est_jaccard") >= 0.5)
  }

  /** Signature relation for an arbitrary (doc_id, text) corpus — the
    * precomputable reference-side index for [[minhashMatchesAgainst]]. At
    * real scale this is written out bucketed by band key once and reused
    * by every ingest run.
    */
  def signatureIndex(docs: DataFrame): DataFrame = signaturesFor(docs)

  /** Incoming doc_ids having at least one est-Jaccard >= 0.5 near-dup in
    * a STATIC reference signature relation ([[signatureIndex]] output) —
    * the cross-set face of [[minhashPairsFor]], and the core of the
    * streaming ingestion dedup gate (StreamingOps.nearDupIngest).
    * Candidate generation is the same band equi-join (never all-pairs);
    * with a micro-batch-sized incoming side the banded join broadcasts
    * the batch, not the reference corpus.
    */
  def minhashMatchesAgainst(incoming: DataFrame, refSigs: DataFrame): DataFrame = {
    val inSig = signaturesFor(incoming)
    // the banded candidate probe and the verify join's sa side
    fill(inSig, "Dedup.minhashMatchesAgainst/inSig")
    def bandsOf(sig: DataFrame) = sig.select(col("doc_id"),
      posexplode(array((0 until Bands).map(b => col(s"k$b")): _*)).as(Seq("band", "key")))
    val cand = bandsOf(inSig).as("x")
      .join(bandsOf(refSigs).as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .select(col("x.doc_id").as("doc_in"), col("y.doc_id").as("doc_ref"))
      .distinct()
    val matches = (0 until NumHashes)
      .map(j => when(col(s"sa.s$j") === col(s"sb.s$j"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(inSig.as("sa"), col("doc_in") === col("sa.doc_id"))
      .join(refSigs.as("sb"), col("doc_ref") === col("sb.doc_id"))
      .where((matches.cast("double") / NumHashes) >= 0.5)
      .select(col("doc_in").as("doc_id")).distinct()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: one row per distinct text, keeping the smallest doc_id.
    // The groupBy key is md5(text) — at scale you shuffle 16-byte digests,
    // not full documents. (exactKeepIds is the id-only composable form.)
    "dedup_exact" -> { (s, d) =>
      documents(s, d)
        .groupBy(md5(col("text")).as("text_md5"))
        .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_doc_id")
    },

    // MinHash-LSH near-dup candidate pairs with estimated Jaccard >= 0.5.
    "dedup_minhash_pairs" -> { (s, d) =>
      minhashPairs(s, d).orderBy("doc_a", "doc_b")
    },

    // Exact n-gram Jaccard >= 0.6 = 3/5, via LOSSLESS prefix filtering
    // (since r12: the raw inverted-index self-join carried the engine's
    // one unbounded hot-shingle bucket; prefix filtering returns the
    // identical rows — DedupSpec proves equality — with the hot bucket
    // structurally impossible).
    "dedup_ngram_jaccard" -> { (s, d) =>
      prefixJaccardPairs(documents(s, d).select("doc_id", "text"), 3, 5)
        .orderBy("doc_a", "doc_b")
    },

    // Same operator with the document-frequency cap engaged — the 100 TB
    // guard: a boilerplate shingle shared by 10^5 docs would otherwise
    // produce a 10^10-pair join bucket. Capped candidate generation skips
    // hot shingles; verification still uses FULL shingle sets, so every
    // reported jaccard is exact and the output is a subset of the uncapped
    // query (DedupSpec proves both).
    "dedup_ngram_jaccard_capped" -> { (s, d) =>
      ngramJaccardPairs(documents(s, d).select("doc_id", "text"), 0.6,
        dfCap = Some(NgramDfCap))
        .orderBy("doc_a", "doc_b")
    },

    // Directional CONTAINMENT on the same inverted index: |A∩B|/|A| — the
    // quote/excerpt/superset detector Jaccard is blind to (a 50-shingle
    // doc fully inside a 500-shingle doc has jaccard 0.1 but containment
    // 1.0). Emits both directions' exact fractions per canonical pair;
    // int/int divisions, so values hash-match the oracle bit-for-bit.
    // Since r12 the candidate stage rides the SAME lossless prefix law as
    // the Jaccard operators: max-containment >= 4/5 means the overlap
    // covers >= ceil(4/5 * nsh) of the SMALLER side, so it must intersect
    // that side's prefix of the nsh - ceil(4*nsh/5) + 1 rarest shingles —
    // candidates are prefix x FULL-index (the larger side needs no length
    // bound: a 50-shingle doc sits inside a 5000-shingle one), never the
    // raw hot-shingle self-join. DedupSpec proves row equality with the
    // raw form (kept as containmentPairsRaw for the cross-check only).
    "dedup_containment" -> { (s, d) =>
      containmentPairs(documents(s, d).select("doc_id", "text"))
        .orderBy("doc_a", "doc_b")
    },

    // Same exact-Jaccard contract through LOSSLESS prefix filtering: the
    // rarest |x|-ceil(0.6|x|)+1 shingles per doc (global df order) are the
    // only index entries, so hot boilerplate shingles never form a join
    // bucket yet no qualifying pair can be missed (unlike the df cap).
    "dedup_jaccard_prefix" -> { (s, d) =>
      prefixJaccardPairs(documents(s, d).select("doc_id", "text"), 3, 5)
        .orderBy("doc_a", "doc_b")
    },

    // Per-document SimHash fingerprint.
    "dedup_simhash" -> { (s, d) =>
      simhashed(s, d).orderBy("doc_id")
    },

    // SimHash near-dup pairs: band on 4x15-bit chunks, verify Hamming <= 10.
    // MEASURED recall at this radius: 0.26/0.25 (sf0.01/sf0.1) — see the
    // simhash_recall_frontier scaladoc at [[SimhashFrontierGrid]]: 4 bands
    // are structurally complete only to d <= 3 (the radius production
    // SimHash deployments use); full recall at d <= 10 needs > 10 bands,
    // whose <= 5-bit keys do not scale. Pinned geometry kept for oracle
    // continuity, caveat recorded where the constant lives.
    "dedup_simhash_pairs" -> { (s, d) =>
      val fp = simhashed(s, d)
      fill(fp, "Dedup.dedup_simhash_pairs/fp") // exact-size plan -> broadcast join
      val chunks = fp.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(k =>
          shiftright(col("simhash"), 15 * k).bitwiseAND(lit(32767L))): _*))
          .as(Seq("chunk_id", "chunk")))
      val xorv = col("x.simhash").bitwiseXOR(col("y.simhash"))
      chunks.as("x")
        .join(chunks.as("y"),
          col("x.chunk_id") === col("y.chunk_id") && col("x.chunk") === col("y.chunk") &&
            col("x.doc_id") < col("y.doc_id"))
        // hamming filter first (short-circuits the And for the ~97% of
        // candidates it kills), then [[firstZeroBand]] dedups in place of
        // the former distinct() — identical rows, no pair-mass shuffle
        .where(call_function("bit_count", xorv) <= SimhashHammingMax &&
          col("x.chunk_id") === firstZeroBand(xorv,
            (0 until 4).map(k => (15 * k, 15))))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          call_function("bit_count", xorv).as("hamming"))
        .orderBy("doc_a", "doc_b")
    },

    // The EXACT complement of dedup_simhash_pairs: every pair at Hamming
    // <= SimhashHammingMax, none missed — candidates from the 11-band
    // pigeonhole index ([[SimhashTruthBands]]: > HammingMax disjoint
    // bands, so a qualifying pair cannot differ in all of them), verified
    // by bit_count, deduped by [[firstZeroBand]]. The frontier's truth side
    // promoted to a first-class operator: the measured-recall (4,15)
    // query is the shape that scales (wide keys); THIS one is the
    // audit-grade variant whose <= 6-bit keys pay n/32-sized buckets for
    // structural recall 1.0 — the radius-vs-bandwidth trade documented at
    // [[SimhashFrontierGrid]], now available as a query on either side.
    "dedup_simhash_pairs_exact" -> { (s, d) =>
      // persist: beyond caching the agg, the InMemoryRelation gives the
      // planner an EXACT size for the keyed relation, so the banded
      // self-join plans as a broadcast-hash probe (codegen'd tight loop)
      // instead of a sort-merge join whose per-group nested loop pays
      // row-copy + comparator cost on every candidate it emits — the
      // frontier measured the same join 10x faster under broadcast-hash
      val fp = simhashed(s, d)
      fill(fp, "Dedup.dedup_simhash_pairs_exact/fp")
      val tkeyed = fp.select(col("doc_id"), col("simhash"),
        posexplode(array(SimhashTruthBands.map { case (off, w) =>
          shiftright(col("simhash"), off).bitwiseAND(lit((1L << w) - 1))
        }: _*)).as(Seq("band", "key")))
      val xorv = col("x.simhash").bitwiseXOR(col("y.simhash"))
      tkeyed.as("x")
        .join(tkeyed.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id"))
        // hamming filter first (kills ~97% of the 11-band candidate
        // volume), then [[firstZeroBand]] keeps each qualifying pair at
        // exactly one band — replaces the duplicate-multiplied distinct()
        // (a pair at hamming h collides in >= 11 - h truth bands, so the
        // old distinct shuffled up to 11x the qualifying pair mass)
        .where(call_function("bit_count", xorv) <= SimhashHammingMax &&
          col("x.band") === firstZeroBand(xorv, SimhashTruthBands))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          call_function("bit_count", xorv).as("hamming"))
        .orderBy("doc_a", "doc_b")
    },

    // Embedding cosine near-dup pairs via banded hyperplane LSH — the
    // 100 TB shape: candidate generation is an equi-join on (band, key)
    // exactly like minhash banding, never an all-pairs product (PlanSpec
    // locks the plan free of CartesianProduct/BroadcastNestedLoopJoin).
    // Recall < 1 by construction (borderline cos 0.4 pairs collide with
    // p ~ 0.94; near-dups with p ~ 1 — DedupSpec cross-checks against the
    // spec-only brute-force path); the oracle implements the identical
    // banding, so results still hash-match.
    "dedup_embedding_cosine" -> { (s, d) =>
      embeddingCosineLsh(s, d).orderBy("vec_a", "vec_b")
    },

    // The SIZED production path end-to-end: [[embeddingCosineLshSized]]
    // with band-key width DERIVED from the measured corpus size — the
    // geometry a 100 TB caller ships (the pinned query above keeps the
    // 4-bit fixture bands for oracle continuity; SCALEPROBE documents
    // their 40k-vector cliff). DuckDB-oracled at both SFs (r10 verdict
    // #2): sf0.01 derives 6-bit bands, sf0.1 derives 8-bit — widths no
    // pinned query exercises. Precision is structural either way (exact
    // cosine verify); the derived width only moves recall/candidate cost.
    "dedup_embedding_cosine_sized" -> { (s, d) =>
      val vecs = Similarity.base(s, d).select(col("vec_id"), col("e"))
      embeddingCosineLshSized(vecs, embeddings(s, d).count())
        .orderBy("vec_a", "vec_b")
    },

    // Segment-grain dedup WITH document reconstruction (the RefinedWeb /
    // CCNet "remove duplicated paragraphs, keep the remainder" move —
    // paragraph grain stands in as fixed 20-token segments on this flat
    // fixture). A segment occurrence survives iff it is the FIRST
    // occurrence of its content in global (doc_id, seg_idx) order; each
    // doc is rebuilt from its surviving segments. Unlike doc-level dedup
    // this salvages the unique remainder of partially-duplicated docs.
    "dedup_segment_rewrite" -> { (s, d) => segmentRewrite(s, d) },

    // BATCH face of the streaming near-dup ingestion gate
    // (StreamingOps.nearDupIngest): a deterministic md5 split carves the
    // corpus into a 90% reference slice and a 10% incoming batch; the
    // reference MinHash signature index is built once and every incoming
    // doc is checked against it through the same banded equi-join
    // (minhashMatchesAgainst). Emits the per-doc admission decision. At
    // scale the index is the precomputed artifact and the incoming batch
    // is the small broadcast side — the delta-dedup shape for continuous
    // corpus growth.
    "dedup_delta_gate" -> { (s, d) =>
      val docs = documents(s, d).select("doc_id", "text")
      val k = h60(concat(lit(DeltaSalt), col("doc_id").cast("string"))) % 10
      val incoming = docs.where(k === 0)
      val corpus = docs.where(k =!= 0)
      val dup = minhashMatchesAgainst(incoming, signatureIndex(corpus))
      incoming.select("doc_id")
        .join(dup.withColumn("m", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("m"), lit(false)).as("near_dup_of_corpus"))
        .orderBy("doc_id")
    },

    // Per-source segment-duplication profile over the same occurrence
    // relation: which sources contribute the duplicated-segment mass.
    "segment_dup_stats" -> { (s, d) =>
      val occ = segmentOccurrences(documents(s, d).select("doc_id", "text"))
      val first = occ.groupBy(col("k").as("fk"))
        .agg(min(struct(col("doc_id"), col("seg_idx"))).as("w"))
      occ.join(first, col("k") === col("fk"))
        .withColumn("dropped",
          struct(col("doc_id"), col("seg_idx")) =!= col("w"))
        .join(documents(s, d).select("doc_id", "source"), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_segs"),
          sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"))
        .withColumn("drop_rate",
          col("n_dropped").cast("double") / col("n_segs"))
        .orderBy("source")
    },

    // Threshold-sensitivity sweep for near-dedup: pair counts and
    // affected-document counts at a ladder of exact-Jaccard thresholds,
    // all derived from ONE inverted-index pair relation at the loosest
    // threshold (tighter arms are conditional counts — never a rescan).
    // Affected docs come distinct-free: collapse pairs to (doc,
    // max-jaccard) once, then each arm counts docs whose best pair
    // clears it. This is the curve that picks the production threshold —
    // how much the corpus shrinks as the definition of "duplicate"
    // loosens.
    "dedup_threshold_curve" -> { (s, d) =>
      // ThresholdLadder.min = 0.5 = 1/2 as the exact rational (r12: prefix
      // filtering replaces the uncapped inverted-index join, lossless).
      val p = prefixJaccardPairs(documents(s, d).select("doc_id", "text"),
        1, 2).localCheckpoint()
      val byDoc = p
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc"), col("jaccard"))
        .groupBy("doc").agg(max("jaccard").as("mj"))
      val pairArms = ThresholdLadder.zipWithIndex.map { case (t, i) =>
        sum(when(col("jaccard") >= t, 1L).otherwise(0L)).as(s"p_$i") }
      val docArms = ThresholdLadder.zipWithIndex.map { case (t, i) =>
        sum(when(col("mj") >= t, 1L).otherwise(0L)).as(s"d_$i") }
      val one = p.agg(pairArms.head, pairArms.tail: _*)
        .crossJoin(byDoc.agg(docArms.head, docArms.tail: _*))
      one.select(explode(array(ThresholdLadder.zipWithIndex.map { case (t, i) =>
          struct(lit(t).as("threshold"), col(s"p_$i").as("n_pairs"),
            col(s"d_$i").as("n_docs_affected")) }: _*)).as("r"))
        .select(col("r.threshold"), col("r.n_pairs"), col("r.n_docs_affected"))
        .orderBy("threshold")
    },

    // Which crawls duplicate each other: near-dup pairs cross-tabbed by
    // the (unordered) source pair of their two sides — the matrix that
    // decides which source to drop when two feeds overlap heavily, and
    // whether duplication is mostly WITHIN a source (self-cell) or across
    // feeds. Pair relation is the banded minhash output (checkpointed
    // once); the two source annotations are doc-keyed joins; the result
    // is at most |sources|²/2 rows.
    "dedup_rate_by_source_pair" -> { (s, d) =>
      val src = documents(s, d).select("doc_id", "source")
      val pairs = minhashPairs(s, d).select("doc_a", "doc_b").localCheckpoint()
      pairs
        .join(src.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(src.as("sb"), col("doc_b") === col("sb.doc_id"))
        .groupBy(least(col("sa.source"), col("sb.source")).as("source_x"),
          greatest(col("sa.source"), col("sb.source")).as("source_y"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_x", "source_y")
    },

    // Candidate-quality audit of the MinHash-LSH kernel: its est-Jaccard
    // >= 0.5 pairs scored against exact ground truth at the SAME threshold
    // (the lossless inverted-index Jaccard join). Reports candidate/truth/
    // true-positive counts plus precision and recall in one row — the
    // measurement that justifies (or indicts) the sketch parameters
    // (NumHashes/Bands/Rows) before a 100 TB run trusts them. Both sides
    // are existing banded/blocked kernels — the audit adds only a
    // pair-keyed full-outer join of two small pair relations.
    "minhash_recall_audit" -> { (s, d) =>
      val docs = documents(s, d).select("doc_id", "text")
      val cand = minhashPairsFor(docs)
        .select(col("doc_a"), col("doc_b"), lit(1).as("c"))
      val truth = prefixJaccardPairs(docs, 1, 2) // J >= 0.5 = 1/2, lossless
        .select(col("doc_a"), col("doc_b"), lit(1).as("t"))
      cand.join(truth, Seq("doc_a", "doc_b"), "full_outer")
        .agg(count(col("c")).as("n_candidates"),
          count(col("t")).as("n_truth"),
          sum(when(col("c").isNotNull && col("t").isNotNull, 1L)
            .otherwise(0L)).as("n_tp"))
        .select(col("n_candidates"), col("n_truth"), col("n_tp"),
          round(col("n_tp").cast("double") / col("n_candidates"), 6).as("precision"),
          round(col("n_tp").cast("double") / col("n_truth"), 6).as("recall"))
    },

    // The (bands, rows) FRONTIER behind that one-point audit: raw banded
    // candidate volume + precision/recall vs the same exact J >= 0.5
    // truth at six geometries, all derived from ONE 32-component
    // signature relation (band b under (bands, rows) reads components
    // [b*rows, (b+1)*rows), so every geometry is a prefix regrouping —
    // the signatures are computed once, never re-hashed). This is the
    // measurement that justifies the production default (8, 4): rows
    // control the candidate-volume/recall trade (P(band match) = J^rows),
    // bands buy recall back linearly in index size. The keyed explode is
    // sum(bands) rows per doc; candidate generation stays the banded
    // equi-join — never all-pairs — per geometry.
    "minhash_recall_frontier" -> { (s, d) =>
      val docs = documents(s, d).select("doc_id", "text")
      val sig = signaturesFor(docs)
      // the banded self-join reads keyed (and through it sig) via two
      // exchange map stages
      fill(sig, "Dedup.minhash_recall_frontier/sig")
      val keyed = sig.select(col("doc_id"), explode(array(
        MinhashFrontierGrid.zipWithIndex.flatMap { case ((bb, rr), gi) =>
          (0 until bb).map { b =>
            struct(lit(gi).as("g"), lit(b).as("band"),
              concat_ws(",",
                (b * rr until (b + 1) * rr).map(j => col(s"s$j")): _*).as("key"))
          }
        }: _*)).as("e"))
        .select(col("doc_id"), col("e.g").as("g"),
          col("e.band").as("band"), col("e.key").as("key"))
      val cand = keyed.as("x")
        .join(keyed.as("y"),
          col("x.g") === col("y.g") && col("x.band") === col("y.band") &&
            col("x.key") === col("y.key") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.g").as("g"),
          col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      // nc and tp are both broadcast-side aggregates of the final 6-row join
      fill(cand, "Dedup.minhash_recall_frontier/cand")
      // J >= 0.5 = 1/2 truth via lossless prefix filtering; checkpointed
      // because BOTH the semi-join and the 1-row count consume it.
      val truth = prefixJaccardPairs(docs, 1, 2)
        .select("doc_a", "doc_b").localCheckpoint()
      val nc = cand.groupBy("g").agg(count(lit(1)).as("n_candidates"))
      val tp = cand.join(truth, Seq("doc_a", "doc_b"), "left_semi")
        .groupBy("g").agg(count(lit(1)).as("n_tp"))
      val nt = truth.agg(count(lit(1)).as("n_truth"))
      val meta = s.range(1).select(explode(array(
        MinhashFrontierGrid.zipWithIndex.map { case ((bb, rr), gi) =>
          struct(lit(gi).as("g"), lit(bb).as("bands"),
            lit(rr).as("rows_per_band")) }: _*)).as("m"))
        .select(col("m.g").as("g"), col("m.bands").as("bands"),
          col("m.rows_per_band").as("rows_per_band"))
      meta.join(nc, Seq("g"), "left").join(tp, Seq("g"), "left")
        .crossJoin(nt) // 1-row aggregate — broadcast, not a data product
        .select(col("bands"), col("rows_per_band"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          col("n_truth"),
          coalesce(col("n_tp"), lit(0L)).as("n_tp"),
          // divide by the PRE-coalesce count: a candidate-free geometry
          // reports NULL precision (matching the oracle's NULLIF), never
          // a NaN that would diverge between engines
          round(coalesce(col("n_tp"), lit(0L)).cast("double") /
            col("n_candidates"), 6).as("precision"),
          round(coalesce(col("n_tp"), lit(0L)).cast("double") /
            col("n_truth"), 6).as("recall"))
        .orderBy("bands", "rows_per_band")
    },

    // The (bands, bits-per-band) frontier for SimHash banding — completes
    // the measured-recall discipline across all three candidate-generation
    // families (LSH: ann_recall_frontier, IVF: ann_ivf_recall_frontier,
    // MinHash: minhash_recall_frontier; SimHash was the last one whose
    // geometry was asserted, not measured). One fingerprint relation;
    // every geometry re-chunks the same 60 bits; candidates stay the
    // banded equi-join. Truth is EXACT (Hamming <= SimhashHammingMax) via
    // the 11-band pigeonhole index — lossless, never all-pairs.
    "simhash_recall_frontier" -> { (s, d) =>
      val fp = simhashed(s, d)
      // the banded join's probe/build sides; the exact cache size also
      // hardens the broadcast-hash plan choice the r12 persist was added for
      fill(fp, "Dedup.simhash_recall_frontier/fp")
      val xorv = col("x.simhash").bitwiseXOR(col("y.simhash"))
      // Distinct-candidate counts per geometry, WITHOUT materializing a
      // distinct pair relation: the banded equi-join emits a colliding
      // pair once per matching band, and [[firstZeroBand]] (dispatched on
      // g) keeps exactly one of those rows, so groupBy(g).count equals
      // the old cand.distinct() count. The former shape shuffled the
      // full 6-geometry candidate mass (the (12,5)/(20,3) arms alone are
      // 36-42x the (4,15) volume) through distinct + persist + semi-join;
      // this one streams it through a codegen'd filter into a partial agg.
      val keyed = fp.select(col("doc_id"), col("simhash"), explode(array(
        SimhashFrontierGrid.zipWithIndex.flatMap { case ((bb, w), gi) =>
          (0 until bb).map { b =>
            struct(lit(gi).as("g"), lit(b).as("band"),
              shiftright(col("simhash"), b * w)
                .bitwiseAND(lit((1L << w) - 1)).as("key"))
          }
        }: _*)).as("e"))
        .select(col("doc_id"), col("simhash"), col("e.g").as("g"),
          col("e.band").as("band"), col("e.key").as("key"))
      val firstForG = SimhashFrontierGrid.zipWithIndex
        .foldRight(lit(-1): Column) { case (((bb, w), gi), rest) =>
          when(col("x.g") === gi,
            firstZeroBand(xorv, (0 until bb).map(b => (b * w, w))))
            .otherwise(rest)
        }
      val nc = keyed.as("x")
        .join(keyed.as("y"),
          col("x.g") === col("y.g") && col("x.band") === col("y.band") &&
            col("x.key") === col("y.key") && col("x.doc_id") < col("y.doc_id"))
        .where(col("x.band") === firstForG)
        .select(col("x.g").as("g"))
        .groupBy("g").agg(count(lit(1)).as("n_candidates"))
      // Exact truth (hamming <= max) via the 11-band pigeonhole index,
      // first-match-filtered like dedup_simhash_pairs_exact; only the
      // pair's XOR survives — it determines collision in EVERY geometry.
      val tkeyed = fp.select(col("doc_id"), col("simhash"),
        posexplode(array(SimhashTruthBands.map { case (off, w) =>
          shiftright(col("simhash"), off).bitwiseAND(lit((1L << w) - 1))
        }: _*)).as(Seq("band", "key")))
      val truth = tkeyed.as("x")
        .join(tkeyed.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id"))
        .where(call_function("bit_count", xorv) <= SimhashHammingMax &&
          col("x.band") === firstZeroBand(xorv, SimhashTruthBands))
        .select(xorv.as("xorv"))
        .localCheckpoint() // consumed once; checkpoint keeps it tiny+warm
      // True positives per geometry, computed directly on the truth
      // pairs' XORs: a truth pair is a candidate of geometry g iff SOME
      // band of g reads zero — no semi-join against a candidate relation.
      val collides = SimhashFrontierGrid.map { case (bb, w) =>
        (0 until bb).map(b =>
          shiftright(col("xorv"), b * w)
            .bitwiseAND(lit((1L << w) - 1)) === 0L).reduce(_ || _)
      }
      val tpRow = truth.agg(count(lit(1)).as("n_truth"),
        collides.zipWithIndex.map { case (c, gi) =>
          sum(when(c, 1L).otherwise(0L)).as(s"tp$gi") }: _*)
      val tp = tpRow.select(col("n_truth"), explode(array(
        SimhashFrontierGrid.indices.map(gi =>
          struct(lit(gi).as("g"), col(s"tp$gi").as("n_tp"))): _*)).as("e"))
        .select(col("e.g").as("g"), col("e.n_tp").as("n_tp"), col("n_truth"))
      val meta = s.range(1).select(explode(array(
        SimhashFrontierGrid.zipWithIndex.map { case ((bb, w), gi) =>
          struct(lit(gi).as("g"), lit(bb).as("bands"),
            lit(w).as("bits_per_band")) }: _*)).as("m"))
        .select(col("m.g").as("g"), col("m.bands").as("bands"),
          col("m.bits_per_band").as("bits_per_band"))
      meta.join(nc, Seq("g"), "left").join(tp, Seq("g"), "left")
        .select(col("bands"), col("bits_per_band"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          col("n_truth"),
          coalesce(col("n_tp"), lit(0L)).as("n_tp"),
          round(coalesce(col("n_tp"), lit(0L)).cast("double") /
            col("n_candidates"), 6).as("precision"),
          round(coalesce(col("n_tp"), lit(0L)).cast("double") /
            col("n_truth"), 6).as("recall"))
        .orderBy("bands", "bits_per_band")
    }
  )

  /** Tokens-per-segment for the segment-grain dedup. */
  val SegLen = 20

  /** Salt for the deterministic corpus/incoming split of the delta gate. */
  private val DeltaSalt = "delta:"

  /** (doc_id, seg_idx, seg, k): one row per fixed-SegLen-token segment of
    * each document (last segment may be shorter), k = md5 of the segment
    * text. Explode-then-group shape, NOT a per-row array HOF: transform()
    * lambdas run interpreted and CollapseProject would inline the split()
    * into every segment slice (the trap measured in TextHash.shingleRows).
    * One shuffle on (doc_id, seg_idx); the md5 keys — never segment text —
    * are what downstream dup-detection shuffles.
    */
  def segmentOccurrences(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "tok")))
      .withColumn("seg_idx", floor(col("pos") / SegLen).cast("long"))
      .groupBy("doc_id", "seg_idx")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("seg"))
      .withColumn("k", md5(col("seg")))

  /** First-occurrence-wins segment dedup + per-doc reconstruction: emits
    * (doc_id, n_segs, n_kept, new_text). Dup decision shuffles only md5
    * keys; reconstruction re-groups the (already doc_id-partitioned)
    * survivors.
    */
  private def segmentRewrite(s: SparkSession, d: String): DataFrame =
    segmentRewriteFor(documents(s, d).select("doc_id", "text"))

  def segmentRewriteFor(docs: DataFrame): DataFrame = {
    val occ = segmentOccurrences(docs)
    // the keep-join's probe side, the first-occurrence aggregate and the
    // per-doc n_segs aggregate
    fill(occ, "Dedup.segmentRewriteFor/occ")
    val first = occ.groupBy(col("k").as("fk"))
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("w"))
    val kept = occ.join(first,
      col("k") === col("fk") && struct(col("doc_id"), col("seg_idx")) === col("w"))
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          x => x.getField("seg")), " ").as("new_text"))
    occ.groupBy("doc_id").agg(count(lit(1)).as("n_segs"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("new_text"), lit("")).as("new_text"))
      .orderBy("doc_id")
  }

  /** LSH-bucketed cosine near-dup pairs (cos >= `CosThreshold`, 6-dp
    * rounded). The base scan+map subtree is consumed three times (band
    * explode + both verify sides), so it is persisted like
    * `minhashPairsFor`'s signature relation and filled through the
    * banded relation below.
    */
  private val CosThreshold = 0.4
  private def embeddingCosineLsh(s: SparkSession, d: String): DataFrame =
    embeddingCosineLshOn(Similarity.base(s, d).select(col("vec_id"), col("e")))

  /** Banded-LSH cosine near-dup over ANY (vec_id, e) relation with an
    * EXPLICIT band geometry — the 100 TB entry point behind the fixture
    * query. The verify join re-checks every candidate with the exact
    * cosine, so geometry affects only RECALL and candidate cost, never
    * precision; planesPerBand must grow with log2(N) to keep per-bucket
    * candidates flat (the r9 scale probe measured the fixture's 4-bit
    * keys at 40k vectors: ~50M candidate pairs, 6.1 GB shuffle, 170 s —
    * vs single-digit seconds with log2-sized keys; SCALEPROBE.md).
    */
  /** [[embeddingCosineLshOn]] with the band-key width DERIVED from a
    * corpus-size hint via the measured log2 occupancy rule
    * (Similarity.planesForCorpus) — at 40k vectors this yields the 13-bit
    * keys the r9 scale probe measured at 22.5 MB candidate shuffle vs the
    * fixture geometry's 6.1 GB (SCALEPROBE.md). Precision is structural
    * either way (exact-cosine verify join); the hint only moves
    * recall/cost. DedupSpec locks hint-derived == explicit geometry.
    */
  def embeddingCosineLshSized(vecs: DataFrame, n: Long,
                              threshold: Double = CosThreshold,
                              bands: Int = Similarity.PairBands): DataFrame =
    embeddingCosineLshOn(vecs, threshold, bands,
      Similarity.planesForCorpus(n))

  def embeddingCosineLshOn(vecs: DataFrame,
                           threshold: Double = CosThreshold,
                           bands: Int = Similarity.PairBands,
                           planesPerBand: Int = Similarity.PairPlanesPerBand)
      : DataFrame = {
    require(planesPerBand >= 1 && planesPerBand <= 62,
      s"planesPerBand must be in [1, 62] (Long key bits), got $planesPerBand")
    graft.Graft.init(vecs.sparkSession) // graft_lsh_band_keys on any session
    val base = persist(vecs.select(col("vec_id"), col("e"))
      .withColumn("nrm", sqrt(TextHash.dot(col("e"), col("e")))))
    // graft_lsh_band_keys: the former per-band unrolled sign projection
    // generated 17,968 B (16x4) / 28,170 B (16x8 sized) methods — past
    // the JIT window, Volcano fallback (BytecodeAudit, cachedPlan
    // descent). The loop kernel emits the identical keys from ~1 KB.
    val banded = base.select(col("vec_id"),
      posexplode(call_function("graft_lsh_band_keys",
        col("e"), lit(bands), lit(planesPerBand)))
        .as(Seq("band", "key")))
    // both sides of the self-join below read this — uncached, each side
    // re-runs the bands × hyperplanes × dim projection (filling it also
    // fills the base norms)
    fill(banded, "Dedup.embeddingCosineLshOn/banded")
    // A pair can collide in several bands -> distinct before verification.
    val cand = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(base.as("a"), col("vec_a") === col("a.vec_id"))
      .join(base.as("b"), col("vec_b") === col("b.vec_id"))
      .select(col("vec_a"), col("vec_b"),
        round(TextHash.dot(col("a.e"), col("b.e")) / (col("a.nrm") * col("b.nrm")), 6)
          .as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Spec-only brute-force recall baseline for [[embeddingCosineLsh]] —
    * deliberately NOT in `queries`: the all-pairs join is the scale-killer
    * shape (r1 verdict), kept only to measure LSH recall at fixture scale.
    */
  private[graft] def embeddingCosineBrute(s: SparkSession, d: String): DataFrame = {
    val base = Similarity.base(s, d)
    base.as("a")
      .join(base.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(dot(col("a.e"), col("b.e")) / (col("a.nrm") * col("b.nrm")), 6)
          .as("cos"))
      .where(col("cos") >= CosThreshold)
  }

  // ---------------------------------------------------------------- oracles

  /** CTE list (no WITH keyword) building `sig` from `src`, a relation with
    * (doc_id, text) — composable into larger WITH chains.
    */
  private[operators] def sigCtes(src: String, sfx: String = ""): String = {
    val sigCols = (0 until NumHashes)
      .map(j => s"list_min(list_transform(h, v -> (v*${aCoef(j)}+${bCoef(j)}) % $P)) AS s$j")
      .mkString(", ")
    s"""tok$sfx AS (SELECT doc_id, ${toksSql("text")} AS t FROM $src),
       |sh$sfx AS (SELECT doc_id, ${shingles3Sql("t")} AS s FROM tok$sfx),
       |hs$sfx AS (SELECT doc_id, list_transform(s, x -> ${h60Sql("x")} % $P) AS h FROM sh$sfx
       |       WHERE len(s) > 0),
       |sig$sfx AS (SELECT doc_id, $sigCols FROM hs$sfx)""".stripMargin
  }

  /** OR-of-bands equality between signature rows aliased a and b. */
  private def bandEqSql: String =
    (0 until Bands).map { b =>
      "(" + (0 until Rows).map(r => s"a.s${b * Rows + r} = b.s${b * Rows + r}")
        .mkString(" AND ") + ")"
    }.mkString(" OR ")

  /** Signature-agreement count between rows aliased a and b. */
  private def sigAgreeSql: String =
    (0 until NumHashes)
      .map(j => s"CASE WHEN a.s$j = b.s$j THEN 1 ELSE 0 END").mkString(" + ")

  private[operators] def sigSqlCte: String = "WITH " + sigCtes("documents")

  /** SELECT producing (doc_a, doc_b, est_jaccard) pairs; requires
    * [[sigSqlCte]] in scope.
    */
  private[operators] def minhashPairsSqlSelect: String =
    s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST($sigAgreeSql AS DOUBLE) / $NumHashes AS est_jaccard
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandEqSql)
       |WHERE CAST($sigAgreeSql AS DOUBLE) / $NumHashes >= 0.5""".stripMargin

  private def simhashSqlCte: String =
    s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS t FROM documents),
       |th AS (SELECT doc_id, list_transform(t, x -> ${h60Sql("x")}) AS th FROM tok
       |       WHERE len(t) > 0),
       |sums AS (SELECT doc_id, list_transform(range(0, 60), j ->
       |  list_sum(list_transform(th, v -> CASE WHEN (v >> j) & 1 = 1 THEN 1 ELSE -1 END))) AS sm
       |  FROM th),
       |fp AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), j ->
       |  CASE WHEN sm[j+1] >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
       |  FROM sums)""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_doc_id""".stripMargin,

    "dedup_minhash_pairs" ->
      s"""$sigSqlCte
         |$minhashPairsSqlSelect
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS t FROM documents),
         |sh AS (SELECT doc_id, ${shingles3Sql("t")} AS s FROM tok),
         |e AS (SELECT doc_id, unnest(list_distinct(list_transform(s, x -> ${h60Sql("x")}))) AS g FROM sh),
         |n AS (SELECT doc_id, count(*) AS nsh FROM e GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  CAST(inter AS DOUBLE) / (x.nsh + y.nsh - inter) AS jaccard
         |FROM p JOIN n x ON doc_a = x.doc_id JOIN n y ON doc_b = y.doc_id
         |WHERE CAST(inter AS DOUBLE) / (x.nsh + y.nsh - inter) >= 0.6
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_containment" ->
      s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS t FROM documents),
         |sh AS (SELECT doc_id, ${shingles3Sql("t")} AS s FROM tok),
         |e AS (SELECT doc_id, unnest(list_distinct(list_transform(s, x -> ${h60Sql("x")}))) AS g FROM sh),
         |n AS (SELECT doc_id, count(*) AS nsh FROM e GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b, inter,
         |  CAST(inter AS DOUBLE) / x.nsh AS cont_a_in_b,
         |  CAST(inter AS DOUBLE) / y.nsh AS cont_b_in_a
         |FROM p JOIN n x ON doc_a = x.doc_id JOIN n y ON doc_b = y.doc_id
         |WHERE greatest(CAST(inter AS DOUBLE) / x.nsh,
         |               CAST(inter AS DOUBLE) / y.nsh) >= ${ContainmentMin}
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Prefix filtering is lossless, so the oracle is the plain brute-force
    // inverted index — same relation as dedup_ngram_jaccard, with the keep
    // predicate in the same exact integer arithmetic as the operator.
    "dedup_jaccard_prefix" ->
      s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS t FROM documents),
         |sh AS (SELECT doc_id, ${shingles3Sql("t")} AS s FROM tok),
         |e AS (SELECT doc_id, unnest(list_distinct(list_transform(s, x -> ${h60Sql("x")}))) AS g FROM sh),
         |n AS (SELECT doc_id, count(*) AS nsh FROM e GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  CAST(inter AS DOUBLE) / (x.nsh + y.nsh - inter) AS jaccard
         |FROM p JOIN n x ON doc_a = x.doc_id JOIN n y ON doc_b = y.doc_id
         |WHERE inter * 5 >= (x.nsh + y.nsh - inter) * 3
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_ngram_jaccard_capped" ->
      s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS t FROM documents),
         |sh AS (SELECT doc_id, ${shingles3Sql("t")} AS s FROM tok),
         |e AS (SELECT doc_id, unnest(list_distinct(list_transform(s, x -> ${h60Sql("x")}))) AS g FROM sh),
         |n AS (SELECT doc_id, count(*) AS nsh FROM e GROUP BY doc_id),
         |rare AS (SELECT g FROM (SELECT g, count(*) AS df FROM e GROUP BY g) WHERE df <= $NgramDfCap),
         |idx AS (SELECT doc_id, g FROM e WHERE g IN (SELECT g FROM rare)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM idx a JOIN idx b ON a.g = b.g AND a.doc_id < b.doc_id),
         |p AS (SELECT doc_a, doc_b, count(*) AS inter FROM cand
         |      JOIN e fa ON fa.doc_id = doc_a
         |      JOIN e fb ON fb.doc_id = doc_b AND fb.g = fa.g
         |      GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  CAST(inter AS DOUBLE) / (x.nsh + y.nsh - inter) AS jaccard
         |FROM p JOIN n x ON doc_a = x.doc_id JOIN n y ON doc_b = y.doc_id
         |WHERE CAST(inter AS DOUBLE) / (x.nsh + y.nsh - inter) >= 0.6
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_simhash" ->
      s"""$simhashSqlCte
         |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin,

    "dedup_simhash_pairs" -> {
      val chunkEq = (0 until 4)
        .map(k => s"((a.simhash >> ${15 * k}) & 32767) = ((b.simhash >> ${15 * k}) & 32767)")
        .mkString(" OR ")
      s"""$simhashSqlCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id AND ($chunkEq)
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 10
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "dedup_embedding_cosine" -> {
      val keyCols = (0 until Similarity.PairBands)
        .map(b => s"${Similarity.pairBandKeySql("e", b)} AS k$b").mkString(",\n  ")
      val bandEq = (0 until Similarity.PairBands)
        .map(b => s"ka.k$b = kb.k$b").mkString(" OR ")
      s"""WITH base AS (SELECT vec_id, embedding AS e,
         |  sqrt(${dotSql("embedding", "embedding", 64)}) AS nrm FROM embeddings),
         |keys AS (SELECT vec_id,
         |  $keyCols
         |  FROM base)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(${dotSql("a.e", "b.e", 64)} / (a.nrm * b.nrm), 6) AS cos
         |FROM keys ka JOIN keys kb ON ka.vec_id < kb.vec_id AND ($bandEq)
         | JOIN base a ON a.vec_id = ka.vec_id
         | JOIN base b ON b.vec_id = kb.vec_id
         |WHERE round(${dotSql("a.e", "b.e", 64)} / (a.nrm * b.nrm), 6) >= $CosThreshold
         |ORDER BY vec_a, vec_b""".stripMargin
    },

    "dedup_embedding_cosine_sized" -> {
      val flat = Similarity.pairPlanesFor(Similarity.PairBands,
        Similarity.OraclePlanesCap)
      s"""WITH ${Similarity.sizedPbCteSql},
         |pl AS (SELECT ${Similarity.planesSqlLit(flat)} AS p),
         |base AS (SELECT vec_id, embedding AS e,
         |  sqrt(${dotSql("embedding", "embedding", 64)}) AS nrm FROM embeddings),
         |bk AS (SELECT vec_id, t.b AS band,
         |  ${Similarity.sizedKeySql("e", "CAST(t.b AS INTEGER) * par.pb", "par.pb")} AS key
         |  FROM base, par, pl,
         |    (SELECT unnest(range(0, ${Similarity.PairBands})) AS b) t),
         |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
         |  FROM bk x JOIN bk y
         |    ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id)
         |SELECT vec_a, vec_b,
         |  round(${dotSql("a.e", "b.e", 64)} / (a.nrm * b.nrm), 6) AS cos
         |FROM cand JOIN base a ON vec_a = a.vec_id
         |  JOIN base b ON vec_b = b.vec_id
         |WHERE round(${dotSql("a.e", "b.e", 64)} / (a.nrm * b.nrm), 6) >= $CosThreshold
         |ORDER BY vec_a, vec_b""".stripMargin
    },

    "dedup_segment_rewrite" ->
      s"""$segSqlCte
         |reb AS (SELECT doc_id, count(*) AS n_kept,
         |          string_agg(seg, ' ' ORDER BY seg_idx) AS new_text
         |        FROM num WHERE rn = 1 GROUP BY doc_id),
         |tot AS (SELECT doc_id, count(*) AS n_segs FROM seg GROUP BY doc_id)
         |SELECT t.doc_id, t.n_segs,
         |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(r.new_text, '') AS new_text
         |FROM tot t LEFT JOIN reb r USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "segment_dup_stats" ->
      s"""$segSqlCte
         |x AS (SELECT * FROM num)
         |SELECT d.source, count(*) AS n_segs,
         |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         |    AS drop_rate
         |FROM x JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "dedup_delta_gate" -> {
      val splitK =
        s"${h60Sql(s"'$DeltaSalt' || CAST(doc_id AS VARCHAR)")} % 10"
      s"""WITH inc AS (SELECT doc_id, text FROM documents WHERE $splitK = 0),
         |cor AS (SELECT doc_id, text FROM documents WHERE $splitK != 0),
         |${sigCtes("inc", "_i")},
         |${sigCtes("cor", "_r")},
         |m AS (SELECT DISTINCT a.doc_id
         |      FROM sig_i a JOIN sig_r b ON ($bandEqSql)
         |      WHERE CAST($sigAgreeSql AS DOUBLE) / $NumHashes >= 0.5)
         |SELECT i.doc_id, (m.doc_id IS NOT NULL) AS near_dup_of_corpus
         |FROM inc i LEFT JOIN m ON i.doc_id = m.doc_id
         |ORDER BY i.doc_id""".stripMargin
    },

    "dedup_threshold_curve" -> {
      val arms = Dedup.ThresholdLadder.map(t =>
        s"""SELECT CAST($t AS DOUBLE) AS threshold,
           |  (SELECT CAST(count(*) AS BIGINT) FROM pr WHERE jaccard >= $t)
           |    AS n_pairs,
           |  (SELECT CAST(count(*) AS BIGINT) FROM bd WHERE mj >= $t)
           |    AS n_docs_affected""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS t FROM documents),
         |sh AS (SELECT doc_id, ${shingles3Sql("t")} AS s FROM tok),
         |e AS (SELECT doc_id, unnest(list_distinct(list_transform(s, x -> ${h60Sql("x")}))) AS g FROM sh),
         |n AS (SELECT doc_id, count(*) AS nsh FROM e GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |pr AS (SELECT doc_a, doc_b,
         |    CAST(inter AS DOUBLE) / (x.nsh + y.nsh - inter) AS jaccard
         |  FROM p JOIN n x ON doc_a = x.doc_id JOIN n y ON doc_b = y.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (x.nsh + y.nsh - inter)
         |    >= ${Dedup.ThresholdLadder.min}),
         |bd AS (SELECT doc, max(jaccard) AS mj FROM (
         |    SELECT doc_a AS doc, jaccard FROM pr
         |    UNION ALL SELECT doc_b, jaccard FROM pr) GROUP BY doc)
         |SELECT * FROM ($arms) ORDER BY threshold""".stripMargin
    },

    "dedup_rate_by_source_pair" ->
      s"""$sigSqlCte,
         |mh AS ($minhashPairsSqlSelect)
         |SELECT least(sa.source, sb.source) AS source_x,
         |  greatest(sa.source, sb.source) AS source_y,
         |  count(*) AS n_pairs
         |FROM mh JOIN documents sa ON mh.doc_a = sa.doc_id
         |  JOIN documents sb ON mh.doc_b = sb.doc_id
         |GROUP BY 1, 2 ORDER BY source_x, source_y""".stripMargin,

    "minhash_recall_audit" ->
      s"""$sigSqlCte,
         |mh AS ($minhashPairsSqlSelect),
         |e2 AS (SELECT doc_id,
         |    unnest(list_distinct(list_transform(${shingles3Sql("t")},
         |      x -> ${h60Sql("x")}))) AS g
         |  FROM tok),
         |n2 AS (SELECT doc_id, count(*) AS nsh FROM e2 GROUP BY doc_id),
         |p2 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |      FROM e2 a JOIN e2 b ON a.g = b.g AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |tr AS (SELECT doc_a, doc_b
         |  FROM p2 JOIN n2 x ON doc_a = x.doc_id JOIN n2 y ON doc_b = y.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (x.nsh + y.nsh - inter) >= 0.5),
         |j AS (SELECT (mh.doc_a IS NOT NULL) AS c, (tr.doc_a IS NOT NULL) AS t
         |  FROM mh FULL OUTER JOIN tr
         |    ON mh.doc_a = tr.doc_a AND mh.doc_b = tr.doc_b)
         |SELECT CAST(sum(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
         |  CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
         |  CAST(sum(CASE WHEN c AND t THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
         |  round(CAST(sum(CASE WHEN c AND t THEN 1 ELSE 0 END) AS DOUBLE) /
         |    sum(CASE WHEN c THEN 1 ELSE 0 END), 6) AS precision,
         |  round(CAST(sum(CASE WHEN c AND t THEN 1 ELSE 0 END) AS DOUBLE) /
         |    sum(CASE WHEN t THEN 1 ELSE 0 END), 6) AS recall
         |FROM j""".stripMargin,

    "minhash_recall_frontier" -> {
      def bandEqFor(bb: Int, rr: Int): String =
        (0 until bb).map { b =>
          "(" + (0 until rr).map(r => s"a.s${b * rr + r} = b.s${b * rr + r}")
            .mkString(" AND ") + ")"
        }.mkString(" OR ")
      val candCtes = MinhashFrontierGrid.zipWithIndex.map { case ((bb, rr), gi) =>
        s"""c$gi AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (${bandEqFor(bb, rr)}))""".stripMargin
      }.mkString(",\n")
      val arms = MinhashFrontierGrid.zipWithIndex.map { case ((bb, rr), gi) =>
        s"""SELECT $bb AS bands, $rr AS rows_per_band,
           |  (SELECT count(*) FROM c$gi) AS n_candidates,
           |  (SELECT count(*) FROM tr) AS n_truth,
           |  (SELECT count(*) FROM c$gi JOIN tr USING (doc_a, doc_b)) AS n_tp,
           |  round(CAST((SELECT count(*) FROM c$gi JOIN tr USING (doc_a, doc_b)) AS DOUBLE)
           |    / NULLIF((SELECT count(*) FROM c$gi), 0), 6) AS precision,
           |  round(CAST((SELECT count(*) FROM c$gi JOIN tr USING (doc_a, doc_b)) AS DOUBLE)
           |    / (SELECT count(*) FROM tr), 6) AS recall""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$sigSqlCte,
         |e2 AS (SELECT doc_id,
         |    unnest(list_distinct(list_transform(${shingles3Sql("t")},
         |      x -> ${h60Sql("x")}))) AS g
         |  FROM tok),
         |n2 AS (SELECT doc_id, count(*) AS nsh FROM e2 GROUP BY doc_id),
         |p2 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |      FROM e2 a JOIN e2 b ON a.g = b.g AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |tr AS (SELECT doc_a, doc_b
         |  FROM p2 JOIN n2 x ON doc_a = x.doc_id JOIN n2 y ON doc_b = y.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (x.nsh + y.nsh - inter) >= 0.5),
         |$candCtes
         |SELECT * FROM ($arms)
         |ORDER BY bands, rows_per_band""".stripMargin
    },

    "dedup_simhash_pairs_exact" -> {
      val exTruthEq = SimhashTruthBands.map { case (off, w) =>
        val m = (1L << w) - 1
        s"((a.simhash >> $off) & $m) = ((b.simhash >> $off) & $m)"
      }.mkString(" OR ")
      s"""$simhashSqlCte
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id AND ($exTruthEq)
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimhashHammingMax
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "simhash_recall_frontier" -> {
      def bandEqFor(bb: Int, w: Int): String =
        (0 until bb).map { b =>
          val m = (1L << w) - 1
          s"((a.simhash >> ${b * w}) & $m) = ((b.simhash >> ${b * w}) & $m)"
        }.mkString(" OR ")
      val truthEq = SimhashTruthBands.map { case (off, w) =>
        val m = (1L << w) - 1
        s"((a.simhash >> $off) & $m) = ((b.simhash >> $off) & $m)"
      }.mkString(" OR ")
      val candCtes = SimhashFrontierGrid.zipWithIndex.map { case ((bb, w), gi) =>
        s"""c$gi AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id AND (${bandEqFor(bb, w)}))""".stripMargin
      }.mkString(",\n")
      val arms = SimhashFrontierGrid.zipWithIndex.map { case ((bb, w), gi) =>
        s"""SELECT $bb AS bands, $w AS bits_per_band,
           |  (SELECT count(*) FROM c$gi) AS n_candidates,
           |  (SELECT count(*) FROM tr) AS n_truth,
           |  (SELECT count(*) FROM c$gi JOIN tr USING (doc_a, doc_b)) AS n_tp,
           |  round(CAST((SELECT count(*) FROM c$gi JOIN tr USING (doc_a, doc_b)) AS DOUBLE)
           |    / NULLIF((SELECT count(*) FROM c$gi), 0), 6) AS precision,
           |  round(CAST((SELECT count(*) FROM c$gi JOIN tr USING (doc_a, doc_b)) AS DOUBLE)
           |    / (SELECT count(*) FROM tr), 6) AS recall""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$simhashSqlCte,
         |tr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id AND ($truthEq)
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimhashHammingMax),
         |$candCtes
         |SELECT * FROM ($arms)
         |ORDER BY bands, bits_per_band""".stripMargin
    }
  )

  /** Shared oracle CTE: fixed-SegLen-token segments of every document plus
    * the global first-occurrence rank of each segment's content (rn = 1 is
    * the keeper). Mirrors [[segmentOccurrences]] exactly: same tokenizer,
    * 1-based DuckDB list slices over the 0-based segment index.
    */
  private def segSqlCte: String =
    s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS t FROM documents),
       |seg AS (SELECT doc_id, i AS seg_idx,
       |          array_to_string(t[(i*$SegLen+1):(i*$SegLen+$SegLen)], ' ') AS seg
       |        FROM tok,
       |          LATERAL (SELECT unnest(range(CAST(ceil(len(t)/$SegLen.0) AS BIGINT))) AS i) r),
       |num AS (SELECT doc_id, seg_idx, seg,
       |          row_number() OVER (PARTITION BY md5(seg)
       |                             ORDER BY doc_id, seg_idx) AS rn
       |        FROM seg),""".stripMargin
}
