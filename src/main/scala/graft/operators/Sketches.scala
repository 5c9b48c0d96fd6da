package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{Encoders, functions => F}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.Column

import org.apache.spark.sql.expressions.Window

import graft.Graft.{fill, persist}
import graft.Tables._
import graft.functions.{BloomFilterAgg, CountMinSketchAgg, HistQuantileAgg, HyperLogLogAgg, MisraGriesAgg}
import TextHash.{toksSql, toks}

/** Mergeable frequency sketching — Count-Min Sketch over the corpus token
  * stream, built by the typed Aggregator [[CountMinSketchAgg]].
  *
  * The scale story is the whole point: the exact token histogram at 100 TB
  * is vocabulary-sized (huge, shuffled); the CMS is a CONSTANT 4×64 counter
  * matrix whose partial states map-side combine and merge associatively —
  * the corpus reduces to one array without any vocabulary shuffle. The
  * estimates query then audits the sketch against the exact counts (cheap
  * at fixture scale) and locks the one-sided-error contract
  * (estimate ≥ exact, always).
  */
object Sketches {

  private val Depth = CountMinSketchAgg.Depth
  private val Width = CountMinSketchAgg.Width

  private val cms = F.udaf(CountMinSketchAgg, Encoders.STRING)

  private def tokens(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(explode(toks(col("text"))).as("tok"))

  // ------------------------------------------------------ bloom machinery

  private val bloom = F.udaf(BloomFilterAgg, Encoders.STRING)
  private val BloomM = BloomFilterAgg.M
  private val BloomK = BloomFilterAgg.K

  /** Column mirrors of BloomFilterAgg.positions: h1/h2 are 15-hex-char
    * slices of md5(key), pos_i = (h1 + i·h2) mod M.
    */
  private def bloomPos(key: Column, i: Int): Column = {
    val h1 = conv(substring(md5(key), 1, 15), 16, 10).cast("long")
    val h2 = conv(substring(md5(key), 16, 15), 16, 10).cast("long")
    (h1 + lit(i.toLong) * h2) % BloomM
  }

  /** Is bit p set in the filter's word array? (p < M = 2048, so the
    * double division below is exact.) Arithmetic shiftright then &1
    * isolates the addressed bit regardless of the word's sign.
    */
  private def bitSet(bits: Column, p: Column): Column =
    call_function("shiftright",
      element_at(bits, (p / lit(64)).cast("int") + lit(1)),
      (p % 64).cast("int")).bitwiseAND(lit(1L)) === lit(1L)

  /** The corpus filter as a 1-row (bits: array<bigint>) relation — the
    * broadcastable model state for batch AND streaming gates.
    */
  private[graft] def bloomBits(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("text").as("key"))
      .agg(bloom(col("key")).as("bits"))

  /** Membership decisions for a (probe_id, key) relation against a filter
    * row: a pure broadcast projection — no shuffle, no state — which is
    * why the identical call works on a STREAMING probe relation
    * (stream-static broadcast join; see StreamingSpec).
    */
  /** The membership predicate over (key, bits) columns. */
  private def bloomPositive: Column =
    (0 until BloomK)
      .map(i => bitSet(col("bits"), bloomPos(col("key"), i)))
      .reduce(_ && _)

  private[graft] def gateDecisions(probeRel: DataFrame, bits: DataFrame): DataFrame =
    probeRel.crossJoin(broadcast(bits))
      .select(col("probe_id"), bloomPositive.as("bloom_positive"))

  /** Ingestion-gate probe set: docs ≡ 0 (mod 5) replay their exact corpus
    * text (must ALWAYS test positive); docs ≡ 1 (mod 5) probe a perturbed
    * text absent from the corpus (positives here are the false-positive
    * rate under audit). Probe ids are disjoint by the +1e6 offset.
    */
  private[graft] def probes(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    docs.where(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("probe_id"), col("text").as("key"))
      .unionByName(docs.where(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 1000000L).as("probe_id"),
          concat(col("text"), lit(" ~novel~")).as("key")))
  }

  /** (probe_id, exact_member, bloom_positive) — the filter row (32 longs)
    * is broadcast; the exact-membership join is the audit path (at scale
    * the whole point of the filter is to SKIP this join for the ~negative
    * majority).
    */
  private def bloomGate(s: SparkSession, d: String): DataFrame = {
    val corpus = documents(s, d).select(col("text").as("key"))
    val ck = corpus.distinct().withColumn("in_corpus", lit(true))
    probes(s, d)
      .join(ck, Seq("key"), "left")
      .crossJoin(broadcast(bloomBits(s, d)))
      .select(col("probe_id"),
        coalesce(col("in_corpus"), lit(false)).as("exact_member"),
        bloomPositive.as("bloom_positive"))
  }

  // ------------------------------------------------------- HLL machinery

  private val hll = F.udaf(HyperLogLogAgg, Encoders.STRING)
  private val HllM = HyperLogLogAgg.M

  /** The corpus-token register array as a 1-row (regs: array<int>) frame —
    * one constant-size reduction over the token stream (32 shuffle
    * partitions guarantee the merge path runs).
    */
  private def hllRegs(s: SparkSession, d: String): DataFrame =
    tokens(s, d).agg(hll(col("tok")).as("regs"))

  // -------------------------------------- quantile-histogram machinery

  private val qsk = F.udaf(HistQuantileAgg, Encoders.scalaLong)
  private val QBins = HistQuantileAgg.Bins
  private val QHi = HistQuantileAgg.HiCents

  /** Populated (l_returnflag, bin, cnt) cells of the per-group quantile
    * histogram over l_extendedprice in integer cents — one constant-size
    * (8 KiB) reduction per group instead of a per-group sort.
    */
  private[graft] def qsketchCells(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      // prices are stored as double: round BEFORE the long cast (Spark
      // truncates, DuckDB rounds — round() first makes both exact cents)
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .groupBy("l_returnflag")
      .agg(qsk(col("cents")).as("sk"))
      .select(col("l_returnflag"), posexplode(col("sk")).as(Seq("bin", "cnt")))
      .where(col("cnt") > 0)

  /** (l_returnflag, n, q_pct, target) rank targets for p50/p90/p99:
    * target = ceil(q*n/100) in pure integer arithmetic.
    */
  private def qsketchTargets(cells: DataFrame): DataFrame =
    cells.groupBy("l_returnflag").agg(sum("cnt").as("n"))
      .select(col("l_returnflag"), col("n"),
        explode(array(lit(50), lit(90), lit(99))).as("q_pct"))
      .withColumn("target", expr("(n * q_pct + 99) DIV 100"))

  /** (l_returnflag, q_pct, bin_est, lo_cents): smallest bin whose
    * cumulative count reaches the rank target, plus its integer-cent
    * lower bound — the sketch's quantile answer, error <= one bin width.
    */
  private[graft] def qsketchQuantiles(s: SparkSession, d: String): DataFrame = {
    val cells = qsketchCells(s, d)
    val cum = cells.withColumn("cum",
      sum("cnt").over(Window.partitionBy("l_returnflag").orderBy("bin")))
    cum.join(qsketchTargets(cells), "l_returnflag")
      .where(col("cum") >= col("target"))
      .groupBy("l_returnflag", "q_pct")
      .agg(min("bin").as("bin_est"))
      .withColumn("lo_cents", expr(s"bin_est * ${QHi}L DIV $QBins"))
  }

  // -------------------------------------------------------------- queries

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The quantile-histogram state itself, flattened to populated
    // (group, bin, cnt) cells — every counter oracle-checked, verifying
    // the integer bin function, the reduce path AND the merge path (32
    // shuffle partitions guarantee merges happened).
    "qsketch_cells" -> { (s, d) =>
      qsketchCells(s, d).orderBy("l_returnflag", "bin")
    },

    // p50/p90/p99 read from the sketch: smallest bin reaching the rank
    // target + its integer-cent lower bound. Deterministic (unlike
    // approx_percentile) and partition-count-independent.
    "qsketch_quantiles" -> { (s, d) =>
      qsketchQuantiles(s, d).orderBy("l_returnflag", "q_pct")
    },

    // Rank-accuracy audit: the sketch's chosen bin must be EXACTLY the
    // bin containing the true order statistic (row_number rank target
    // over the sorted group) — the <= one-bin-width error contract,
    // oracled per group per quantile.
    "qsketch_check" -> { (s, d) =>
      val cells = qsketchCells(s, d)
      val t = qsketchTargets(cells)
      val vals = lineitem(s, d).select(col("l_returnflag"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      val exact = vals
        .withColumn("rn", row_number().over(
          Window.partitionBy("l_returnflag").orderBy("cents")))
        .join(t, "l_returnflag")
        .where(col("rn") === col("target"))
        .select(col("l_returnflag"), col("q_pct"),
          expr(s"(cents * $QBins) DIV ${QHi}L").as("bin_exact"))
      qsketchQuantiles(s, d)
        .join(exact, Seq("l_returnflag", "q_pct"))
        .select(col("l_returnflag"), col("q_pct"), col("bin_est"),
          col("bin_exact"), (col("bin_est") === col("bin_exact")).as("hit"))
        .orderBy("l_returnflag", "q_pct")
    },

    // The HLL state itself, flattened to its populated (register, rank)
    // cells — oracle-checks the md5 slot function, the max-reduce AND the
    // element-wise-max merge bit-for-bit.
    "hll_registers" -> { (s, d) =>
      hllRegs(s, d)
        .select(posexplode(col("regs")).as(Seq("idx", "reg")))
        .where(col("reg") > 0)
        .orderBy("idx")
    },

    // Estimator audit: the two-regime HLL estimate vs the exact distinct
    // token count. All output columns are integers/booleans — the only
    // float (the estimate) feeds a wide-margin accuracy predicate, so the
    // row hash-compares across engines.
    "hll_distinct_check" -> { (s, d) =>
      val tok = tokens(s, d)
      val exact = tok.agg(count_distinct(col("tok")).as("exact_distinct"))
      val stats = hllRegs(s, d)
        .select(posexplode(col("regs")).as(Seq("idx", "reg")))
        .agg(count(lit(1)).cast("int").as("m"),
          sum(when(col("reg") === 0, 1L).otherwise(0L)).as("n_zero"),
          sum(pow(lit(2.0), -col("reg").cast("double"))).as("s"))
      val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(HllM.toDouble))
      val raw = alpha * lit(HllM.toDouble) * lit(HllM.toDouble) / col("s")
      val est = when(raw <= lit(2.5 * HllM) && col("n_zero") > 0,
        lit(HllM.toDouble) * log(lit(HllM.toDouble) / col("n_zero").cast("double")))
        .otherwise(raw)
      stats.crossJoin(broadcast(exact))
        .select(col("m"), col("n_zero"), col("exact_distinct"),
          (est / col("exact_distinct").cast("double")).between(0.8, 1.25)
            .as("within_20pct"))
    },

    // HLL SET ALGEBRA — the reason HLL beats exact distinct at 100 TB
    // isn't just size, it's that sketches COMPOSE: union is the exact
    // element-wise max merge (no rescan), intersection estimates by
    // inclusion-exclusion |A|+|B|−|A∪B|. Sides: en-doc tokens vs non-en.
    // Contract checked per row: (1) the merged union sketch is
    // BIT-IDENTICAL to a sketch built from the unioned stream (merge
    // correctness, not an approximation); (2) the union estimate is within
    // 20% of exact; (3) the inclusion-exclusion intersection estimate is
    // within 0.25·|A∪B| absolute (I-E compounds the three sketches'
    // errors — an absolute bound on the union scale is the honest
    // contract). Floats stay inside wide-margin booleans; exact counts are
    // the oracled integers.
    "hll_setops_check" -> { (s, d) =>
      val docs = documents(s, d)
      val tokA = docs.where(col("lang") === "en")
        .select(explode(toks(col("text"))).as("tok"))
      val tokB = docs.where(col("lang") =!= "en")
        .select(explode(toks(col("text"))).as("tok"))
      val ra = tokA.agg(hll(col("tok")).as("ra"))
      val rb = tokB.agg(hll(col("tok")).as("rb"))
      val ru = tokA.union(tokB).agg(hll(col("tok")).as("ru"))
      val ea = tokA.agg(count_distinct(col("tok")).as("exact_a"))
      val eb = tokB.agg(count_distinct(col("tok")).as("exact_b"))
      val eu = tokA.union(tokB).agg(count_distinct(col("tok")).as("exact_union"))
      val ei = tokA.select("tok").distinct()
        .intersect(tokB.select("tok").distinct())
        .agg(count(lit(1)).as("exact_inter"))
      def est(regs: Column): Column = {
        val m = lit(HllM.toDouble)
        val sum2 = aggregate(regs, lit(0.0),
          (acc, r) => acc + pow(lit(2.0), -r.cast("double")))
        val nz = size(filter(regs, _ === 0)).cast("double")
        val raw = lit(0.7213) / (lit(1.0) + lit(1.079) / m) * m * m / sum2
        when(raw <= lit(2.5 * HllM) && nz > 0, m * log(m / nz)).otherwise(raw)
      }
      val merged = zip_with(col("ra"), col("rb"), (x, y) => greatest(x, y))
      ra.crossJoin(rb).crossJoin(ru)
        .crossJoin(broadcast(ea)).crossJoin(broadcast(eb))
        .crossJoin(broadcast(eu)).crossJoin(broadcast(ei))
        .select(lit(HllM).as("m"),
          col("exact_a"), col("exact_b"), col("exact_union"), col("exact_inter"),
          (merged === col("ru")).as("union_sketch_identical"),
          (est(col("ru")) / col("exact_union").cast("double"))
            .between(0.8, 1.25).as("union_within_20pct"),
          (abs(est(col("ra")) + est(col("rb")) - est(col("ru")) -
            col("exact_inter").cast("double")) <=
            lit(0.25) * col("exact_union").cast("double")).as("inter_ok"))
    },

    // The sketch itself, flattened to (row, bucket, count) cells — every
    // populated counter is oracle-checked, which verifies the md5 bucket
    // function, the reduce path AND the merge path (32 shuffle partitions
    // guarantee merges happened).
    "cms_matrix" -> { (s, d) =>
      tokens(s, d)
        .agg(cms(col("tok")).as("sketch"))
        .select(posexplode(col("sketch")).as(Seq("idx", "cnt")))
        .select(expr(s"idx DIV $Width").cast("int").as("row_idx"),
          (col("idx") % Width).cast("int").as("bucket"), col("cnt"))
        .where(col("cnt") > 0)
        .orderBy("row_idx", "bucket")
    },

    // Point-query audit: CMS estimate vs exact count for the top-10
    // tokens. est = min over rows of the addressed cell; the one-sided
    // error bound (never underestimates) is part of the oracled output.
    "cms_estimates" -> { (s, d) =>
      val tok = tokens(s, d)
      val exact = tok.groupBy("tok").agg(count(lit(1)).as("exact"))
      val sk = tok.agg(cms(col("tok")).as("sketch"))
      val est = least((0 until Depth).map { j =>
        element_at(col("sketch"),
          ((conv(substring(md5(col("tok")), 1 + 4 * j, 4), 16, 10).cast("long")
            % Width).cast("int") + lit(j * Width) + lit(1)))
      }: _*)
      exact.crossJoin(broadcast(sk))
        .select(col("tok").as("term"), col("exact"), est.as("est"),
          (est >= col("exact")).as("no_underestimate"))
        .orderBy(desc("exact"), asc("term"))
        .limit(10)
    },

    // The built filter, flattened to its set BIT POSITIONS (engine-portable
    // encoding of the word array) — oracle-checks zero/reduce/merge
    // bit-for-bit (32 shuffle partitions guarantee merges happened).
    "bloom_bits" -> { (s, d) =>
      documents(s, d).select(col("text").as("key"))
        .agg(bloom(col("key")).as("bits"))
        .select(posexplode(col("bits")).as(Seq("widx", "w")))
        .select(col("widx"), col("w"),
          explode(sequence(lit(0), lit(63))).as("b"))
        .where(call_function("shiftright", col("w"), col("b"))
          .bitwiseAND(lit(1L)) === lit(1L))
        .select((col("widx").cast("long") * 64 + col("b")).as("pos"))
        .orderBy("pos")
    },

    // Per-probe gate decisions: replayed corpus docs + perturbed novel
    // docs against the corpus filter. Every false positive is reproduced
    // by the oracle (deterministic hash family), making the FP behavior
    // itself part of the hash-checked contract.
    "bloom_gate" -> { (s, d) =>
      bloomGate(s, d).orderBy("probe_id")
    },

    // One-sided-error audit: n_false_neg MUST be 0 (the Bloom contract);
    // the FP count is the measured rate at the fixture's fill factor.
    "bloom_gate_stats" -> { (s, d) =>
      bloomGate(s, d).agg(
        count(lit(1)).as("n_probes"),
        sum(when(col("exact_member"), 1L).otherwise(0L)).as("n_members"),
        sum(when(col("bloom_positive"), 1L).otherwise(0L)).as("n_bloom_pos"),
        sum(when(col("bloom_positive") && !col("exact_member"), 1L)
          .otherwise(0L)).as("n_false_pos"),
        sum(when(col("exact_member") && !col("bloom_positive"), 1L)
          .otherwise(0L)).as("n_false_neg"))
    },

    // Sketches compose with groupBy: one HLL per source (constant-size
    // state per group — the grouped distinct-count that never shuffles
    // per-group token sets), with two oracled contracts: each source's
    // estimate lands within 20% of its exact distinct count, and the
    // element-wise-max merge of the per-source sketches is bit-identical
    // to the sketch of the whole corpus (the mergeability theorem the
    // incremental/partitioned use case rests on — union sketches per
    // shard, merge later, lose nothing). n_zero is emitted as a
    // hash-checked VALUE so the oracle grounds more than booleans.
    "hll_by_source_check" -> { (s, d) =>
      // HLL registers are DUPLICATE-INSENSITIVE (max of per-hash ranks),
      // so every consumer here — the per-source sketches, the exact
      // distinct counts, and the direct global sketch — runs off ONE
      // persisted distinct (source, tok) relation instead of three full
      // tokenize passes (two of them multi-distinct shaped): r10,
      // 3.14 s floor → one tokenize + one distinct exchange. The
      // merge-vs-global audit stays non-vacuous: the global registers
      // are still computed by a DIRECT pass over the token stream, not
      // by merging the per-source sketches (that is the property under
      // test).
      val tokSrc = persist(documents(s, d)
        .select(col("source"), explode(toks(col("text"))).as("tok"))
        .distinct())
      val cells = tokSrc.groupBy("source").agg(hll(col("tok")).as("regs"))
        .select(col("source"), posexplode(col("regs")).as(Seq("idx", "reg")))
      // stats/merged read cells and exact/global read tokSrc through
      // independent stages of one job (filling cells also fills tokSrc)
      fill(cells, "Sketches.hll_by_source_check/cells")
      val stats = cells.groupBy("source").agg(
        sum(when(col("reg") === 0, 1L).otherwise(0L)).as("n_zero"),
        sum(pow(lit(2.0), -col("reg").cast("double"))).as("s"))
      val exact = tokSrc.groupBy("source")
        .agg(count(lit(1)).as("exact_distinct"))
      val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(HllM.toDouble))
      val raw = alpha * lit(HllM.toDouble) * lit(HllM.toDouble) / col("s")
      val est = when(raw <= lit(2.5 * HllM) && col("n_zero") > 0,
        lit(HllM.toDouble) * log(lit(HllM.toDouble) / col("n_zero").cast("double")))
        .otherwise(raw)
      val merged = cells.groupBy("idx").agg(max("reg").as("mreg"))
      val global = tokSrc.agg(hll(col("tok")).as("regs"))
        .select(posexplode(col("regs")).as(Seq("gidx", "greg")))
      val same = merged.join(global, col("idx") === col("gidx"), "full")
        .agg(sum(when(coalesce(col("mreg"), lit(-1)) =!=
          coalesce(col("greg"), lit(-2)), 1L).otherwise(0L)).as("n_diff"))
        .select((col("n_diff") === 0).as("merge_identical"))
      stats.join(exact, "source").crossJoin(broadcast(same))
        .select(col("source"), col("exact_distinct"), col("n_zero"),
          (est / col("exact_distinct").cast("double")).between(0.8, 1.25)
            .as("within_20pct"),
          col("merge_identical"))
        .orderBy("source")
    },

    // Misra-Gries with k ≥ |domain| (64 ≥ the fixture's 31-token
    // vocabulary): no decrement can ever fire, so the summary IS the exact
    // histogram — the full-values oracle for the sketch's reduce + merge
    // plumbing (32 shuffle partitions guarantee merges happened).
    "mg_exact_histogram" -> { (s, d) =>
      tokens(s, d).agg(mgWide(col("tok")).as("m"))
        .select(explode(col("m")).as(Seq("tok", "cnt")))
        .orderBy("tok")
    },

    // The no-false-negative guarantee through REAL decrements: k=6 over a
    // 9-symbol Benford-skewed stream (leading digit of i²). Every item
    // with exact count > N/(k+1) must be in the summary, so
    // summary ∩ {exact > N/7} == plain threshold filter — which is what
    // the oracle computes, with no reference to the (merge-order-
    // dependent) summary at all. Output carries EXACT counts only; the
    // estimates are order-dependent and stay out of hashed output.
    "mg_guaranteed_hitters" -> { (s, _) =>
      val st = benford(s)
      val summary = st.agg(mgNarrow(col("item")).as("m"))
        .select(explode(col("m")).as(Seq("item", "est")))
      val exact = st.groupBy("item").agg(count(lit(1)).as("exact_cnt"))
      val n = st.agg(count(lit(1)).as("n"))
      exact.join(summary, Seq("item"))
        .crossJoin(broadcast(n))
        .where(col("exact_cnt").cast("double") > col("n").cast("double") / (MgK + 1))
        .select(col("item"), col("exact_cnt"))
        .orderBy("item")
    },

    // Order-invariant error-bound audit on the same stream: est ≤ exact
    // for every item, and exact − est ≤ (N − S)/(k+1) with S = Σ stored
    // counters (the Misra-Gries bound, preserved by the mergeable-
    // summaries merge). All violation counts must be 0 under ANY
    // reduce/merge order — which is why they can be oracled as constants.
    "mg_bounds_check" -> { (s, _) =>
      val st = benford(s)
      val summary = st.agg(mgNarrow(col("item")).as("m"))
        .select(explode(col("m")).as(Seq("item", "est")))
      val ssum = summary.agg(sum("est").as("s_sum"),
        count(lit(1)).as("n_counters"))
      val exact = st.groupBy("item").agg(count(lit(1)).as("exact_cnt"))
      val n = st.agg(count(lit(1)).as("n"))
      exact.join(summary, Seq("item"), "left")
        .na.fill(0L, Seq("est"))
        .crossJoin(broadcast(n)).crossJoin(broadcast(ssum))
        .agg(
          count(lit(1)).as("n_items"),
          sum(when(col("est") > col("exact_cnt"), 1L).otherwise(0L))
            .as("n_overestimates"),
          sum(when((col("exact_cnt") - col("est")).cast("double") >
            (col("n") - col("s_sum")).cast("double") / (MgK + 1), 1L)
            .otherwise(0L)).as("n_bound_violations"),
          bool_and(col("n_counters") <= MgK).as("size_within_k"))
    }
  )

  /** Misra-Gries counter budgets: wide ≥ any realistic fixture vocabulary
    * (exact mode), narrow < the Benford stream's 9 symbols (decrement
    * mode).
    */
  private val MgK = 6
  private val mgWide = F.udaf(new MisraGriesAgg(64), Encoders.STRING)
  private val mgNarrow = F.udaf(new MisraGriesAgg(MgK), Encoders.STRING)

  /** Deterministic Benford-skewed 9-symbol stream: the leading digit of i²
    * for i in 1..20000 (digit 1 ≈ 30%, …, digit 9 ≈ 4%) — reproducible in
    * both engines from range() with no data dependency, unlike the
    * fixture's deliberately near-uniform categorical columns.
    */
  private def benford(s: SparkSession): DataFrame =
    s.range(1, 20001)
      .select(substring((col("id") * col("id")).cast("string"), 1, 1).as("item"))

  // -------------------------------------------------------------- oracles

  private def cmsCtes =
    s"""tok AS (SELECT unnest(${toksSql("text")}) AS t FROM documents),
       |g AS (SELECT unnest(range(0, $Depth)) AS j),
       |h AS (SELECT t, j,
       |  CAST(('0x' || substr(md5(t), CAST(1 + 4 * j AS INTEGER), 4)) AS BIGINT) % $Width AS b
       |  FROM tok CROSS JOIN g),
       |cells AS (SELECT j, b, count(*) AS c FROM h GROUP BY 1, 2)""".stripMargin

  /** DuckDB mirror of [[bloomPos]]. `i` ranges over CTE g. */
  private def bloomPosSql(k: String, i: String): String =
    s"(CAST(('0x' || substr(md5($k),1,15)) AS BIGINT) + $i * " +
      s"CAST(('0x' || substr(md5($k),16,15)) AS BIGINT)) % $BloomM"

  private def bloomProbeCtes =
    s"""ck AS (SELECT DISTINCT text AS key FROM documents),
       |g AS (SELECT unnest(range(0, $BloomK)) AS i),
       |cpos AS (SELECT ${bloomPosSql("text", "i")} AS pos
       |  FROM documents CROSS JOIN g),
       |probes AS (
       |  SELECT doc_id AS probe_id, text AS key FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS probe_id, text || ' ~novel~' AS key
       |  FROM documents WHERE doc_id % 5 = 1)""".stripMargin

  /** DuckDB mirror of [[HyperLogLogAgg.slot]]: register index from
    * hex[1..2], rank from the leading-zero hex prefix of hex[3..17] —
    * string functions only, shared by both HLL oracles.
    */
  private def hllCtes =
    s"""tok AS (SELECT unnest(${toksSql("text")}) AS t FROM documents),
       |hslot AS (SELECT
       |    CAST(('0x' || substr(md5(t), 1, 2)) AS BIGINT) AS idx,
       |    substr(md5(t), 3, 15) AS sub
       |  FROM tok),
       |hrank AS (SELECT idx,
       |    CASE WHEN z = 15 THEN 61 ELSE 4*z +
       |      CASE WHEN d = '1' THEN 3 WHEN d IN ('2','3') THEN 2
       |           WHEN d IN ('4','5','6','7') THEN 1 ELSE 0 END + 1 END AS rank
       |  FROM (SELECT idx, CAST(length(regexp_extract(sub, '^0*')) AS INTEGER) AS z,
       |          substr(sub, CAST(length(regexp_extract(sub, '^0*')) + 1 AS INTEGER), 1) AS d
       |        FROM hslot)),
       |hreg AS (SELECT idx, max(rank) AS reg FROM hrank GROUP BY idx)""".stripMargin

  /** Suffixed, WHERE-filtered copy of the HLL register chain (tok_p /
    * hreg_p) for the set-algebra oracle's per-side sketches.
    */
  private def hllCtesFor(p: String, where: String) =
    s"""tok_$p AS (SELECT unnest(${toksSql("text")}) AS t FROM documents $where),
       |hslot_$p AS (SELECT
       |    CAST(('0x' || substr(md5(t), 1, 2)) AS BIGINT) AS idx,
       |    substr(md5(t), 3, 15) AS sub
       |  FROM tok_$p),
       |hrank_$p AS (SELECT idx,
       |    CASE WHEN z = 15 THEN 61 ELSE 4*z +
       |      CASE WHEN d = '1' THEN 3 WHEN d IN ('2','3') THEN 2
       |           WHEN d IN ('4','5','6','7') THEN 1 ELSE 0 END + 1 END AS rank
       |  FROM (SELECT idx, CAST(length(regexp_extract(sub, '^0*')) AS INTEGER) AS z,
       |          substr(sub, CAST(length(regexp_extract(sub, '^0*')) + 1 AS INTEGER), 1) AS d
       |        FROM hslot_$p)),
       |hreg_$p AS (SELECT idx, max(rank) AS reg FROM hrank_$p GROUP BY idx)""".stripMargin

  /** Two-regime HLL estimate from an st_p CTE exposing (n_zero, s). */
  private def hllEstSql(p: String) =
    s"""CASE WHEN (0.7213/(1.0 + 1.079/$HllM.0))*$HllM.0*$HllM.0/s_$p <= ${2.5 * HllM}
       |          AND nz_$p > 0
       |     THEN $HllM.0 * ln($HllM.0 / CAST(nz_$p AS DOUBLE))
       |     ELSE (0.7213/(1.0 + 1.079/$HllM.0))*$HllM.0*$HllM.0/s_$p END""".stripMargin

  val oracles: Map[String, String] = Map(
    "qsketch_cells" ->
      s"""SELECT l_returnflag,
         |  (CAST(round(l_extendedprice * 100, 0) AS BIGINT) * $QBins) // $QHi AS bin,
         |  count(*) AS cnt
         |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "qsketch_quantiles" ->
      s"""WITH cells AS (SELECT l_returnflag,
         |  (CAST(round(l_extendedprice * 100, 0) AS BIGINT) * $QBins) // $QHi AS bin,
         |  count(*) AS cnt FROM lineitem GROUP BY 1, 2),
         |cum AS (SELECT l_returnflag, bin, cnt,
         |  sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum FROM cells),
         |n AS (SELECT l_returnflag, sum(cnt) AS n FROM cells GROUP BY 1),
         |tt AS (SELECT l_returnflag, q_pct, (n * q_pct + 99) // 100 AS target
         |       FROM (SELECT l_returnflag, n, unnest([50, 90, 99]) AS q_pct FROM n))
         |SELECT c.l_returnflag, tt.q_pct, min(c.bin) AS bin_est,
         |  min(c.bin) * $QHi // $QBins AS lo_cents
         |FROM cum c JOIN tt ON c.l_returnflag = tt.l_returnflag AND c.cum >= tt.target
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "qsketch_check" ->
      s"""WITH cells AS (SELECT l_returnflag,
         |  (CAST(round(l_extendedprice * 100, 0) AS BIGINT) * $QBins) // $QHi AS bin,
         |  count(*) AS cnt FROM lineitem GROUP BY 1, 2),
         |cum AS (SELECT l_returnflag, bin, cnt,
         |  sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum FROM cells),
         |n AS (SELECT l_returnflag, sum(cnt) AS n FROM cells GROUP BY 1),
         |tt AS (SELECT l_returnflag, q_pct, (n * q_pct + 99) // 100 AS target
         |       FROM (SELECT l_returnflag, n, unnest([50, 90, 99]) AS q_pct FROM n)),
         |est AS (SELECT c.l_returnflag, tt.q_pct, min(c.bin) AS bin_est
         |        FROM cum c JOIN tt ON c.l_returnflag = tt.l_returnflag AND c.cum >= tt.target
         |        GROUP BY 1, 2),
         |rnk AS (SELECT l_returnflag, CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
         |        row_number() OVER (PARTITION BY l_returnflag
         |          ORDER BY CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS rn FROM lineitem),
         |ex AS (SELECT r.l_returnflag, tt.q_pct, (r.cents * $QBins) // $QHi AS bin_exact
         |       FROM rnk r JOIN tt ON r.l_returnflag = tt.l_returnflag AND r.rn = tt.target)
         |SELECT e.l_returnflag, e.q_pct, e.bin_est, x.bin_exact,
         |  e.bin_est = x.bin_exact AS hit
         |FROM est e JOIN ex x ON e.l_returnflag = x.l_returnflag AND e.q_pct = x.q_pct
         |ORDER BY 1, 2""".stripMargin,

    "hll_registers" ->
      s"""WITH $hllCtes
         |SELECT CAST(idx AS INTEGER) AS idx, CAST(reg AS INTEGER) AS reg
         |FROM hreg ORDER BY idx""".stripMargin,

    "hll_distinct_check" ->
      s"""WITH $hllCtes,
         |allreg AS (SELECT r.i AS idx, coalesce(hreg.reg, 0) AS reg
         |  FROM (SELECT unnest(range(0, $HllM)) AS i) r
         |  LEFT JOIN hreg ON r.i = hreg.idx),
         |st AS (SELECT CAST(count(*) AS INTEGER) AS m,
         |    CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
         |    sum(power(2.0, -CAST(reg AS DOUBLE))) AS s FROM allreg),
         |ex AS (SELECT count(DISTINCT t) AS exact_distinct FROM tok)
         |SELECT m, n_zero, exact_distinct,
         |  (CASE WHEN (0.7213/(1.0 + 1.079/$HllM.0))*$HllM.0*$HllM.0/s <= ${2.5 * HllM}
         |            AND n_zero > 0
         |        THEN $HllM.0 * ln($HllM.0 / CAST(n_zero AS DOUBLE))
         |        ELSE (0.7213/(1.0 + 1.079/$HllM.0))*$HllM.0*$HllM.0/s END
         |   / CAST(exact_distinct AS DOUBLE)) BETWEEN 0.8 AND 1.25 AS within_20pct
         |FROM st CROSS JOIN ex""".stripMargin,

    "hll_setops_check" ->
      s"""WITH ${hllCtesFor("a", "WHERE lang = 'en'")},
         |${hllCtesFor("b", "WHERE lang <> 'en'")},
         |${hllCtesFor("u", "")},
         |hu AS (SELECT idx, max(reg) AS reg FROM
         |    (SELECT idx, reg FROM hreg_a UNION ALL SELECT idx, reg FROM hreg_b)
         |  GROUP BY idx),
         |ident AS (SELECT
         |    ((SELECT count(*) FROM
         |       (SELECT idx, reg FROM hu EXCEPT SELECT idx, reg FROM hreg_u))
         |     + (SELECT count(*) FROM
         |       (SELECT idx, reg FROM hreg_u EXCEPT SELECT idx, reg FROM hu))) = 0 AS ok),
         |sa AS (SELECT CAST($HllM - count(*) AS BIGINT) AS nz_a,
         |    sum(power(2.0, -CAST(reg AS DOUBLE)))
         |      + CAST($HllM - count(*) AS DOUBLE) AS s_a FROM hreg_a),
         |sb AS (SELECT CAST($HllM - count(*) AS BIGINT) AS nz_b,
         |    sum(power(2.0, -CAST(reg AS DOUBLE)))
         |      + CAST($HllM - count(*) AS DOUBLE) AS s_b FROM hreg_b),
         |su AS (SELECT CAST($HllM - count(*) AS BIGINT) AS nz_u,
         |    sum(power(2.0, -CAST(reg AS DOUBLE)))
         |      + CAST($HllM - count(*) AS DOUBLE) AS s_u FROM hreg_u),
         |ex AS (SELECT
         |    (SELECT count(DISTINCT t) FROM tok_a) AS exact_a,
         |    (SELECT count(DISTINCT t) FROM tok_b) AS exact_b,
         |    (SELECT count(DISTINCT t) FROM tok_u) AS exact_union,
         |    (SELECT count(*) FROM (SELECT DISTINCT t FROM tok_a
         |       INTERSECT SELECT DISTINCT t FROM tok_b)) AS exact_inter)
         |SELECT $HllM AS m, exact_a, exact_b, exact_union, exact_inter,
         |  ident.ok AS union_sketch_identical,
         |  ((${hllEstSql("u")}) / CAST(exact_union AS DOUBLE))
         |    BETWEEN 0.8 AND 1.25 AS union_within_20pct,
         |  abs((${hllEstSql("a")}) + (${hllEstSql("b")}) - (${hllEstSql("u")})
         |      - CAST(exact_inter AS DOUBLE))
         |    <= 0.25 * CAST(exact_union AS DOUBLE) AS inter_ok
         |FROM sa CROSS JOIN sb CROSS JOIN su CROSS JOIN ex CROSS JOIN ident""".stripMargin,

    "cms_matrix" ->
      s"""WITH $cmsCtes
         |SELECT CAST(j AS INTEGER) AS row_idx, CAST(b AS INTEGER) AS bucket, c AS cnt
         |FROM cells ORDER BY 1, 2""".stripMargin,

    "cms_estimates" ->
      s"""WITH $cmsCtes,
         |th AS (SELECT DISTINCT t, j, b FROM h),
         |est AS (SELECT t, min(c) AS est FROM th JOIN cells USING (j, b) GROUP BY t),
         |ex AS (SELECT t, count(*) AS exact FROM tok GROUP BY t)
         |SELECT t AS term, exact, est, est >= exact AS no_underestimate
         |FROM ex JOIN est USING (t) ORDER BY exact DESC, term LIMIT 10""".stripMargin,

    "bloom_bits" ->
      s"""WITH $bloomProbeCtes
         |SELECT DISTINCT pos FROM cpos ORDER BY pos""".stripMargin,

    "bloom_gate" ->
      s"""WITH $bloomProbeCtes,
         |cset AS (SELECT DISTINCT pos FROM cpos),
         |ppos AS (SELECT probe_id, ${bloomPosSql("key", "i")} AS pos
         |  FROM probes CROSS JOIN g),
         |hit AS (SELECT probe_id, count(cset.pos) AS nhit
         |  FROM ppos LEFT JOIN cset USING (pos) GROUP BY probe_id)
         |SELECT p.probe_id, (ck.key IS NOT NULL) AS exact_member,
         |  nhit = $BloomK AS bloom_positive
         |FROM probes p LEFT JOIN ck ON p.key = ck.key JOIN hit USING (probe_id)
         |ORDER BY p.probe_id""".stripMargin,

    "bloom_gate_stats" ->
      s"""WITH $bloomProbeCtes,
         |cset AS (SELECT DISTINCT pos FROM cpos),
         |ppos AS (SELECT probe_id, ${bloomPosSql("key", "i")} AS pos
         |  FROM probes CROSS JOIN g),
         |hit AS (SELECT probe_id, count(cset.pos) AS nhit
         |  FROM ppos LEFT JOIN cset USING (pos) GROUP BY probe_id),
         |gate AS (SELECT p.probe_id, (ck.key IS NOT NULL) AS exact_member,
         |    nhit = $BloomK AS bloom_positive
         |  FROM probes p LEFT JOIN ck ON p.key = ck.key JOIN hit USING (probe_id))
         |SELECT count(*) AS n_probes,
         |  CAST(sum(CASE WHEN exact_member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
         |  CAST(sum(CASE WHEN bloom_positive THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pos,
         |  CAST(sum(CASE WHEN bloom_positive AND NOT exact_member THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_false_pos,
         |  CAST(sum(CASE WHEN exact_member AND NOT bloom_positive THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_false_neg
         |FROM gate""".stripMargin,

    // Grouped HLL: per-source registers via the same slot SQL, grouped;
    // s folds the zero registers in closed form ((M - populated) * 2^0)
    // instead of expanding all M rows per group. merge_identical is a
    // theorem for max-merge, so the oracle states it as a constant.
    "hll_by_source_check" ->
      s"""WITH $hllGroupedCtes,
         |st_g AS (SELECT source,
         |    CAST($HllM - count(*) AS BIGINT) AS n_zero,
         |    CAST($HllM - count(*) AS DOUBLE)
         |      + sum(power(2.0, -CAST(reg AS DOUBLE))) AS s
         |  FROM hreg_g GROUP BY source),
         |ex_g AS (SELECT source, count(DISTINCT t) AS exact_distinct
         |  FROM tok_g GROUP BY source)
         |SELECT source, exact_distinct, n_zero,
         |  (CASE WHEN (0.7213/(1.0 + 1.079/$HllM.0))*$HllM.0*$HllM.0/s <= ${2.5 * HllM}
         |            AND n_zero > 0
         |        THEN $HllM.0 * ln($HllM.0 / CAST(n_zero AS DOUBLE))
         |        ELSE (0.7213/(1.0 + 1.079/$HllM.0))*$HllM.0*$HllM.0/s END
         |   / CAST(exact_distinct AS DOUBLE)) BETWEEN 0.8 AND 1.25 AS within_20pct,
         |  true AS merge_identical
         |FROM st_g JOIN ex_g USING (source) ORDER BY source""".stripMargin,

    // k=64 ≥ |vocab|: the MG summary equals the exact histogram.
    "mg_exact_histogram" ->
      s"""WITH tok AS (SELECT unnest(${toksSql("text")}) AS tok FROM documents)
         |SELECT tok, count(*) AS cnt FROM tok GROUP BY tok ORDER BY tok""".stripMargin,

    // The guarantee makes the summary intersection equal to the plain
    // threshold filter — the oracle never sees the summary.
    "mg_guaranteed_hitters" ->
      s"""$benfordSqlCte,
         |e AS (SELECT item, count(*) AS exact_cnt FROM s GROUP BY item),
         |n AS (SELECT count(*) AS n FROM s)
         |SELECT item, exact_cnt FROM e, n
         |WHERE CAST(exact_cnt AS DOUBLE) > CAST(n AS DOUBLE) / ${MgK + 1}
         |ORDER BY item""".stripMargin,

    // The bound violations are 0 under any merge order — constants.
    "mg_bounds_check" ->
      s"""$benfordSqlCte
         |SELECT CAST(count(DISTINCT item) AS BIGINT) AS n_items,
         |  CAST(0 AS BIGINT) AS n_overestimates,
         |  CAST(0 AS BIGINT) AS n_bound_violations,
         |  true AS size_within_k
         |FROM s""".stripMargin
  )

  /** Grouped variant of the HLL register CTEs: source carried through the
    * slot computation, registers per (source, idx).
    */
  private def hllGroupedCtes: String =
    s"""tok_g AS (SELECT source, unnest(${toksSql("text")}) AS t FROM documents),
       |hslot_g AS (SELECT source,
       |    CAST(('0x' || substr(md5(t), 1, 2)) AS BIGINT) AS idx,
       |    substr(md5(t), 3, 15) AS sub
       |  FROM tok_g),
       |hrank_g AS (SELECT source, idx,
       |    CASE WHEN z = 15 THEN 61 ELSE 4*z +
       |      CASE WHEN d = '1' THEN 3 WHEN d IN ('2','3') THEN 2
       |           WHEN d IN ('4','5','6','7') THEN 1 ELSE 0 END + 1 END AS rank
       |  FROM (SELECT source, idx,
       |          CAST(length(regexp_extract(sub, '^0*')) AS INTEGER) AS z,
       |          substr(sub, CAST(length(regexp_extract(sub, '^0*')) + 1 AS INTEGER), 1) AS d
       |        FROM hslot_g)),
       |hreg_g AS (SELECT source, idx, max(rank) AS reg
       |  FROM hrank_g GROUP BY source, idx)""".stripMargin

  /** Oracle CTE mirroring [[benford]]. */
  private def benfordSqlCte: String =
    """WITH s AS (SELECT substr(CAST(i*i AS VARCHAR), 1, 1) AS item
      |           FROM (SELECT unnest(range(1, 20001)) AS i))""".stripMargin
}
