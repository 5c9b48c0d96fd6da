package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedDeque}

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.storage.StorageLevel

import graft.functions.{DamerauLevenshteinDist, DotProductD, JaroWinklerSim, LshBandKeys, Md5Hash60, NfcNormalize, PqCodes1, PqLuts, PqReconErr2, RegExpExtractRef, StripAccents}

/** Session-level wiring: registers graft's custom Catalyst expressions into
  * the session's function registry so they resolve in both SQL and the
  * DataFrame API (via `call_function`). Idempotent; call at the top of every
  * entry point.
  *
  * SESSION-WIDE SIDE EFFECT (documented, opt-out available): `init` lowers
  * `spark.sql.codegen.hugeMethodLimit` from the 65535 default to 8000 —
  * HotSpot's DontCompileHugeMethods threshold — because generated methods
  * in (8000, 65535] bytecodes are never JIT-compiled and run as
  * interpreted bytecode (measured 13× on wide-unroll stages). Set
  * `spark.graft.keepHugeMethodLimit=true` to keep Spark's default, e.g.
  * when deliberately forcing whole-stage codegen of large methods.
  */
object Graft {
  def init(spark: SparkSession): SparkSession = {
    // Align Spark's whole-stage-codegen fallback with HotSpot's
    // -XX:DontCompileHugeMethods threshold (8000 bytecodes): at the
    // default 65535, a stage whose generated method lands between 8000
    // and 65535 bytecodes compiles under Janino but is NEVER JIT'd — it
    // executes as interpreted bytecode, which the r11 probe measured at
    // 13× on the sized-LSH banded projection (208 unrolled 64-dim dot
    // products in one method: 36 s → 2.4 s at 40k vectors once the
    // stage falls back to Volcano + per-expression compiled eval).
    // Guarded two ways: only a value equal to the known-bad default is
    // replaced, and a caller who WANTS 65535 (Spark's RuntimeConfig
    // cannot distinguish unset-default from an explicit 65535) can opt
    // out of the override entirely by setting
    // spark.graft.keepHugeMethodLimit=true before init.
    if (!spark.conf.get("spark.graft.keepHugeMethodLimit", "false").toBoolean &&
        spark.conf.get("spark.sql.codegen.hugeMethodLimit", "65535") == "65535")
      spark.conf.set("spark.sql.codegen.hugeMethodLimit", "8000")
    // Case mappings via the JVM/ASCII fast path instead of ICU (Spark 4
    // default). lower() sits inside toks(), the tokenizer of the whole
    // text family; CollationSupport.Lower.execBinaryICU round-trips
    // UTF8String -> String -> ICU UCharacter per ROW, measured -15..-46%
    // query wall across the text fleet when switched back to execBinary
    // (the pre-4.0 behavior, byte-level with an ASCII fast path). The
    // two mappings agree on every ASCII codepoint, and every string
    // column of every fixture SF is pure ASCII (checked exhaustively),
    // so declared results are bit-identical; on non-ASCII special-casing
    // input (Turkish dotted-I, final sigma) this selects the classic
    // JVM semantics — same asterisk class as any locale-sensitive op.
    // Opt out with spark.graft.keepIcuCaseMappings=true before init.
    if (!spark.conf.get("spark.graft.keepIcuCaseMappings", "false").toBoolean)
      spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
    // Spark 4 captures a full Thread.getStackTrace on EVERY Column
    // creation (CurrentOrigin.withOrigin -> dataFrameQueryContextEnabled)
    // to decorate error messages with DataFrame context. Plan
    // construction is part of every timed query here, and the fleet's
    // larger plans create thousands of Columns; the capture is pure
    // driver-side overhead with zero effect on results (error-message
    // metadata only). Disable unless the caller opts back in.
    if (!spark.conf.get("spark.graft.keepDataFrameQueryContext", "false").toBoolean)
      spark.conf.set("spark.sql.dataFrameQueryContext.enabled", "false")
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "regexp_extract_ref",
      exprs => RegExpExtractRef(exprs(0), exprs(1), exprs(2)),
      "scala_udf")
    reg.createOrReplaceTempFunction(
      "graft_dot",
      exprs => DotProductD(exprs(0), exprs(1)),
      "scala_udf")
    reg.createOrReplaceTempFunction(
      "graft_jaro_winkler",
      exprs => JaroWinklerSim(exprs(0), exprs(1)),
      "scala_udf")
    reg.createOrReplaceTempFunction(
      "graft_damerau",
      exprs => DamerauLevenshteinDist(exprs(0), exprs(1)),
      "scala_udf")
    reg.createOrReplaceTempFunction(
      "graft_nfc",
      exprs => NfcNormalize(exprs(0)),
      "scala_udf")
    reg.createOrReplaceTempFunction(
      "graft_strip_accents",
      exprs => StripAccents(exprs(0)),
      "scala_udf")
    reg.createOrReplaceTempFunction(
      "graft_h60",
      exprs => Md5Hash60(exprs(0)),
      "scala_udf")
    reg.createOrReplaceTempFunction(
      "graft_pq_codes",
      exprs => PqCodes1(exprs(0)),
      "scala_udf")
    reg.createOrReplaceTempFunction(
      "graft_pq_err2",
      exprs => PqReconErr2(exprs(0)),
      "scala_udf")
    reg.createOrReplaceTempFunction(
      "graft_pq_luts",
      exprs => PqLuts(exprs(0)),
      "scala_udf")
    reg.createOrReplaceTempFunction(
      "graft_lsh_band_keys",
      // geometry args must be literal ints: the plane matrix is derived
      // from them at plan time (seed 7; see LshOps.planes)
      exprs => LshBandKeys(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue()),
      "scala_udf")
    // Optimizer rules + planner strategy. The supported injection point is
    // SparkSessionExtensions (builder path: .withExtensions(new
    // graft.plans.GraftExtensions) or config spark.sql.extensions) — there
    // the rules run inside the operator-optimization fixed point, BEFORE
    // InferWindowGroupLimit, so RewriteGroupTopK sees the pristine
    // Filter-over-Window by construction. On a session built WITHOUT the
    // extensions (the already-built-session case, where extensions can no
    // longer be applied) fall back to the experimental hooks, whose
    // "User Provided Optimizers" batch runs after InferWindowGroupLimit —
    // RewriteGroupTopK carries a strip-if-present guard for exactly that
    // ordering. Detection inspects the live optimizer/planner so the two
    // paths are mutually exclusive and a rule never runs twice; both
    // probes re-read experimental state, making init idempotent.
    def optimizerHas(r: AnyRef): Boolean =
      spark.sessionState.optimizer.batches.exists(_.rules.exists(_ eq r))
    if (!optimizerHas(graft.plans.RewriteHofDotProduct))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RewriteHofDotProduct
    if (!optimizerHas(graft.plans.RewriteGroupTopK))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RewriteGroupTopK
    if (!optimizerHas(graft.plans.RewriteBandJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RewriteBandJoin
    if (!optimizerHas(graft.plans.RewriteMaxSelfJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RewriteMaxSelfJoin
    if (!optimizerHas(graft.plans.RewriteMaxPerKey))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RewriteMaxPerKey
    if (!spark.sessionState.planner.strategies.contains(graft.plans.GroupTopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.GroupTopKStrategy
    if (!spark.sessionState.planner.strategies.contains(graft.plans.MaxPerKeyStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.MaxPerKeyStrategy
    spark
  }

  /** Relations graft persisted and has not yet released, newest last.
    * Keyed by SparkContext, not session: the cache manager is shared by
    * every `newSession()` child, and Bench releases once on the parent
    * after its warm pool ran queries on the children.
    */
  private val owned = new ConcurrentHashMap[SparkContext, ConcurrentLinkedDeque[DataFrame]]()

  private def ownedBy(sc: SparkContext) = {
    owned.keySet().removeIf(_.isStopped)
    owned.computeIfAbsent(sc, _ => new ConcurrentLinkedDeque[DataFrame]())
  }

  /** Persist a multiply-consumed intermediate and record it for
    * [[releaseCaches]]. A plan that is already cached when this is called
    * (by the caller, or by an earlier graft call) is left as it is and
    * not recorded, so graft never releases a cache it did not create.
    */
  def persist(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist()
      ownedBy(df.sparkSession.sparkContext).add(df)
    }
    df
  }

  /** [[persist]] `df` and materialize it now with one `count()` job,
    * returning the row count. This runs a job while the caller's
    * DataFrame is still being built. It is used where two jobs of the
    * final query would otherwise race to fill the same cold cache: a
    * broadcast build and its probe, or two exchange map stages the
    * DAGScheduler submits concurrently, each computing the whole subtree
    * again. The job carries the description `graft.fill:<site>` (the
    * caller's description is restored afterwards; the job group is left
    * alone), so listeners and event logs can attribute fill cost.
    */
  def fill(df: DataFrame, site: String): Long = {
    persist(df)
    val sc = df.sparkSession.sparkContext
    val prior = sc.getLocalProperty(JobDescription)
    sc.setLocalProperty(JobDescription, s"graft.fill:$site")
    try df.count()
    finally sc.setLocalProperty(JobDescription, prior)
  }

  private val JobDescription = "spark.job.description"

  /** What [[releaseCaches]] would release now, oldest first. */
  private[graft] def registered(spark: SparkSession): Seq[DataFrame] =
    ownedBy(spark.sparkContext).toArray(Array.empty[DataFrame]).toSeq

  /** Release every relation graft persisted ([[persist]], [[fill]]) on
    * this session's SparkContext, and nothing else: a DataFrame the
    * caller cached stays cached. Operators persist multiply-consumed
    * intermediates while building the DataFrame they return, and that
    * DataFrame is lazy, so only the caller knows when they are no longer
    * needed: run the action, then call this (Verify and Bench do so after
    * every query). Without it a long-lived session keeps one cached
    * relation per library call. Newest entries go first, so an entry is
    * released before the ones it reads, and unpersisting is non-blocking.
    */
  def releaseCaches(spark: SparkSession): Unit = {
    val q = ownedBy(spark.sparkContext)
    var df = q.pollLast()
    while (df != null) {
      df.unpersist(blocking = false)
      df = q.pollLast()
    }
  }

  /** Rows of iteration state per shuffle partition under
    * [[withIterShufflePartitions]] — sized so a fixture-scale subgraph
    * collapses to the 4-partition floor while any real shard keeps the
    * session's full parallelism.
    */
  val IterRowsPerPartition = 50000L

  /** Run `f` with `spark.sql.shuffle.partitions` temporarily sized for an
    * iterative kernel whose per-round state is ~`rows` rows, restoring the
    * session value afterwards.
    *
    * Why: each round of an iterative kernel (CC, PPR, LPA, BPE, ...) is
    * its own job, and localCheckpoint materializes BEFORE adaptive
    * execution can coalesce, so a tiny subgraph pays the full session
    * shuffle-partition task count two-to-three times per round — measured
    * 7.8 s -> 3.0 s for a 4k-edge CC at local[32] just by sizing the
    * partitions to the state. This is AQE-style coalescing applied across
    * the checkpoint boundaries AQE cannot see through. Never RAISES the
    * count: at real scale (rows / IterRowsPerPartition >= session value)
    * it is a no-op. The conf is session-scoped, so a concurrently planned
    * query may observe the lowered value — harmless by the engine-wide
    * partitioning-invariance discipline (results never depend on
    * partition counts; only that round's task count changes). The
    * save/set/restore is NOT safe against a concurrent
    * withIterShufflePartitions on the SAME session (interleaved pairs
    * can restore the other call's temporary value): concurrent callers
    * must use separate sessions (spark.newSession() — shared context,
    * isolated confs; what Bench's warm pool does).
    */
  def withIterShufflePartitions[T](spark: SparkSession, rows: Long)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val cur = spark.conf.get(key).toInt
    val sized = math.max(4L, math.min(cur.toLong,
      rows / IterRowsPerPartition + 1L)).toInt
    if (sized >= cur) f
    else {
      spark.conf.set(key, sized.toString)
      try f finally spark.conf.set(key, cur.toString)
    }
  }

  /** `regexp_extract_ref` as a Column function (requires `init(spark)` first). */
  def regexp_extract_ref(s: Column, p: Column, idx: Column): Column =
    call_function("regexp_extract_ref", s, p, idx)

  /** Codegen'd sequential-fold dot product (requires `init(spark)` first). */
  def graft_dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Recommended session for this engine at scale. `local[cores]` here; on
    * a cluster, keep every config and swap the master. The shuffle
    * partition count should track total executor cores (AQE coalesces
    * down, so err high); maxPartitionBytes sizes scan tasks so a 100 TB
    * input yields ~800k tasks rather than a handful of giant ones.
    */
  def recommendedSession(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")                    // default, pinned
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "128m")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    init(s)
  }
}

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md). All reads
  * go through `spark.read.parquet` so Catalyst gets vectorized scans, filter
  * pushdown, and column pruning for free — at 100 TB these scans are
  * partitioned across executors by parquet row-group splits
  * (spark.sql.files.maxPartitionBytes), no collect anywhere.
  */
object Tables {
  /** Memoized loader relations, keyed by (session, dir, name). What is
    * reused is METADATA only — the file listing and the parquet footer
    * schema inference (each `spark.read.parquet` call re-lists the path
    * and launches a footer-reading job: measured ~85-100 ms per call,
    * paid 1-3x by every one of 365 bench queries). No row data or query
    * results are cached: the returned DataFrame is a lazy scan plan, and
    * every downstream query still executes it from disk. On a long-lived
    * cluster session this is exactly what a catalog table provides;
    * fixtures are immutable for the life of a JVM, so the snapshot of the
    * file list can never go stale here — and a caller that DOES rewrite a
    * dir must call [[invalidate]] to make the assumption explicit.
    * Eviction grain is the shared CONTEXT, not the session:
    * `spark.newSession()` children share one SparkContext, so their
    * entries (and SessionStates) stay pinned until the whole application
    * stops — bounded by the 512-entry clear in [[evict]], which only ever
    * costs a re-listing, never correctness.
    */
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    evict()
    val key = (spark, dir, name)
    val cached = relCache.get(key)
    if (cached != null) cached
    else {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      relCache.putIfAbsent(key, df)
      df
    }
  }

  /** Drop every memoized relation under `dir` — the explicit escape hatch
    * for the one caller pattern the memoization forbids: overwriting a
    * parquet dir and re-reading it through Tables within the same
    * context. Fixture dirs are write-once so production paths never need
    * this; tests that regenerate a scratch dir call it to make the
    * immutability assumption checkable rather than conventional.
    */
  def invalidate(dir: String): Unit =
    relCache.keySet().removeIf(_._2 == dir)

  /** Drop stopped-session entries on EVERY access (not just misses — a
    * hit-only steady state would otherwise pin dead SessionStates
    * forever), and clear outright if temp-dir churn (test fixtures) ever
    * grows the map past a sane bound — the map is a metadata cache, so a
    * clear costs one re-listing per live table, never correctness.
    */
  private def evict(): Unit = {
    relCache.keySet().removeIf(k => k._1.sparkContext.isStopped)
    if (relCache.size > 512) relCache.clear()
  }

  /** events.ts normalization — the fixture's physical type has varied
    * across driver generations (parquet TIMESTAMP(NANOS) in early rounds,
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) now), so the loader adapts
    * by SCHEMA rather than assuming one encoding. Contract: the returned
    * `ts` is always Spark's native TIMESTAMP (micros, session-UTC), and
    * every path is lossless — the fixture has zero sub-microsecond bits,
    * and the session timezone is pinned to UTC so the NTZ→LTZ cast is the
    * identity on the stored micros value. DuckDB's view of the same
    * parquet agrees exactly under epoch_us in all cases.
    *
    *  - TIMESTAMP(MICROS) not UTC-adjusted → Spark reads TIMESTAMP_NTZ;
    *    cast to TIMESTAMP (identity under UTC).
    *  - TIMESTAMP(NANOS) → Spark 4 refuses the native read; fall back to
    *    the nanos-as-long legacy flag and truncate to micros. The flag is
    *    SCOPED to the read: parquet-to-catalyst schema conversion happens
    *    eagerly inside `spark.read.parquet(...)`, so the prior value is
    *    restored immediately after and later actions on the returned
    *    DataFrame do not re-consult it (TablesSpec proves the restore).
    *  - plain INT64 ts (nanos) → same truncation, no flag needed.
    */
  private[graft] def eventsWithTs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val path = s"$dir/events.parquet"
    // only the illegal-TIMESTAMP(NANOS) refusal triggers the legacy-flag
    // retry; anything else (missing file, corrupt footer, permissions)
    // must surface as its ORIGINAL error, not a confusing second failure
    // under the flag
    def isNanosRefusal(e: Throwable): Boolean = {
      val m = Option(e.getMessage).getOrElse("")
      m.contains("NANOS") || m.contains("Illegal Parquet type")
    }
    val raw =
      try spark.read.parquet(path)
      catch {
        case e: org.apache.spark.sql.AnalysisException if isNanosRefusal(e) =>
          val flag = "spark.sql.legacy.parquet.nanosAsLong"
          val prior = spark.conf.getOption(flag)
          spark.conf.set(flag, "true")
          try spark.read.parquet(path)
          finally prior match {
            case Some(v) => spark.conf.set(flag, v)
            case None => spark.conf.unset(flag)
          }
      }
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", raw("ts").cast(TimestampType))
      case _ => raw
    }
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = {
    evict()
    val key = (s, d, "events@ts")
    val cached = relCache.get(key)
    if (cached != null) cached
    else {
      val df = eventsWithTs(s, d)
      relCache.putIfAbsent(key, df)
      df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
