package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators: the streaming faces of the batch engine.
  * The reference is batch-only (SURVEY.md §2.5 — tokio async is not
  * streaming); these extend the engine the way a production ingest pipeline
  * needs: event-time windows + watermarks, stateful sessionization, and
  * streaming exact-dedup.
  *
  * All operators are `DataFrame => DataFrame` transforms over streaming
  * inputs — the caller picks the source (`readStream`) and sink
  * (`writeStream`); specs drive them with MemoryStream + memory sink.
  *
  * Scale notes: state is partitioned by the grouping key across executors
  * (spark.sql.shuffle.partitions state stores); watermarks bound state size
  * — every operator here evicts state, none grows unboundedly.
  */
object StreamingOps {

  /** Incremental catch-up ingestion: process exactly the files that
    * arrived in `srcDir` since the last run (tracked by the checkpoint),
    * apply the corpus-stats transform, append to `outDir`, then STOP —
    * `Trigger.AvailableNow` drains whatever is available and terminates.
    * This is the scheduled-job pattern for continuous corpus ingestion at
    * scale: each invocation is a bounded batch with streaming exactly-once
    * bookkeeping (file-source log + sink commit log), so a crashed or
    * re-run job never double-ingests and never skips.
    *
    * Returns the number of rows in `outDir` after the run (for callers /
    * specs; the data path never touches the driver).
    */
  def incrementalIngest(spark: SparkSession, srcDir: String,
                        schema: org.apache.spark.sql.types.StructType,
                        checkpointDir: String, outDir: String): Long = {
    val q = spark.readStream
      .schema(schema)
      .parquet(srcDir)
      .transform(graft.operators.TextAnalysis.stats)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir).count()
  }

  /** Tumbling event-time window counts with a watermark. Late rows beyond
    * the watermark are dropped; state for closed windows is evicted.
    */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     watermark: String, windowLen: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col(keyCol), col("n"))

  /** Streaming exact dedup on an id column, watermark-bounded (the
    * streaming face of Dedup.dedup_exact). dropDuplicatesWithinWatermark
    * keys on the id ALONE — a retried event with the same id but a later
    * timestamp is still a duplicate (dropDuplicates(id, ts) would let it
    * through); state for an id is evicted once the watermark passes it.
    */
  def dedupStream(events: DataFrame, tsCol: String, idCol: String,
                  watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(idCol)

  /** Streaming CONTENT dedup (the streaming face of Dedup.dedup_exact):
    * keys the watermark-bounded duplicate state on the raw 16-byte md5
    * digest of the content (`unhex(md5(...))` — binary, not the 32-char
    * hex string), so a re-ingested document with a new id but identical
    * bytes is dropped and state per digest is 16 bytes + watermark
    * bookkeeping — the same shuffle-digests-not-documents shape as the
    * batch operator.
    */
  def dedupStreamByContent(docs: DataFrame, tsCol: String, contentCol: String,
                           watermark: String): DataFrame = {
    require(!docs.columns.contains("_content_md5"),
      "dedupStreamByContent: input may not include the reserved column _content_md5")
    docs
      .withColumn("_content_md5", unhex(md5(col(contentCol))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_content_md5")
      .drop("_content_md5")
  }

  case class Click(user: String, ts: Timestamp)
  case class Session(user: String, start: Timestamp, end: Timestamp, nEvents: Int)
  // public: Spark's state-store encoder generates code that constructs it
  case class SessionState(start: Long, end: Long, n: Int)

  /** Gap-based sessionization via flatMapGroupsWithState: a session closes
    * when no event arrives within `gapMs` (enforced by event-time timeout
    * against the watermark). Emits one row per closed session.
    */
  def sessionize(clicks: Dataset[Click], watermark: String, gapMs: Long): Dataset[Session] = {
    val spark = clicks.sparkSession
    import spark.implicits._
    clicks
      .withWatermark("ts", watermark)
      .groupByKey(_.user)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: String, rows: Iterator[Click], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(user, new Timestamp(s.start), new Timestamp(s.end), s.n))
          } else {
            // flatMapGroupsWithState does NOT filter late rows — drop
            // anything at/below the watermark ourselves, like the built-in
            // watermark operators do. Without this, (a) an event far in the
            // past would merge into the current session (t - end <= gap is
            // trivially true for old t), and (b) a late event for a fresh
            // key would setTimeoutTimestamp below the watermark, which
            // THROWS and kills the query.
            val wm = state.getCurrentWatermarkMs()
            val sorted = rows.map(_.ts.getTime).filter(_ > wm).toSeq.sorted
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { t =>
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(SessionState(math.min(s.start, t), math.max(s.end, t), s.n + 1))
                case Some(s) =>
                  closed ::= Session(user, new Timestamp(s.start), new Timestamp(s.end), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // timeout must be strictly above the watermark or Spark throws
              state.setTimeoutTimestamp(math.max(s.end + gapMs, wm + 1))
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming near-dup ingestion gate: drain `srcDir` with
    * `Trigger.AvailableNow`, check each micro-batch against a STATIC
    * reference MinHash signature index (Dedup.signatureIndex output), and
    * write only the survivors — documents with NO est-Jaccard >= 0.5
    * near-dup in the reference — to `outDir`.
    *
    * foreachBatch is the right pattern here, not stream transforms: the
    * signature computation is an explode + 32-column aggregation (the
    * measured-fast batch shape); a pure streaming formulation would force
    * the per-row interpreted-HOF fold that Dedup's scaladoc documents as
    * ~30x slower. Idempotence on retry: each micro-batch OVERWRITES its
    * own `batch=<id>` subdirectory, so a replayed batch rewrites the same
    * files instead of appending duplicates.
    *
    * At 100 TB the reference index is precomputed and bucketed by band
    * key; the micro-batch side is small, so the band join broadcasts the
    * batch against it. Returns the survivor row count in `outDir`.
    */
  def nearDupIngest(spark: SparkSession, srcDir: String,
                    schema: org.apache.spark.sql.types.StructType,
                    refSigs: DataFrame, checkpointDir: String,
                    outDir: String): Long = {
    graft.Graft.init(spark) // graft_h60 on any caller session
    gatedIngest(spark, srcDir, schema, checkpointDir, outDir) { batch =>
      graft.operators.Dedup.minhashMatchesAgainst(batch.select("doc_id", "text"), refSigs)
    }
  }

  /** Shared ingestion-gate mechanics for [[nearDupIngest]] /
    * [[winnowIngest]]: drain `srcDir` with `Trigger.AvailableNow`,
    * anti-join each micro-batch against `hits(batch)` (doc_ids to drop),
    * OVERWRITE the batch's own `batch=<id>` subdirectory (idempotent on
    * retry — a replayed batch rewrites the same files instead of
    * appending), and count survivors. The final read passes the KNOWN
    * `schema`: a gate that drops every document leaves only _SUCCESS
    * markers, and schema inference over that glob would throw instead of
    * returning 0. What `hits` persisted for a batch is released after
    * the batch is written (Graft.releaseCaches, which leaves the caller's
    * cached reference index alone).
    */
  private def gatedIngest(spark: SparkSession, srcDir: String,
                          schema: org.apache.spark.sql.types.StructType,
                          checkpointDir: String, outDir: String)
                         (hits: DataFrame => DataFrame): Long = {
    val q = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        try batch.join(hits(batch), Seq("doc_id"), "left_anti")
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        finally graft.Graft.releaseCaches(spark)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.schema(schema).parquet(s"$outDir/batch=*").count()
  }

  /** Streaming winnow-overlap ingestion gate — the MOSS-fingerprint face
    * of [[nearDupIngest]]: each micro-batch's documents are fingerprinted
    * (Winnow.fingerprintsOf) and docs sharing >= `minShared` fingerprints
    * with the FROZEN reference index `refFps` are dropped. Unlike the
    * MinHash gate's probabilistic recall, the winnowing guarantee is
    * deterministic: any doc sharing a >= Winnow.GuaranteeLen-char run with
    * the reference fingerprints it in EVERY batch split, so stream ==
    * batch holds by construction (StreamingSpec proves it). Same
    * idempotent overwrite-per-batch-directory retry discipline.
    */
  def winnowIngest(spark: SparkSession, srcDir: String,
                   schema: org.apache.spark.sql.types.StructType,
                   refIdx: DataFrame, minShared: Long, checkpointDir: String,
                   outDir: String): Long = {
    graft.Graft.init(spark) // graft_h60 on any caller session
    gatedIngest(spark, srcDir, schema, checkpointDir, outDir) { batch =>
      graft.operators.Winnow.winnowMatchesAgainst(
        batch.select("doc_id", "text"), refIdx, minShared)
    }
  }

  case class FunnelEvent(user: String, ts: Timestamp, etype: String)
  case class FunnelPath(user: String, tViewUs: Option[Long],
                        tClickUs: Option[Long], tPurchaseUs: Option[Long])
  // public: Spark's state-store encoder generates code that constructs it
  case class FunnelState(views: List[Long], clicks: List[Long],
                         purchases: List[Long], lastSeenMs: Long)

  /** Streaming strictly-ordered funnel (the streaming face of
    * Behavior.funnel / `funnel_user_paths`): per user, first view, first
    * click strictly after that view, first purchase strictly after that
    * click. A user's funnel row is emitted once the watermark passes
    * `closeAfterMs` beyond their last seen event (event-time timeout), so
    * late events within the watermark still revise the path.
    *
    * State: the per-stage event-time lists for the user. Nothing smaller
    * is exactly correct under out-of-order arrival — an earlier view
    * arriving late lowers t_view, which can re-qualify a click that was
    * previously before the funnel start, so stage minima alone are not
    * recomputable. State is bounded by one user's events inside the
    * watermark horizon (tiny), keyed and evicted per user like sessionize.
    * Timestamps are tracked as epoch MICROSECONDS to match the batch
    * query's unix_micros output exactly.
    */
  def funnelStream(events: Dataset[FunnelEvent], watermark: String,
                   closeAfterMs: Long): Dataset[FunnelPath] = {
    val spark = events.sparkSession
    import spark.implicits._
    def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user)
      .flatMapGroupsWithState[FunnelState, FunnelPath](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: String, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            if (st.views.isEmpty) Iterator.empty
            else {
              val tv = st.views.min
              val tc = st.clicks.filter(_ > tv).minOption
              val tp = tc.flatMap(c => st.purchases.filter(_ > c).minOption)
              Iterator(FunnelPath(user, Some(tv), tc, tp))
            }
          } else {
            // drop late rows at/below the watermark ourselves (see
            // sessionize for why flatMapGroupsWithState requires this)
            val wm = state.getCurrentWatermarkMs()
            val fresh = rows.filter(_.ts.getTime > wm).toSeq
            val st0 = state.getOption.getOrElse(FunnelState(Nil, Nil, Nil, 0L))
            val st = fresh.foldLeft(st0) { (acc, e) =>
              val us = micros(e.ts)
              e.etype match {
                case "view" => acc.copy(views = us :: acc.views,
                  lastSeenMs = math.max(acc.lastSeenMs, e.ts.getTime))
                case "click" => acc.copy(clicks = us :: acc.clicks,
                  lastSeenMs = math.max(acc.lastSeenMs, e.ts.getTime))
                case "purchase" => acc.copy(purchases = us :: acc.purchases,
                  lastSeenMs = math.max(acc.lastSeenMs, e.ts.getTime))
                case _ => acc.copy(lastSeenMs = math.max(acc.lastSeenMs, e.ts.getTime))
              }
            }
            if (st.views.nonEmpty || st.clicks.nonEmpty || st.purchases.nonEmpty) {
              state.update(st)
              state.setTimeoutTimestamp(math.max(st.lastSeenMs + closeAfterMs, wm + 1))
            }
            Iterator.empty
          }
      }
  }

  case class RetEvent(user: Long, ts: Timestamp)
  // public: the state-store encoder's generated code constructs it
  case class RetState(days: List[Long], lastSeenMs: Long)
  case class RetRow(user: Long, cohortDay: Long, offsetDays: Int)

  /** Streaming retention cohorts (the streaming face of
    * `retention_cohorts`): per user, the distinct active DAYS are held in
    * state; once the watermark passes `closeAfterMs` beyond the user's
    * last event, one (cohort = first day, offset) row per active day is
    * emitted. The cohort itself can be revised by a late-but-in-watermark
    * earlier event — which is why the day SET is the state, not a running
    * (cohort, offsets) pair: stream-append semantics would otherwise emit
    * offsets against a cohort that later moves.
    *
    * State is bounded: distinct days inside the watermark horizon per
    * user (≤ horizon/day). The test aggregates the emitted rows to
    * (cohort, offset) counts and matches the DuckDB-oracled batch query.
    */
  def retentionStream(events: Dataset[RetEvent], watermark: String,
                      closeAfterMs: Long): Dataset[RetRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val MsPerDay = 86400000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user)
      .flatMapGroupsWithState[RetState, RetRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[RetEvent], state: GroupState[RetState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            if (st.days.isEmpty) Iterator.empty
            else {
              val cohort = st.days.min
              st.days.distinct.sorted.iterator
                .map(d => RetRow(user, cohort, (d - cohort).toInt))
            }
          } else {
            val wm = state.getCurrentWatermarkMs()
            val fresh = rows.filter(_.ts.getTime > wm).toSeq
            val st0 = state.getOption.getOrElse(RetState(Nil, 0L))
            val st = fresh.foldLeft(st0) { (acc, e) =>
              // ts is UTC; epoch-day via floor division matches to_date
              val day = math.floorDiv(e.ts.getTime, MsPerDay)
              RetState(day :: acc.days,
                math.max(acc.lastSeenMs, e.ts.getTime))
            }
            if (st.days.nonEmpty) {
              state.update(st)
              state.setTimeoutTimestamp(math.max(st.lastSeenMs + closeAfterMs, wm + 1))
            }
            Iterator.empty
          }
      }
  }

  case class ChatEvent(user: Long, ts: Timestamp, eventId: Long,
                       etype: String, props: String)
  // public: the state-store encoder's generated code constructs it.
  // State is O(1) per user: the render is tracked as (first-300-chars
  // head, total length) — appends only ever extend the tail, so
  // (head + suffix).take(300) maintains the exact prefix without ever
  // holding the full conversation string in the state store.
  case class ChatState(nEvents: Long, nTurns: Long, lastRole: String,
                       head: String, totalLen: Long)
  case class ChatRow(user_id: Long, n_events: Long, n_turns: Long,
                     n_chars: Int, rendered_head: String, truncated: Boolean)

  /** Streaming face of the batch `chat_render` conversation assembly:
    * per-user turn state (event count, turn count, last role, rendered
    * string) updated INCREMENTALLY — an arriving event either extends
    * the current turn (same role: append to the tail of the render) or
    * opens a new one (`<eot>` + new role prefix), which is exactly the
    * batch query's adjacent-same-role island merge replayed one event at
    * a time. Emits the user's updated row every batch (Update mode).
    *
    * Ordering contract: within a batch the group's rows are sorted by
    * (event-time micros, event_id) before folding; ACROSS batches the
    * stream must deliver each user's events in that order (the
    * log-replay/ingest ordering) — the same assumption the frozen-model
    * deploy faces make, and what the equivalence test feeds. State per
    * user is O(1): counts + last role + the 300-char render head +
    * total length — never the full conversation string (appends only
    * ever extend the tail, so `(head + suffix).take(300)` maintains the
    * exact prefix without holding the render).
    */
  def chatTurnStream(events: Dataset[ChatEvent]): Dataset[ChatRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val kRe = "\"k\": (\\d+)".r
    def micros(t: Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000) % 1000
    events
      .groupByKey(_.user)
      .flatMapGroupsWithState[ChatState, ChatRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[ChatEvent], state: GroupState[ChatState]) =>
          val fresh = rows.toSeq.sortBy(e => (micros(e.ts), e.eventId))
          val st0 = state.getOption.getOrElse(ChatState(0L, 0L, "", "", 0L))
          val st = fresh.foldLeft(st0) { (acc, e) =>
            val role =
              if (Set("click", "view", "signup")(e.etype)) "user"
              else "assistant"
            val k = kRe.findFirstMatchIn(e.props).map(_.group(1)).getOrElse("")
            val content = s"${e.etype} k=$k"
            val (suffix, turns) =
              if (acc.nEvents == 0L) (s"$role: $content", 1L)
              else if (role == acc.lastRole) (" " + content, acc.nTurns)
              else (" <eot> " + role + ": " + content, acc.nTurns + 1L)
            ChatState(acc.nEvents + 1L, turns, role,
              (acc.head + suffix).take(300), acc.totalLen + suffix.length)
          }
          state.update(st)
          Iterator(ChatRow(user, st.nEvents, st.nTurns, st.totalLen.toInt,
            st.head, st.totalLen > 300))
      }
  }

  /** Streaming quality filter + token stats over a text stream — the
    * streaming face of TextAnalysis.stats (stateless, pure projection; at
    * scale this is the map stage of a continuous ingest pipeline).
    */
  def textStatsStream(docs: DataFrame): DataFrame =
    graft.operators.TextAnalysis.stats(docs)

  /** Streaming face of the Gopher-rule quality gate: the identical
    * per-row flag battery runs on a document stream (stateless — the
    * filters a continuous ingest pipeline applies before anything
    * stateful sees the doc). stream == batch is by construction; the spec
    * proves it against the oracled quality_gopher_rules relation.
    */
  def gopherGateStream(docs: DataFrame): DataFrame =
    graft.operators.TextAnalysis.gopherRules(docs)

  /** Content-defined chunking applied per micro-batch (foreachBatch face,
    * like nearDupIngest): chunk boundaries are a pure function of each
    * document's own characters, so every batch chunks independently with
    * zero state, and stream union == batch run by construction (the spec
    * proves it against the oracled cdc_chunks relation). The per-doc lag
    * window inside cdcChunks is why this is a foreachBatch face, not a
    * stream transform — window functions aren't streamable, but the
    * batch plan is legal on each materialized micro-batch.
    */
  def cdcChunkBatch(docs: DataFrame): DataFrame =
    graft.operators.Retrieval.cdcChunks(docs)

  /** Stream-static enrichment join: the static dim is broadcast to every
    * task — no stream shuffle, no state. The dim is re-resolved per
    * micro-batch, so slowly-changing dims refresh on their own.
    */
  def enrichStream(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** Stream-stream join: both sides watermarked, and the join condition
    * carries an event-time range so the state store can evict rows older
    * than watermark + range (without the range bound, both sides' state
    * grows forever).
    *
    * `joinType` "inner" (default) or "left_outer"/"right_outer"/
    * "full_outer": outer results are NULL-padded rows emitted only once
    * the watermark proves no match can still arrive — they trail the
    * inner results by the watermark delay by construction.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       leftKey: String, rightKey: String,
                       leftTs: String, rightTs: String,
                       watermark: String, rangeSeconds: Long,
                       joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r, expr(
      s"$leftKey = $rightKey AND $rightTs >= $leftTs AND " +
        s"$rightTs <= $leftTs + interval $rangeSeconds seconds"), joinType)
  }

  /** Streaming heavy hitters, phase 1: watermarked tumbling-window token
    * counts over a text stream, append mode — each (window, term, cnt) row
    * emits exactly once, when the watermark closes its window, and every
    * row of one window emits in the same micro-batch (the watermark
    * crossing window-end releases them together). State is bounded by
    * (windows in flight) x (vocabulary), already aggregated — never raw
    * tokens.
    */
  def windowedTokenCounts(docs: DataFrame, tsCol: String, textCol: String,
                          windowDur: String, watermark: String): DataFrame =
    docs
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), explode(graft.operators.TextHash.toks(col(textCol))).as("term"))
      .groupBy(window(col(tsCol), windowDur), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("win_start"), col("term"), col("cnt"))

  /** Streaming drift monitor, phase 1: running per-(source, token) counts
    * as an unwindowed streaming aggregation in Complete output mode — the
    * state is the (sources × vocabulary) tally, already aggregated,
    * bounded by vocabulary size, never raw tokens. Phase 2 runs in
    * foreachBatch: feed each emitted tally through Drift.sourceKl — the
    * EXACT plan the batch drift_source_kl query uses — so after any
    * micro-batch the monitor's KL/entropy table equals the batch answer
    * over everything ingested so far, bit-for-bit (fixed-point sums; no
    * order dependence). StreamingSpec proves it on the fixture under
    * uneven batch splits.
    */
  def driftTokenCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(graft.operators.TextHash.toks(col("text"))).as("tok"))
      .groupBy("source", "tok")
      .agg(count(lit(1)).as("c"))

  /** Phase 2, applied per micro-batch (foreachBatch): top-k terms per
    * closed window. Because append mode delivers each window atomically,
    * per-batch top-k equals global per-window top-k. The row_number filter
    * is exactly the shape RewriteGroupTopK turns into the bounded-heap
    * GroupTopK operator — the streaming sink rides the same custom
    * machinery as the batch engine.
    */
  def topKPerWindow(batch: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("win_start").orderBy(desc("cnt"), asc("term"))
    batch.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  /** Streaming Count-Min Sketch: one constant-size sketch per micro-batch
    * (the CMS Aggregator's map-side combine does the heavy lifting inside
    * the batch), merged into a running sketch in foreachBatch. Because CMS
    * merge is associative AND commutative, the accumulated sketch is
    * bit-identical to a single batch pass over the same rows — regardless
    * of how the stream was micro-batched (StreamingSpec proves it against
    * the batch Aggregator). This is the streaming shape for any mergeable
    * sketch (HLL, quantile digests) at 100 TB: per-batch state is O(1),
    * nothing is replayed, and the merge point is a single tiny array.
    */
  def runningCmsSketch(tokenBatch: DataFrame): Array[Long] = {
    val cms = org.apache.spark.sql.functions.udaf(
      graft.functions.CountMinSketchAgg, org.apache.spark.sql.Encoders.STRING)
    val rows = tokenBatch.agg(cms(col("tok"))).collect()
    if (rows.isEmpty || rows.head.isNullAt(0))
      new Array[Long](graft.functions.CountMinSketchAgg.Depth *
        graft.functions.CountMinSketchAgg.Width)
    else rows.head.getSeq[Long](0).toArray
  }
}
