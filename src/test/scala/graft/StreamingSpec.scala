package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.storage.StorageLevel

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Click

/** Structured Streaming operators driven end-to-end with MemoryStream ->
  * memory sink: event-time windows close under watermark advance, sessions
  * emit on gap timeout, dedup drops in-watermark duplicates.
  */
class StreamingSpec extends SparkSpecBase {

  private def ts(sec: Int) = new Timestamp(sec * 1000L)

  test("windowedCounts: tumbling event-time windows close as watermark advances") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val out = StreamingOps.windowedCounts(
      in.toDF.toDF("ts", "user"), "ts", "user", "10 seconds", "30 seconds")
    val q = out.writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(5), "a"), (ts(10), "a"), (ts(25), "b"))
      q.processAllAvailable()
      // watermark still at 0 -> nothing emitted yet in append mode
      in.addData((ts(100), "c")) // watermark -> 90s; [0,30) closes
      q.processAllAvailable()
      in.addData((ts(200), "c")) // close [90,120) too
      q.processAllAvailable()
      val rows = s.sql("SELECT user, n FROM wc ORDER BY user").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows.contains(("a", 2L)) && rows.contains(("b", 1L)))
    } finally q.stop()
  }

  test("sessionize: sessions split on gap and emit on event-time timeout") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[Click]
    val out = StreamingOps.sessionize(in.toDS(), "5 seconds", gapMs = 10000L)
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append).start()
    try {
      // user u: events at 1s,3s (one session), then 60s (new session)
      in.addData(Click("u", ts(1)), Click("u", ts(3)), Click("u", ts(60)))
      q.processAllAvailable()
      // advance watermark far enough to time out both sessions
      in.addData(Click("w", ts(300)))
      q.processAllAvailable()
      in.addData(Click("w", ts(600)))
      q.processAllAvailable()
      val rows = s.sql("SELECT user, start, end, nEvents FROM sess WHERE user='u' ORDER BY start")
        .collect().map(r => (r.getTimestamp(1).getTime / 1000, r.getTimestamp(2).getTime / 1000, r.getInt(3)))
      assert(rows.toSeq === Seq((1L, 3L, 2), (60L, 60L, 1)))
    } finally q.stop()
  }

  test("windowedCounts(stream) equals the batch tumbling-window aggregation on the fixture") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val ev = Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)))
    val maxTs = ev.map(_._1.getTime).max

    val expected = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSet

    val in = MemoryStream[(Timestamp, String)]
    val out = StreamingOps.windowedCounts(
      in.toDF.toDF("ts", "event_type"), "ts", "event_type", "0 seconds", "1 hour")
    val q = out.writeStream.format("memory").queryName("wc_eq")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev.toSeq)
      q.processAllAvailable()
      // close the last window: watermark must pass its end
      in.addData((new Timestamp(maxTs + 2 * 3600 * 1000L), "sentinel"))
      q.processAllAvailable()
      val streamed = s.sql(
        "SELECT win_start, event_type, n FROM wc_eq WHERE event_type <> 'sentinel'")
        .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSet
      assert(streamed === expected,
        s"only-in-streaming: ${(streamed -- expected).take(3)}; only-in-batch: ${(expected -- streamed).take(3)}")
    } finally q.stop()
  }

  test("bloom gate on a stream equals the batch gate decisions (stream-static broadcast)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val batchGate = graft.operators.Sketches.queries("bloom_gate")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    val probeRows = graft.operators.Sketches.probes(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val bits = graft.operators.Sketches.bloomBits(spark, sfDir)

    val in = MemoryStream[(Long, String)]
    val out = graft.operators.Sketches.gateDecisions(
      in.toDF.toDF("probe_id", "key"), bits)
    val q = out.writeStream.format("memory").queryName("bloom_eq")
      .outputMode(OutputMode.Append).start()
    try {
      // two batches so the static filter is joined by >1 micro-batch
      val (a, b) = probeRows.splitAt(probeRows.length / 2)
      in.addData(a.toSeq); q.processAllAvailable()
      in.addData(b.toSeq); q.processAllAvailable()
      val streamed = s.sql("SELECT probe_id, bloom_positive FROM bloom_eq")
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
      assert(streamed === batchGate)
    } finally q.stop()
  }

  test("sessionize(stream) equals q_sessionize_batch on the full events fixture") {
    // Oracle-grade signal for streaming: the SAME corpus through the
    // stateful streaming operator and the oracled batch query must produce
    // identical sessions (same gap, 30 min).
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val gapMs = 1800L * 1000L
    // columns: user_id, session_id, n_events, session_start, session_end
    val batch = SparkEntry.queries("q_sessionize_batch")(spark, sfDir).collect()
      .map(r => (r.getLong(0).toString, r.getTimestamp(3).getTime,
        r.getTimestamp(4).getTime, r.getLong(2).toInt)).toSet

    val clicks = Tables.events(spark, sfDir)
      .select(col("user_id").cast("string"), col("ts"))
      .collect().map(r => Click(r.getString(0), r.getTimestamp(1)))
    val maxTs = clicks.map(_.ts.getTime).max

    val in = MemoryStream[Click]
    val out = StreamingOps.sessionize(in.toDS(), "0 seconds", gapMs)
    val q = out.writeStream.format("memory").queryName("sess_eq")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(clicks.toSeq)
      q.processAllAvailable()
      // two sentinel batches: the first advances the watermark past every
      // real session's (end + gap), the second triggers their timeouts
      in.addData(Click("sentinel", new Timestamp(maxTs + gapMs + 3600 * 1000L)))
      q.processAllAvailable()
      in.addData(Click("sentinel", new Timestamp(maxTs + 10 * gapMs)))
      q.processAllAvailable()
      val streamed = s.sql("SELECT user, start, end, nEvents FROM sess_eq WHERE user <> 'sentinel'")
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getInt(3))).toSet
      assert(streamed.size === batch.size,
        s"session count mismatch: streaming ${streamed.size} vs batch ${batch.size}")
      assert(streamed === batch,
        s"only-in-streaming: ${(streamed -- batch).take(3)}; only-in-batch: ${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("winnowIngest: streamed survivors equal the batch winnow-overlap answer") {
    import graft.operators.Winnow
    val s = spark
    import s.implicits._
    // Fixture docs PLUS three planted >65,535-char docs, so the gate is
    // proven past the old 16-bit position bound (the chunked encoding's
    // whole reason to exist): a long reference doc, a probe quoting 1,000
    // chars of it (must be dropped), and an unrelated long probe (must
    // survive).
    def longText(seed: Int): String = {
      val r = new scala.util.Random(seed)
      val sb = new StringBuilder
      while (sb.length < 70000) sb.append(('a' + r.nextInt(26)).toChar)
      sb.toString
    }
    val refLong = longText(1)
    val quote = refLong.substring(40000, 41000)
    val planted = Seq(
      (100000L, refLong), // % 5 == 0 -> reference side
      (100001L, longText(2).patch(20000, quote, 1000)), // probe, quotes ref
      (100002L, longText(3))) // probe, unrelated
    assert(planted.forall(_._2.length > 65535))
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .union(planted.toDF("doc_id", "text"))
    val allIds = docs.collect().map(_.getLong(0)).toSet
    val probe = docs.where(col("doc_id") % 5 =!= 0)
    val probeIds = allIds.filter(_ % 5 != 0)
    val refIdx = Winnow.referenceIndex(docs.where(col("doc_id") % 5 === 0))
      .localCheckpoint()
    // pair-grain threshold well above the measured shared-vocabulary
    // background (~9-14 shared fingerprints per best pair on this fixture)
    val minShared = 24L
    // batch ground truth: fingerprints depend only on each doc's own text,
    // so micro-batch boundaries cannot change the hit set
    val dropped = Winnow.winnowMatchesAgainst(probe, refIdx, minShared)
      .collect().map(_.getLong(0)).toSet
    Graft.releaseCaches(spark)
    assert(dropped.nonEmpty, "fixture near-dup twins must overlap the reference")
    assert(dropped.size < probeIds.size, "gate must not drop everything")
    assert(dropped.contains(100001L), "long probe quoting the long reference must be dropped")
    assert(!dropped.contains(100002L), "unrelated long probe must survive")

    val tmp = java.nio.file.Files.createTempDirectory("winnow").toString
    probe.repartition(3).write.parquet(s"$tmp/src")
    val n = StreamingOps.winnowIngest(spark, s"$tmp/src", probe.schema,
      refIdx, minShared, s"$tmp/ck", s"$tmp/out")
    val survivors = spark.read.parquet(s"$tmp/out/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == (probeIds -- dropped),
      s"extra: ${(survivors -- (probeIds -- dropped)).take(3)}; " +
        s"missing: ${((probeIds -- dropped) -- survivors).take(3)}")
    assert(n == survivors.size.toLong)
  }

  test("winnowIngest: all-dropped batches return 0, not a schema-inference failure") {
    import graft.operators.Winnow
    // every probe doc IS the reference, so each shares all its own
    // fingerprints (>= 1) and the gate drops everything: the survivor
    // glob holds only _SUCCESS markers
    val docs = spark.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "pack my box with five dozen liquor jugs right now")
    )).toDF("doc_id", "text")
    val refIdx = Winnow.referenceIndex(docs).localCheckpoint()
    val tmp = java.nio.file.Files.createTempDirectory("winnow0").toString
    docs.write.parquet(s"$tmp/src")
    val n = StreamingOps.winnowIngest(spark, s"$tmp/src", docs.schema,
      refIdx, 1L, s"$tmp/ck", s"$tmp/out")
    assert(n == 0L)
  }

  test("nearDupIngest: streamed survivors equal the batch cross-set minhash answer") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val allIds = docs.collect().map(_.getLong(0)).toSet
    val ref = docs.where(col("doc_id") % 5 === 0)
    // caller-owned cache: graft's per-batch release must leave it alone
    val refSigs = Dedup.signatureIndex(ref).persist()
    // batch ground truth: signatures depend only on each doc's own text,
    // so micro-batch boundaries cannot change the match set
    val dropped = Dedup.minhashMatchesAgainst(docs, refSigs)
      .collect().map(_.getLong(0)).toSet
    Graft.releaseCaches(spark)
    assert(dropped.nonEmpty, "fixture must produce at least the self-matches")
    assert((allIds & dropped) == dropped)

    val tmp = java.nio.file.Files.createTempDirectory("neardup").toString
    docs.repartition(3).write.parquet(s"$tmp/src")
    val n = StreamingOps.nearDupIngest(spark, s"$tmp/src", docs.schema,
      refSigs, s"$tmp/ck", s"$tmp/out")
    assert(refSigs.storageLevel != StorageLevel.NONE,
      "the caller's reference index must still be cached after every batch")
    refSigs.unpersist()
    val survivors = spark.read.parquet(s"$tmp/out/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == (allIds -- dropped),
      s"extra: ${(survivors -- (allIds -- dropped)).take(3)}; " +
        s"missing: ${((allIds -- dropped) -- survivors).take(3)}")
    assert(n == survivors.size.toLong)
  }

  test("split firewall at ingest: streamed train survivors exclude exactly the eval near-dups") {
    import graft.operators.{Corpus, Dedup, TextHash}
    val docs = Tables.documents(spark, sfDir)
    val k = TextHash.h60(concat(lit(Corpus.SplitSalt),
      col("doc_id").cast("string"))) % 1000
    val sp = docs.select(col("doc_id"),
      when(k < 800, "train").when(k < 900, "validation")
        .otherwise("test").as("split"))
    val trainDocs = docs.join(sp.where(col("split") === "train"), "doc_id")
      .select("doc_id", "text")
    val evalSigs = Dedup.signatureIndex(
      docs.join(sp.where(col("split") =!= "train"), "doc_id")
        .select("doc_id", "text"))
    val trainIds = trainDocs.collect().map(_.getLong(0)).toSet
    val flagged = SparkEntry.queries("split_firewall")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    Graft.releaseCaches(spark)
    assert(flagged.subsetOf(trainIds))

    val tmp = java.nio.file.Files.createTempDirectory("firewall").toString
    trainDocs.repartition(3).write.parquet(s"$tmp/src")
    val n = StreamingOps.nearDupIngest(spark, s"$tmp/src", trainDocs.schema,
      evalSigs, s"$tmp/ck", s"$tmp/out")
    val survivors = spark.read.parquet(s"$tmp/out/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == (trainIds -- flagged),
      s"extra: ${(survivors -- (trainIds -- flagged)).take(3)}; " +
        s"missing: ${((trainIds -- flagged) -- survivors).take(3)}")
    assert(n == survivors.size.toLong)
  }

  test("funnelStream equals the oracled funnel_user_paths/funnel_stages on the full fixture") {
    // Oracle-grade signal for streaming behavioral analytics: the SAME
    // events through the stateful streaming funnel and the DuckDB-oracled
    // batch queries must produce identical per-user paths (and hence
    // identical stage totals).
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.StreamingOps.FunnelEvent

    // columns: user_id, t_view_us, t_click_us, t_purchase_us
    val batch = SparkEntry.queries("funnel_user_paths")(spark, sfDir).collect()
      .map { r =>
        (r.getLong(0).toString, Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long]))
      }.toSet
    val stageTotals = SparkEntry.queries("funnel_stages")(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    val evs = Tables.events(spark, sfDir)
      .select(col("user_id").cast("string"), col("ts"), col("event_type"))
      .collect().map(r => FunnelEvent(r.getString(0), r.getTimestamp(1), r.getString(2)))
    val maxTs = evs.map(_.ts.getTime).max
    val closeMs = 3600L * 1000L

    val in = MemoryStream[FunnelEvent]
    val out = StreamingOps.funnelStream(in.toDS(), "0 seconds", closeMs)
    val q = out.writeStream.format("memory").queryName("funnel_eq")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(evs.toSeq)
      q.processAllAvailable()
      // two sentinel batches: first advances the watermark past every
      // user's (lastSeen + close), second fires their event-time timeouts
      in.addData(FunnelEvent("sentinel", new Timestamp(maxTs + closeMs + 3600 * 1000L), "view"))
      q.processAllAvailable()
      in.addData(FunnelEvent("sentinel", new Timestamp(maxTs + 10 * closeMs), "view"))
      q.processAllAvailable()
      val streamed = s.sql(
        "SELECT user, tViewUs, tClickUs, tPurchaseUs FROM funnel_eq WHERE user <> 'sentinel'")
        .collect()
        .map { r =>
          (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
            Option(r.get(2)).map(_.asInstanceOf[Long]),
            Option(r.get(3)).map(_.asInstanceOf[Long]))
        }.toSet
      assert(streamed.size === batch.size,
        s"funnel row count mismatch: streaming ${streamed.size} vs batch ${batch.size}")
      assert(streamed === batch,
        s"only-in-streaming: ${(streamed -- batch).take(3)}; only-in-batch: ${(batch -- streamed).take(3)}")
      // stage totals follow from identical paths — assert anyway as the
      // direct streaming counterpart of the oracled funnel_stages
      val st = Map(
        "1_view" -> streamed.count(_._2.isDefined).toLong,
        "2_click" -> streamed.count(_._3.isDefined).toLong,
        "3_purchase" -> streamed.count(_._4.isDefined).toLong)
      assert(st === stageTotals)
    } finally q.stop()
  }

  test("trained model scores a stream identically to batch (train-batch/deploy-stream)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.Learn
    val (w, _) = Learn.train(spark, sfDir)
    val wRow = w.localCheckpoint() // freeze the trained state for reuse
    val batch = Learn.queries("logreg_scores")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3))).toSet

    val docRows = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val in = MemoryStream[(Long, String, Long)]
    val out = Learn.scoreDocs(
      in.toDF.toDF("doc_id", "text", "n_chars"), wRow)
    val q = out.writeStream.format("memory").queryName("logreg_eq")
      .outputMode(OutputMode.Append).start()
    try {
      val (a, b) = docRows.splitAt(docRows.length / 2)
      in.addData(a.toSeq); q.processAllAvailable()
      in.addData(b.toSeq); q.processAllAvailable()
      val streamed = s.sql("SELECT * FROM logreg_eq").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3))).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("retentionStream equals the oracled retention_cohorts on the full fixture") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.StreamingOps.RetEvent

    val batch = SparkEntry.queries("retention_cohorts")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap

    val evs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"))
      .collect().map(r => RetEvent(r.getLong(0), r.getTimestamp(1)))
    val maxTs = evs.map(_.ts.getTime).max
    val closeMs = 3600L * 1000L

    val in = MemoryStream[RetEvent]
    val out = graft.streaming.StreamingOps.retentionStream(in.toDS(), "0 seconds", closeMs)
    val q = out.writeStream.format("memory").queryName("ret_eq")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(evs.toSeq)
      q.processAllAvailable()
      in.addData(RetEvent(-1L, new Timestamp(maxTs + closeMs + 3600 * 1000L)))
      q.processAllAvailable()
      in.addData(RetEvent(-2L, new Timestamp(maxTs + 3 * closeMs + 2 * 3600 * 1000L)))
      q.processAllAvailable()
      val streamed = s.sql("SELECT cohortDay, offsetDays, user FROM ret_eq WHERE user >= 0")
        .collect()
        .map(r => (java.time.LocalDate.ofEpochDay(r.getLong(0)).toString, r.getInt(1)))
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
      assert(streamed === batch,
        s"only-in-streaming: ${(streamed.keySet -- batch.keySet).take(3)}; " +
          s"only-in-batch: ${(batch.keySet -- streamed.keySet).take(3)}")
    } finally q.stop()
  }

  test("native session_window(stream) equals its batch result on the events fixture") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
    val maxTs = ev.map(_._2.getTime).max

    val batch = SparkEntry.queries("q_session_window_native")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
        r.getTimestamp(3).getTime)).toSet

    val in = MemoryStream[(Long, Timestamp)]
    val out = in.toDF.toDF("user_id", "ts")
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("session_start"), max("ts").as("session_end"))
      .select("user_id", "n_events", "session_start", "session_end")
    val q = out.writeStream.format("memory").queryName("swn")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev.toSeq)
      q.processAllAvailable()
      in.addData((-1L, new Timestamp(maxTs + 3600 * 1000L)))
      q.processAllAvailable()
      in.addData((-1L, new Timestamp(maxTs + 4 * 3600 * 1000L)))
      q.processAllAvailable()
      val streamed = s.sql(
        "SELECT user_id, n_events, session_start, session_end FROM swn WHERE user_id >= 0")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
          r.getTimestamp(3).getTime)).toSet
      assert(streamed === batch,
        s"only-in-streaming: ${(streamed -- batch).take(3)}; only-in-batch: ${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("dedupStream drops duplicate ids within the watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val out = StreamingOps.dedupStream(in.toDF.toDF("ts", "id"), "ts", "id", "1 minute")
    val q = out.writeStream.format("memory").queryName("dd")
      .outputMode(OutputMode.Append).start()
    try {
      // id 7 retried with a DIFFERENT timestamp must still dedup (keying is
      // on the id alone, not (id, ts))
      in.addData((ts(1), 7L), (ts(1), 7L), (ts(2), 8L), (ts(3), 7L))
      q.processAllAvailable()
      val n = s.sql("SELECT count(*) FROM dd").collect()(0).getLong(0)
      assert(n === 2L)
    } finally q.stop()
  }

  test("dedupStreamByContent drops re-ingested identical content under new ids") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingOps.dedupStreamByContent(
      in.toDF.toDF("ts", "doc_id", "text"), "ts", "text", "1 minute")
    val q = out.writeStream.format("memory").queryName("cdd")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        (ts(1), 1L, "the quick brown fox"),
        (ts(2), 2L, "the quick brown fox"), // same bytes, new id -> dropped
        (ts(3), 3L, "something else"),
        (ts(4), 1L, "the quick brown fox")) // retried id -> dropped
      q.processAllAvailable()
      val rows = s.sql("SELECT doc_id, text FROM cdd ORDER BY doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(rows === Seq((1L, "the quick brown fox"), (3L, "something else")))
      // the helper digest column must not leak into the output schema
      assert(!out.schema.fieldNames.contains("_content_md5"))
    } finally q.stop()
  }

  test("enrichStream joins a static dim without shuffling the stream") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dim = Seq(("a", "alpha"), ("b", "beta")).toDF("user", "full_name")
    val in = MemoryStream[(Timestamp, String)]
    val out = StreamingOps.enrichStream(in.toDF.toDF("ts", "user"), dim, "user")
    val q = out.writeStream.format("memory").queryName("enr")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(1), "a"), (ts(2), "c"))
      q.processAllAvailable()
      val rows = s.sql("SELECT user, full_name FROM enr ORDER BY user").collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).toSeq
      assert(rows === Seq(("a", Some("alpha")), ("c", None)))
    } finally q.stop()
  }

  test("streamStreamJoin matches events within the time range, drops outside") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val impressions = MemoryStream[(Timestamp, String)]
    val clicks = MemoryStream[(Timestamp, String)]
    val out = StreamingOps.streamStreamJoin(
      impressions.toDF.toDF("imp_ts", "imp_user"),
      clicks.toDF.toDF("click_ts", "click_user"),
      "imp_user", "click_user", "imp_ts", "click_ts",
      watermark = "10 seconds", rangeSeconds = 30L)
    val q = out.writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append).start()
    try {
      impressions.addData((ts(10), "u1"), (ts(10), "u2"))
      clicks.addData((ts(20), "u1"), (ts(100), "u2")) // u2 click outside 30s range
      q.processAllAvailable()
      val rows = s.sql("SELECT imp_user FROM ssj").collect().map(_.getString(0)).toSeq
      assert(rows === Seq("u1"))
    } finally q.stop()
  }

  test("streamStreamJoin left_outer emits NULL-padded rows once the watermark closes the window") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val impressions = MemoryStream[(Timestamp, String)]
    val clicks = MemoryStream[(Timestamp, String)]
    val out = StreamingOps.streamStreamJoin(
      impressions.toDF.toDF("imp_ts", "imp_user"),
      clicks.toDF.toDF("click_ts", "click_user"),
      "imp_user", "click_user", "imp_ts", "click_ts",
      watermark = "5 seconds", rangeSeconds = 30L, joinType = "left_outer")
    val q = out.writeStream.format("memory").queryName("ssjo")
      .outputMode(OutputMode.Append).start()
    try {
      impressions.addData((ts(10), "matched"), (ts(10), "unmatched"))
      clicks.addData((ts(20), "matched"))
      q.processAllAvailable()
      // inner match emits immediately; the unmatched row must NOT emit yet
      // (its 30s range window is still open)
      val early = s.sql("SELECT imp_user FROM ssjo").collect().map(_.getString(0)).toSeq
      assert(early === Seq("matched"))
      // advance both watermarks far past imp_ts 10 + 30s range
      impressions.addData((ts(500), "wm1"))
      clicks.addData((ts(500), "wm2"))
      q.processAllAvailable()
      impressions.addData((ts(900), "wm3"))
      clicks.addData((ts(900), "wm4"))
      q.processAllAvailable()
      val rows = s.sql("SELECT imp_user, click_user FROM ssjo WHERE imp_user IN ('matched','unmatched')")
        .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
      assert(rows === Set(("matched", Some("matched")), ("unmatched", None)),
        s"got $rows")
    } finally q.stop()
  }

  test("streaming heavy hitters: per-window top-k via foreachBatch equals the batch answer") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val counts = StreamingOps.windowedTokenCounts(
      in.toDF.toDF("ts", "text"), "ts", "text", "10 seconds", "5 seconds")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Int)]
    val q = counts.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // per-batch top-k is sound: append mode emits each window atomically
        StreamingOps.topKPerWindow(batch, k = 2).collect().foreach { r =>
          got.synchronized {
            got += ((r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2), r.getInt(3)))
          }
        }
      }
      .start()
    try {
      // window [0,10): a x3, b x2, c x1 -> top2 = a, b
      in.addData((ts(1), "a b a"), (ts(3), "a b c"))
      // window [10,20): c x2, d x1 -> top2 = c, d
      in.addData((ts(11), "c c d"))
      q.processAllAvailable()
      in.addData((ts(100), "zz")) // watermark past both windows
      q.processAllAvailable()
      in.addData((ts(200), "zz"))
      q.processAllAvailable()
      val closed = got.filter(_._1 < 100).sortBy(r => (r._1, r._4))
      assert(closed.toSeq === Seq(
        (0L, "a", 3L, 1), (0L, "b", 2L, 2),
        (10L, "c", 2L, 1), (10L, "d", 1L, 2)))
    } finally q.stop()
  }

  test("foreachBatch sink writes each micro-batch to parquet exactly once") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_febatch").toString
    val in = MemoryStream[(Timestamp, Long)]
    val q = in.toDF.toDF("ts", "id").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("append").parquet(s"$dir/out")
      }
      .start()
    try {
      in.addData((ts(1), 1L), (ts(2), 2L))
      q.processAllAvailable()
      in.addData((ts(3), 3L))
      q.processAllAvailable()
      val n = s.read.parquet(s"$dir/out").count()
      assert(n === 3L)
    } finally q.stop()
  }

  test("incrementalIngest: AvailableNow processes only new files, exactly once") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_incr").toString
    val (src, ckpt, out) = (s"$base/src", s"$base/ckpt", s"$base/out")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))

    // run 1: two docs arrive
    Seq((1L, "the quick brown fox"), (2L, "jumps over the lazy dog"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    assert(StreamingOps.incrementalIngest(s, src, schema, ckpt, out) === 2L)

    // run 2: one NEW doc — checkpoint resume must ingest only it
    Seq((3L, "a third document arrives later"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    assert(StreamingOps.incrementalIngest(s, src, schema, ckpt, out) === 3L)
    // the new doc is present exactly once, with the stats transform applied
    val r3 = s.read.parquet(out).where(col("doc_id") === 3L).collect()
    assert(r3.length === 1 && r3(0).getAs[Int]("n_tokens") === 5, r3.mkString(","))

    // run 3: nothing new — a re-run must be a no-op (no double ingestion)
    assert(StreamingOps.incrementalIngest(s, src, schema, ckpt, out) === 3L)
  }

  test("streaming CMS: foreachBatch-merged sketch is bit-identical to one batch pass") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.functions.CountMinSketchAgg
    val texts = Tables.documents(s, sfDir).select("text")
      .limit(60).as[String].collect()
    val in = MemoryStream[String]
    val acc = new Array[Long](CountMinSketchAgg.Depth * CountMinSketchAgg.Width)
    val q = in.toDF.toDF("text")
      .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val sk = StreamingOps.runningCmsSketch(batch)
        var i = 0
        while (i < acc.length) { acc(i) += sk(i); i += 1 }
      }
      .start()
    try {
      // three uneven micro-batches — merge order/batching must not matter
      in.addData(texts.take(7): _*); q.processAllAvailable()
      in.addData(texts.slice(7, 40): _*); q.processAllAvailable()
      in.addData(texts.drop(40): _*); q.processAllAvailable()
    } finally q.stop()
    val cms = org.apache.spark.sql.functions.udaf(
      CountMinSketchAgg, org.apache.spark.sql.Encoders.STRING)
    val batchSketch = texts.toSeq.toDF("text")
      .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
      .agg(cms($"tok")).head.getSeq[Long](0)
    assert(acc.toSeq == batchSketch)
  }

  test("streaming grouped quantile sketch (complete-mode agg state) equals one batch pass") {
    // Unlike the CMS test (driver-merged in foreachBatch), here the sketch
    // IS the streaming aggregation state: the typed Aggregator's buffer
    // lives in the state store and merges across micro-batches — the
    // grouped-quantile shape a 100 TB ingest monitor would run.
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val qsk = org.apache.spark.sql.functions.udaf(
      graft.functions.HistQuantileAgg, org.apache.spark.sql.Encoders.scalaLong)
    val rows = Tables.lineitem(s, sfDir)
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .limit(500).as[(String, Long)].collect()
    val in = MemoryStream[(String, Long)]
    val q = in.toDF.toDF("flag", "cents")
      .groupBy("flag").agg(qsk(col("cents")).as("sk"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("qsk_stream").start()
    try {
      // uneven micro-batches: state-store merge order must not matter
      in.addData(rows.take(123): _*); q.processAllAvailable()
      in.addData(rows.slice(123, 130): _*); q.processAllAvailable()
      in.addData(rows.drop(130): _*); q.processAllAvailable()
    } finally q.stop()
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select(col("flag"), posexplode(col("sk")).as(Seq("bin", "cnt")))
      .where(col("cnt") > 0)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val got = cells(s.table("qsk_stream"))
    val want = cells(rows.toSeq.toDF("flag", "cents")
      .groupBy("flag").agg(qsk(col("cents")).as("sk")))
    assert(got === want)
  }

  test("streaming drift monitor equals the oracled drift_source_kl after the final batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val docs = Tables.documents(s, sfDir).select("source", "text")
      .as[(String, String)].collect()
    val batchAnswer = graft.operators.Drift.queries("drift_source_kl")(s, sfDir)
      .collect().map(_.toSeq).toSeq

    val in = MemoryStream[(String, String)]
    var last: Seq[Seq[Any]] = Nil
    val q = StreamingOps.driftTokenCounts(in.toDF.toDF("source", "text"))
      .writeStream
      .outputMode(OutputMode.Complete)
      .foreachBatch { (counts: org.apache.spark.sql.DataFrame, _: Long) =>
        last = graft.operators.Drift.sourceKl(counts).collect().map(_.toSeq).toSeq
      }
      .start()
    try {
      // three uneven micro-batches — the tally in Complete mode must make
      // the final KL independent of how the stream was chopped
      in.addData(docs.take(13).toSeq); q.processAllAvailable()
      val mid = last
      in.addData(docs.slice(13, 200).toSeq); q.processAllAvailable()
      in.addData(docs.drop(200).toSeq); q.processAllAvailable()
      assert(last == batchAnswer)
      // and the mid-stream snapshot was a genuine prefix answer, not empty
      assert(mid.nonEmpty && mid != batchAnswer)
    } finally q.stop()
  }

  test("streaming CUSUM monitor equals the oracled ts_cusum after the final batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val evTs = Tables.events(s, sfDir).select("ts")
      .as[java.sql.Timestamp].collect()
    val batchAnswer = graft.operators.TimeSeries.queries("ts_cusum")(s, sfDir)
      .collect().map(_.toSeq).toSeq

    val in = MemoryStream[java.sql.Timestamp]
    var last: Seq[Seq[Any]] = Nil
    // phase 1: day-grain running counts (state bounded by |days|);
    // phase 2: the SHARED cusumOf finisher per micro-batch
    val q = graft.operators.TimeSeries.dailyEventCounts(in.toDF.toDF("ts"))
      .writeStream
      .outputMode(OutputMode.Complete)
      .foreachBatch { (counts: org.apache.spark.sql.DataFrame, _: Long) =>
        last = graft.operators.TimeSeries.cusumOf(counts)
          .collect().map(_.toSeq).toSeq
      }
      .start()
    try {
      // uneven chops: the final CUSUM must not depend on batch boundaries
      in.addData(evTs.take(17).toSeq); q.processAllAvailable()
      val mid = last
      in.addData(evTs.slice(17, 3000).toSeq); q.processAllAvailable()
      in.addData(evTs.drop(3000).toSeq); q.processAllAvailable()
      assert(last == batchAnswer)
      assert(mid.nonEmpty && mid != batchAnswer)
    } finally q.stop()
  }

  test("textStatsStream applies the batch stats transform to a stream") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = StreamingOps.textStatsStream(in.toDF.toDF("doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("tst")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((1L, "the quick brown fox"))
      q.processAllAvailable()
      val r = s.sql("SELECT n_tokens, quality_score FROM tst").collect()(0)
      assert(r.getInt(0) === 4)
      assert(r.getDouble(1) > 0.0)
    } finally q.stop()
  }

  test("cdcChunkBatch over micro-batches == batch cdc_chunks (stateless per doc)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = in.toDF.toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        acc.synchronized {
          acc ++= StreamingOps.cdcChunkBatch(batch).collect().map(_.toSeq)
        }
        ()
      }
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(docs.take(docs.length / 3): _*)
      q.processAllAvailable()
      in.addData(docs.drop(docs.length / 3): _*)
      q.processAllAvailable()
      val want = graft.operators.Retrieval
        .queries("cdc_chunks")(spark, sfDir).collect().map(_.toSeq).toSet
      assert(acc.toSet == want,
        "chunks accumulated across micro-batches must equal the oracled batch relation")
    } finally q.stop()
  }

  test("gopherGateStream == batch quality_gopher_rules on streamed fixture docs") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val out = StreamingOps.gopherGateStream(in.toDF.toDF("doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("ggs")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(docs.take(docs.length / 2): _*)
      q.processAllAvailable()
      in.addData(docs.drop(docs.length / 2): _*) // two micro-batches
      q.processAllAvailable()
      val got = s.sql("SELECT * FROM ggs").collect().map(_.toSeq).toSet
      val want = graft.operators.TextAnalysis
        .queries("quality_gopher_rules")(spark, sfDir).collect().map(_.toSeq).toSet
      assert(got == want, "streamed gate must equal the oracled batch relation")
    } finally q.stop()
  }

  test("intervalOverlapJoin runs stream-static unchanged, equal to the batch join") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.Joins
    // static side: lineitem transit windows (the q_interval_overlap B side)
    val bDay = expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
    val staticB = Tables.lineitem(spark, sfDir)
      .where(col("l_suppkey") % 50 === 0)
      .select(col("l_orderkey").as("b_order"), col("l_linenumber").as("b_line"),
        bDay.as("rs"), (bDay + col("l_linenumber") % 7 + 1).as("re"))
      .localCheckpoint()
    // streaming side: urgent-order fulfillment windows arriving as a stream
    val aDay = expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
    val aRows = Tables.orders(spark, sfDir)
      .where(col("o_orderpriority") === "1-URGENT" && col("o_custkey") % 20 === 0)
      .select(col("o_orderkey").as("a_key"), aDay.as("ls"), (aDay + 4).as("le"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val batch = Joins.intervalOverlapJoin(
        spark.createDataFrame(aRows.toSeq).toDF("a_key", "ls", "le"), staticB, 8L)
      .select("a_key", "b_order", "b_line")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val in = MemoryStream[(Long, Long, Long)]
    val out = Joins.intervalOverlapJoin(in.toDF.toDF("a_key", "ls", "le"), staticB, 8L)
      .select("a_key", "b_order", "b_line")
    val q = out.writeStream.format("memory").queryName("iv_enrich")
      .outputMode(OutputMode.Append).start()
    try {
      val (x, y) = aRows.splitAt(aRows.length / 2)
      in.addData(x.toSeq); q.processAllAvailable()
      in.addData(y.toSeq); q.processAllAvailable()
      val streamed = s.sql("SELECT * FROM iv_enrich").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(streamed === batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("substring contamination gate on a stream equals batch and the oracled query") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.{Corpus, Substring}
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    // freeze the benchmark gram set (benchmark-sized state, like a model)
    val bg = Substring
      .benchmarkGrams(docs.where(col("doc_id") % Corpus.BenchMod === 0))
      .localCheckpoint()
    val probe = docs.where(col("doc_id") % Corpus.BenchMod =!= 0)
    val batch = Substring.exactContamination(probe, bg).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toSet
    val oracled = Substring.queries("contam_exact_coverage")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toSet
    assert(batch === oracled && batch.nonEmpty)

    val probeRows = probe.collect().map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.Set[(Long, Long, Long, Long, Boolean)]()
    val q = in.toDF.toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        acc.synchronized {
          acc ++= Substring.exactContamination(b, bg).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
              r.getBoolean(4)))
        }
        ()
      }.start()
    try {
      val (a, b2) = probeRows.splitAt(probeRows.length / 2)
      in.addData(a.toSeq); q.processAllAvailable()
      in.addData(b2.toSeq); q.processAllAvailable()
      assert(acc.synchronized(acc.toSet) === batch)
    } finally q.stop()
  }

  test("frozen BPE merges re-encode a stream identically to batch and the oracled query") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.BpeTrainer
    // train once, freeze the artifact (merge table is Merges-row-sized)
    val merges = BpeTrainer.train(spark, sfDir)._1.localCheckpoint()
    val batch = BpeTrainer
      .encodeDocs(Tables.documents(spark, sfDir).select("doc_id", "text"), merges)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // the fold-based re-encoder reproduces the oracled training-words join
    val oracled = BpeTrainer.queries("bpe_doc_tokens")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(batch === oracled && batch.nonEmpty)

    val docRows = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.Set[(Long, Long, Long, Double)]()
    val q = in.toDF.toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        acc.synchronized {
          acc ++= BpeTrainer.encodeDocs(b, merges).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        }
        ()
      }.start()
    try {
      val (a, b2) = docRows.splitAt(docRows.length / 2)
      in.addData(a.toSeq); q.processAllAvailable()
      in.addData(b2.toSeq); q.processAllAvailable()
      assert(acc.synchronized(acc.toSet) === batch)
    } finally q.stop()
  }

  test("frozen unigram-LM inventory encodes a stream identically to batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.UnigramLm
    // train once, freeze the inventory (piece table is vocabulary-sized)
    val pieces = UnigramLm.train(spark, sfDir)._1.localCheckpoint()
    val batch = UnigramLm
      .encodeDocs(Tables.documents(spark, sfDir).select("doc_id", "text"), pieces)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(batch.nonEmpty)

    val docRows = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.Set[(Long, Long, Long, Double)]()
    val q = in.toDF.toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        acc.synchronized {
          acc ++= UnigramLm.encodeDocs(b, pieces).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        }
        ()
      }.start()
    try {
      val (a, b2) = docRows.splitAt(docRows.length / 2)
      in.addData(a.toSeq); q.processAllAvailable()
      in.addData(b2.toSeq); q.processAllAvailable()
      assert(acc.synchronized(acc.toSet) === batch)
    } finally q.stop()
  }

  test("NB classifier scores a stream identically to batch (train-batch/deploy-stream)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.Learn
    // freeze the trained model state (every relation class×vocab-bounded)
    val m0 = Learn.nbModel(spark, sfDir)
    val m = Learn.NbModel(m0.cc.localCheckpoint(), m0.ctot.localCheckpoint(),
      m0.v.localCheckpoint(), m0.pri.localCheckpoint())
    val batch = Learn.nbPredict(
        Learn.nbScoreDocs(Tables.documents(spark, sfDir).select("doc_id", "text"), m))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    // the frozen-model scorer reproduces the oracled query's predictions
    val oracled = Learn.queries("nb_lang_scores")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getDouble(3))).toSet
    assert(batch === oracled)

    val docRows = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.Set[(Long, String, Double)]()
    val q = in.toDF.toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        acc.synchronized {
          acc ++= Learn.nbPredict(Learn.nbScoreDocs(b, m)).collect()
            .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        }
        ()
      }.start()
    try {
      val (a, b2) = docRows.splitAt(docRows.length / 2)
      in.addData(a.toSeq); q.processAllAvailable()
      in.addData(b2.toSeq); q.processAllAvailable()
      assert(acc.synchronized(acc.toSet) === batch)
    } finally q.stop()
  }

  test("chatTurnStream incremental render == batch chat_render after the final batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val batch = graft.operators.Behavior.queries("chat_render")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getString(4), r.getBoolean(5))).toSet

    // feed events in the global (ts, event_id) order — each user's
    // subsequence arrives in order, the streaming face's contract
    val evRows = Tables.events(spark, sfDir)
      .select("user_id", "ts", "event_id", "event_type", "props")
      .orderBy("ts", "event_id").collect()
      .map(r => StreamingOps.ChatEvent(r.getLong(0), r.getTimestamp(1),
        r.getLong(2), r.getString(3), r.getString(4)))
    val in = MemoryStream[StreamingOps.ChatEvent]
    val out = StreamingOps.chatTurnStream(in.toDS())
    val q = out.writeStream.format("memory").queryName("chat_turns")
      .outputMode(OutputMode.Update).start()
    try {
      // uneven chops: turn merges must span micro-batch boundaries
      val (a, rest) = evRows.splitAt(13)
      val (b, c) = rest.splitAt(evRows.length / 2)
      in.addData(a.toSeq); q.processAllAvailable()
      in.addData(b.toSeq); q.processAllAvailable()
      in.addData(c.toSeq); q.processAllAvailable()
      // update-mode memory sink appends every revision; keep each user's
      // final one (max n_events)
      val fin = spark.sql("SELECT * FROM chat_turns").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
          r.getString(4), r.getBoolean(5)))
        .groupBy(_._1).values.map(_.maxBy(_._2)).toSet
      assert(fin === batch)
    } finally q.stop()
  }

  test("streaming canonical-URL dedup: variant pairs collapse to one survivor each") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.UrlOps
    // the batch query's planted variant-pair groups are the ground truth
    val batchGroups = UrlOps.queries("url_normalize_dedup")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap // canon -> keeper
    // feed both variants of every pair through the canonicalize+dedup gate
    val raw = Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("doc_id")).collect().map(_.getLong(0))
      .sorted.map { id =>
        val b = id - id % 2
        val host0 = Seq("", "www.", "cdn.", "blog.")((b % 4).toInt) +
          Seq("example.com", "data.org", "files.net", "archive.co.uk",
            "mirror.ac.uk")((b % 5).toInt)
        val odd = id % 2 == 1
        val url = "https://" + (if (odd) host0.toUpperCase else host0) +
          (if (odd) ":443" else "") + "/p/doc" + b + (if (odd) "/" else "") +
          (if (odd) s"?utm_source=feed&id=$b&utm_campaign=x" else s"?id=$b") +
          (if (odd) "#top" else "")
        (new Timestamp(1700000000000L + id), id, url)
      }
    val in = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingOps.dedupStreamByContent(
      in.toDF.toDF("ts", "doc_id", "url")
        .withColumn("canon", UrlOps.canonicalUrl(col("url"))),
      "ts", "canon", "1 hour")
    val q = out.writeStream.format("memory").queryName("url_gate")
      .outputMode(OutputMode.Append).start()
    try {
      val (a, b) = raw.splitAt(raw.length / 3)
      in.addData(a.toSeq); q.processAllAvailable()
      in.addData(b.toSeq); q.processAllAvailable()
      val survivors = spark.sql("SELECT canon, doc_id FROM url_gate").collect()
        .map(r => r.getString(0) -> r.getLong(1))
      // exactly one survivor per canonical group, and it is the batch
      // keeper (min doc_id = first-arriving variant in doc_id order)
      assert(survivors.length == batchGroups.size)
      survivors.foreach { case (canon, id) =>
        assert(batchGroups(canon) == id, s"$canon keeper")
      }
    } finally q.stop()
  }
}
