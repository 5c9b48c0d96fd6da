package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probe: regenerate the documents/embeddings fixtures at a
  * multiple of sf0.1 (deterministic — SynthDocsSource for text, md5-seeded
  * arrays for embeddings) plus a handful of >ChunkLen GIANT documents, and
  * run one representative query per heavy family against the scaled dir,
  * recording wall seconds and shuffle read/write bytes per query. This is
  * the cliff hunt the per-query plan locks cannot see: a plan that is
  * bucketed on paper can still go quadratic inside a bucket when N grows
  * 20x, and the winnow multi-chunk path only ever executes on docs longer
  * than 2^20 chars — which no driver fixture contains.
  *
  * Usage: runMain graft.ScaleProbe [multiplier] [workDir]
  * Results land in SCALEPROBE.md (referenced from BASELINE.md).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(20)
    val work = if (args.length > 1) args(1) else "/tmp/graft_scaleprobe"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Graft.init(spark)

    val nDocs = 5000L * mult
    val nVec = 2000L * mult
    val dir = s"$work/x$mult"

    // ---- corpus: SynthDocsSource text + fixture-compatible columns
    if (!new java.io.File(s"$dir/documents.parquet").isDirectory) {
      val docs = spark.read.format("graft.sources.SynthDocsSource")
        .option("rows", nDocs.toString).option("slices", "64").load()
        .select(col("doc_id"), col("text"), col("lang"),
          concat(lit("src"), pmod(col("doc_id"), lit(20))).as("source"),
          length(col("text")).as("n_chars"))
      // GIANT docs (2.2M chars — past even the position field's 2^20-1
      // chunk ceiling): the multi-chunk path against materialized data.
      // Two of them share a planted run so the overlap report has a
      // cross-giant signal to find.
      val giantLen = 2200000
      def giantText(seed: Int, planted: String): String = {
        val sb = new StringBuilder(giantLen + 32)
        var i = 0
        while (sb.length < giantLen / 2) {
          sb.append("w").append(graft.sources.SynthDocs.h60(s"g:$seed:$i") % 99989)
            .append(' ')
          i += 1
        }
        sb.append(planted)
        while (sb.length < giantLen) {
          sb.append(" w").append(graft.sources.SynthDocs.h60(s"h:$seed:$i") % 99989)
          i += 1
        }
        sb.toString
      }
      val planted = (0 until 20).map(i => s"planted$i").mkString(" ")
      import spark.implicits._
      val giants = Seq(
        (nDocs, giantText(1, planted), "en", "src_g", 0),
        (nDocs + 1, giantText(2, planted), "en", "src_g", 0),
        (nDocs + 2, giantText(3, "x"), "en", "src_g", 0))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .withColumn("n_chars", length(col("text")))
      docs.unionByName(giants).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
    }
    if (!new java.io.File(s"$dir/embeddings.parquet").isDirectory) {
      spark.range(nVec).select(col("id").as("vec_id"),
          expr("transform(sequence(0, 63), j -> " +
            "CAST(CAST((CAST(conv(substr(md5(concat('e:', CAST(id AS STRING), " +
            "':', CAST(j AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2000) - 1000 " +
            "AS DOUBLE) / 1000.0 AS FLOAT))").as("embedding"),
          pmod(col("id"), lit(20)).cast("int").as("label"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }

    // ---- shuffle metrics listener (stage-completion granularity)
    val shufR = new AtomicLong; val shufW = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })

    val families = Seq(
      "dedup" -> Seq("dedup_exact", "dedup_minhash_pairs", "dedup_simhash",
        "dedup_jaccard_prefix", "dedup_embedding_cosine_sized"),
      // the fixture-geometry LSH row is its OWN family: its 40k-vector
      // quadratic candidate cliff is the DOCUMENTED contrast row
      // (SCALEPROBE.md r9), so a 50x dedup sweep can skip re-paying it
      // while the full pass keeps recording it
      "dedup_pinned" -> Seq("dedup_embedding_cosine"),
      "winnow" -> Seq("wn_fingerprints", "wn_overlap_pairs"),
      "ann" -> Seq("ann_cosine_topk", "ann_lsh_multiprobe_topk"),
      "cc" -> Seq("ann_knn_components", "ann_knn_graph_sized"),
      "bm25" -> Seq("bm25_topk"),
      "text" -> Seq("text_stats"),
      // r10 additions — the families the r9 probe skipped (r9 verdict #2)
      "spans" -> Seq("dup_exact_spans", "dup_span_pairs"),
      "graph" -> Seq("graph_textrank", "graph_ppr_stopwords",
        "graph_lp_communities"), // ppr_stopwords: no EN stopwords in the
                                 // synth corpus -> empty seeds -> empty
                                 // ranks by contract; ppr_top_seeds below
                                 // exercises the iteration for real
      "cdc" -> Seq("cdc_chunks", "cdc_dedup_stats"),
      "audio" -> Seq("mm_audio_stats", "mm_audio_dedup"),
      "e2e" -> Seq("pipeline_pretrain_e2e"),
      // style: chars the 2.2M-char giants through the char-3-gram matrix —
      // the direct substr(text, i, 3) form this query had until r10 was
      // O(len²) per doc (unfinishable on giants); the ownedPositions form
      // must hold linear. nb: the 2-pass train+score grid at 20× docs.
      "style" -> Seq("source_style_cosine"),
      "nb" -> Seq("nb_lang_scores"),
      // fusion: both legs at 20× — the semantic brute grid over 40k
      // vectors and the query-side-filtered shingle inverted join over
      // 100k docs (incl. the giants on the lexical side)
      "fusion" -> Seq("rag_hybrid_fusion"),
      "frontier" -> Seq("minhash_recall_frontier"))

    // Names of the extra composed probes below (not SparkEntry queries) —
    // selectable through SCALEPROBE_ONLY like the query families; a full
    // pass (no SCALEPROBE_ONLY) runs everything.
    val extraFams = Seq("tuned", "ppr_seeds", "audio_long", "stream_ingest",
      "stream_state", "cc_sized", "e2e_uncapped")

    // SCALEPROBE_ONLY="fusion,style" probes a subset of families — lets an
    // added family be measured without re-paying the documented
    // fixture-geometry cliff row (~390 s).
    val only = sys.env.get("SCALEPROBE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Fail loudly on a misspelled/empty selection: a silent zero-family
    // probe prints the header, probes nothing and exits 0 — a run that
    // LOOKS successful while measuring nothing (r10 advisory).
    only.foreach { f =>
      val known = families.map(_._1).toSet ++ extraFams
      val unknown = f -- known
      require(f.nonEmpty, "SCALEPROBE_ONLY is set but names no families")
      require(unknown.isEmpty,
        s"SCALEPROBE_ONLY names unknown families: ${unknown.mkString(",")} " +
          s"(known: ${known.toSeq.sorted.mkString(",")})")
    }
    val selected = only match {
      case Some(f) => families.filter { case (fam, _) => f(fam) }
      case None => families
    }
    /** Whether an extra composed probe runs: named explicitly, or full pass. */
    def famOn(f: String): Boolean = only.forall(_.contains(f))

    println(f"SCALEPROBE mult=$mult docs=${nDocs + 3} vecs=$nVec")
    def probe(fam: String, name: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val r0 = shufR.get; val w0 = shufW.get
      var err: String = null
      try mk.write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => err = String.valueOf(e.getMessage).take(120) }
      val wall = (System.nanoTime() - t0) / 1e9
      Graft.releaseCaches(spark)
      Thread.sleep(500) // let stage-completion events drain
      val rMb = (shufR.get - r0) / 1e6; val wMb = (shufW.get - w0) / 1e6
      if (err == null)
        println(f"PROBE $fam%-7s $name%-26s wall=$wall%8.1fs shufR=$rMb%9.1fMB shufW=$wMb%9.1fMB")
      else
        println(f"PROBE $fam%-7s $name%-26s FAILED after $wall%.1fs: $err")
    }
    for ((fam, qs) <- selected; name <- qs)
      probe(fam, name)(SparkEntry.queries(name)(spark, dir))
    // The scaling rule, applied: same banded-LSH near-dup with
    // planesPerBand sized to log2(N / 8) — the knob the fixture query's
    // cliff row above motivates.
    if (famOn("tuned")) locally {
      val vecs = Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("e"))
      // the occupancy rule once: log2(N / target bucket size of 8)
      val bits = math.ceil(math.log(nVec / 8.0) / math.log(2)).toInt
      val r = math.max(graft.operators.Similarity.PairPlanesPerBand, bits)
      probe("dedup", s"embedding_cosine_tuned_r$r")(
        graft.operators.Dedup.embeddingCosineLshOn(vecs, planesPerBand = r))
      val np = math.max(graft.operators.Similarity.NumPlanes, bits)
      probe("cc", s"knn_graph_tuned_p$np")(
        graft.operators.Similarity.knnGraphOn(vecs, numPlanes = np))
      probe("cc", "knn_graph_fixture_p6")(
        graft.operators.Similarity.knnGraphOn(vecs))
    }
    // ---- PPR with corpus-derived seeds (the stopword query's seed set is
    // empty on the synthetic corpus): top-50 nodes by out-weight — the
    // teleport-set-sized state and reachable-subgraph rounds at 20x.
    if (famOn("ppr_seeds")) locally {
      val edges = graft.operators.Graph.cooccurEdges(
        Tables.documents(spark, dir).select("doc_id", "text")).persist()
      import org.apache.spark.sql.functions.{desc, sum => fsum}
      val seeds = edges.groupBy("src").agg(fsum("w").as("ow"))
        .orderBy(desc("ow")).limit(50).select(col("src").as("node"))
      probe("graph", "ppr_top_seeds")(
        graft.operators.Graph.personalizedPagerank(edges, seeds))
      edges.unpersist()
    }
    // ---- LONG audio clips (r10): the fixture's clips are 40-56 samples;
    // a real corpus carries seconds-long audio. 10 s at 8 kHz = 80,000
    // 16-bit samples per clip through the REAL RIFF encoder/decoder and
    // the identical banded-energy dedup join. Samples come from a cheap
    // per-clip LCG (probe-local — no oracle here, only the shape), with
    // the fixture's dup-group structure: every 4th clip shares a group
    // seed, sample 0 perturbed by parity.
    if (famOn("audio_long")) locally {
      import spark.implicits._
      val nClips = 2000
      val longSamples = 80000
      def blob(id: Long): Array[Byte] = {
        val seed = if (id % 4 == 0) 1000000L + (id / 4) % 50 else id
        var x = seed * 6364136223846793005L + 1442695040888963407L
        val s = new Array[Short](longSamples)
        var i = 0
        while (i < longSamples) {
          x = x * 6364136223846793005L + 1442695040888963407L
          s(i) = (x >>> 48).toShort
          i += 1
        }
        if (id % 4 == 0) s(0) = (if ((id / 4) % 2 == 0) 32767 else -32768).toShort
        graft.operators.Wav.encode(
          graft.operators.Wav.Audio(graft.operators.Audio.SampleRate, s))
      }
      val blobUdf = udf(blob _)
      val clips = spark.range(nClips)
        .select(col("id").as("media_id"), blobUdf(col("id")).as("bytes"))
        .as[graft.operators.Multimodal.MediaRow]
      probe("audio", s"long_clips_${longSamples}x$nClips")(
        graft.operators.Audio.dedupPairsFor(clips))
    }
    // ---- streaming ingestion face (r10): rows/s through nearDupIngest
    // against a reference signature index built over the FULL scaled
    // corpus — the shape a 100 TB ingest gate runs per micro-batch.
    // Batch geometry is tunable (r11 task #4: the r10 row measured
    // 403 rows/s at 500-doc batches with the ~1.2 s/batch fixed
    // Structured-Streaming cost dominating — re-probe at production
    // batch sizes to show the fixed cost amortizing): one parquet file
    // per micro-batch under maxFilesPerTrigger=1.
    if (famOn("stream_ingest")) locally {
      val docs = Tables.documents(spark, dir).select("doc_id", "text")
      val batchRows = sys.env.getOrElse("SCALEPROBE_INGEST_BATCH", "500").toLong
      val nBatches = sys.env.getOrElse("SCALEPROBE_INGEST_NBATCHES", "10").toInt
      val nIncoming = batchRows * nBatches
      require(nIncoming <= nDocs,
        s"ingest probe: $nIncoming incoming docs exceed the $nDocs-doc corpus")
      val incomingDir = s"$work/x${mult}_incoming_${batchRows}x$nBatches"
      if (!new java.io.File(incomingDir).isDirectory) {
        docs.where(col("doc_id") < nIncoming)
          .withColumn("doc_id", col("doc_id") + 10000000L)
          .repartition(nBatches)
          .write.mode("overwrite").parquet(incomingDir)
      }
      val schema = spark.read.parquet(incomingDir).schema
      val refSigs = graft.operators.Dedup.signatureIndex(docs).persist()
      refSigs.count() // build the index outside the timed window
      val ck = java.nio.file.Files.createTempDirectory("probe_ck").toString
      val out = java.nio.file.Files.createTempDirectory("probe_out").toString
      val t0 = System.nanoTime()
      val kept = graft.streaming.StreamingOps.nearDupIngest(
        spark, incomingDir, schema, refSigs, ck, out)
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"PROBE stream  neardup_ingest_${batchRows}x$nBatches%-11s wall=$wall%8.1fs " +
        f"rows=$nIncoming kept=$kept rate=${nIncoming / wall}%8.1f rows/s " +
        f"per_batch=${wall / nBatches}%6.2fs")
      Graft.releaseCaches(spark)
      refSigs.unpersist()
    }
    // ---- streaming-gate STATE growth (r11 verdict #6): r11 measured
    // rows/s; at 100 TB the risks are the STATIC index side and the
    // checkpoint. Both gates run against a 10x-replicated frozen index
    // (each replica id-offset and text-salted so its tail shingles
    // differ), draining 3 WAVES of new files through ONE checkpoint —
    // each wave is a restart (Trigger.AvailableNow stops between waves,
    // the next call resumes from the same file-source log). Recorded per
    // wave: wall, per-batch wall (must stay FLAT across restarts — a
    // growing file-source log that re-lists or re-compacts superlinearly
    // would show here) and checkpoint bytes (must grow ~linearly in
    // files seen, kilobytes not data-bytes).
    if (famOn("stream_state")) locally {
      def dirBytes(p: java.io.File): Long =
        if (p.isFile) p.length
        else Option(p.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
      // Probe-corpus construction (two first-run lessons baked in):
      //  1. every doc gets a ~35-char doc-UNIQUE tail, because the synth
      //     vocabulary is so small that every raw 8-gram is corpus-common
      //     and Winnow.FpDfCap strips the whole raw index (first run:
      //     9 surviving postings of 1M docs) — the tail grams are df=1
      //     and give the winnow gate real per-doc match signal;
      //  2. replica 0 is that corpus VERBATIM (incoming docs must
      //     genuinely match and be dropped — a gate probed only on
      //     misses is vacuous) while replicas 1..9 are vowel-mutated
      //     (token-INTERIOR mutation: a space-interleave would leave the
      //     unique-tail grams intact in all 10 replicas, pushing their
      //     df to 10 > FpDfCap and silently killing the match signal
      //     again) — fingerprint-distinct real index mass.
      val base = Tables.documents(spark, dir).select(col("doc_id"),
        concat(col("text"), lit(" uniq"), col("doc_id"),
          lit(" tailpart"), col("doc_id"), lit(" endmark"), col("doc_id"))
          .as("text"))
      val IndexRep = 10
      val refDocs = (0 until IndexRep).map { r =>
        base.select((col("doc_id") + lit(r * 100000000L)).as("doc_id"),
          (if (r == 0) col("text")
           else regexp_replace(col("text"), "[aeiouq]", s"$r")).as("text"))
      }.reduce(_ union _)
      val batchRows = sys.env.getOrElse("SCALEPROBE_STATE_BATCH", "2000").toLong
      val nB = 5; val waves = 3
      require(batchRows * nB * waves <= nDocs,
        s"state probe: ${batchRows * nB * waves} incoming docs exceed the $nDocs-doc corpus")
      val gates: Seq[(String, org.apache.spark.sql.DataFrame,
          (String, String, String) => Long)] = {
        val refSigs = graft.operators.Dedup.signatureIndex(refDocs).persist()
        val refIdx = graft.operators.Winnow.referenceIndex(refDocs).persist()
        Seq(
          ("neardup", refSigs, (src: String, ck: String, out: String) =>
            graft.streaming.StreamingOps.nearDupIngest(spark, src,
              spark.read.parquet(src).schema, refSigs, ck, out)),
          // minShared=2, not the 24 the long-doc specs use: the synth
          // corpus docs are 4-11 tokens (~2-10 winnow fingerprints each),
          // so 24 can never fire and the gate's MATCH path would go
          // unprobed (first run: kept == everything)
          ("winnow", refIdx, (src: String, ck: String, out: String) =>
            graft.streaming.StreamingOps.winnowIngest(spark, src,
              spark.read.parquet(src).schema, refIdx, 2L, ck, out)))
      }
      gates.foreach { case (gate, idx, run) =>
        val nIdx = idx.count() // build the 10x index outside timed waves
        val root = java.nio.file.Files
          .createTempDirectory(s"state_$gate").toString
        val src = s"$root/src"; val ck = s"$root/ck"; val out = s"$root/out"
        for (w <- 0 until waves) {
          base.where(col("doc_id") >= w * batchRows * nB &&
              col("doc_id") < (w + 1) * batchRows * nB)
            .withColumn("doc_id", col("doc_id") + 2000000000L) // clear of every replica range
            .repartition(nB)
            .write.mode("append").parquet(src)
          val t0 = System.nanoTime()
          val kept = run(src, ck, out)
          val wall = (System.nanoTime() - t0) / 1e9
          val ckKb = dirBytes(new java.io.File(ck)) / 1024
          println(f"PROBE stream  ${gate}_state_w$w%-15s wall=$wall%8.1fs " +
            f"per_batch=${wall / nB}%6.2fs ck_kb=$ckKb%8d kept=$kept " +
            f"idx_rows=$nIdx")
        }
        idx.unpersist()
      }
    }
    // ---- mutual-kNN + connected components over the SIZED kNN graph
    // (r11: the iterative CC path at derived geometry — ann_knn_components
    // above keeps the fixture's 6-bit buckets, which at 100k vectors is
    // the documented occupancy cliff; the production path derives
    // log2(N/8) bits from the measured corpus size).
    if (famOn("cc_sized")) locally {
      val vecs = Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("e"))
      val n = Tables.embeddings(spark, dir).count()
      val g = graft.operators.Similarity.knnGraphSized(vecs, n).persist()
      probe("cc", "mutual_knn_cc_sized") {
        val fwd = g.where(col("q_id") < col("cand_id"))
          .select(col("q_id").as("a"), col("cand_id").as("b"))
        val rev = g.where(col("q_id") > col("cand_id"))
          .select(col("cand_id").as("a"), col("q_id").as("b"))
        val mutual = fwd.join(rev, Seq("a", "b"), "left_semi")
        graft.operators.Components.connectedComponents(
            vecs.select(col("vec_id")),
            mutual.select(col("a").as("src"), col("b").as("dst")))
          .toDF("vec_id", "component_id")
      }
      g.unpersist()
    }
    // ---- e2e funnel with the early gates NON-BINDING (r11 task #6): on
    // the raw synth corpus the funnel collapses at its first two stages —
    // synthUrl derives only doc_id%5 domains (cap keeps ≤ 5×80 docs) and
    // the 4-11-token synthetic docs all score ~0.34 < the 0.5 quality
    // bar — so near-dup CC, contamination and packing never see scaled
    // volume end-to-end (they are only probed at scale in isolation).
    // Build a probe corpus the gates pass: a caller-provided many-domain
    // url column (40 docs/domain < DomainCap=80 — exercises the r11
    // url-forwarding path) and a quality-raising filler of stopwords
    // interleaved with tokens derived from the doc's own 40-char text
    // prefix (exact dups get identical filler and SURVIVE as dups, so
    // exact-dedup + the near-dup CC keep real work; distinct docs get
    // distinct filler shingles, so no false pair mass is planted). The
    // whole corpus build is lazy — the funnel still runs as ONE plan.
    if (famOn("e2e_uncapped")) locally {
      val nDomains = math.max(1L, nDocs / 40L)
      val fillerWords = Seq("the", "and", "of", "to", "in", "is", "it",
        "for", "on", "a")
      // r12 (verdict task #4): the r11 probe keyed EVERY doc's filler on
      // its own 40-char text prefix, which diluted the fixture's planted
      // near-dups (different prefixes -> disjoint f-tokens -> J drops
      // under 0.5) and left the funnel's CC stage with near-zero edge
      // mass at volume. Now a KNOWN 2/5 of docs form 2-doc near-dup
      // pairs by construction: docs with doc_id%5 in {0,1} share filler
      // keyed on the pair bucket doc_id - doc_id%5, so (5k, 5k+1) share
      // all 20 filler tokens and land at J ~= 0.6 regardless of base
      // text — ~nDocs/5 planted pairs (20k at 20x, detection p ~= 0.65
      // under the (8,4) banding at J 0.6 -> >= 10^4 CC edges). The
      // remaining 3/5 stay prefix-keyed: exact dups there share filler
      // and SURVIVE as exact dups; distinct docs get distinct shingles,
      // so no un-planted pair mass appears.
      val pairBucket = col("doc_id") - pmod(col("doc_id"), lit(5))
      val v = when(pmod(col("doc_id"), lit(5)) < 2,
        concat(lit("c"), pairBucket.cast("string")))
        .otherwise(
          graft.operators.TextHash.h60(substring(col("text"), 1, 40))
            .cast("string"))
      val filler = concat_ws(" ", fillerWords.zipWithIndex.flatMap {
        case (w, j) => Seq(lit(w), concat(lit("f"), v, lit("_" + j)))
      }: _*)
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          // the VARYING part must be the registrable domain itself —
          // a dNNN.example.com subdomain collapses to reg_domain
          // example.com and the cap binds on one domain again
          concat(lit("https://d"), pmod(col("doc_id"), lit(nDomains)),
            lit(".com/doc"), col("doc_id")).as("url"),
          concat(col("text"), lit(" "), filler).as("text"))
      probe("e2e", "pretrain_funnel_uncapped")(
        graft.operators.Pipeline.pretrainFunnelFor(docs))
      // Stage mass evidence (one extra funnel pass, collected): the CC
      // stage must MERGE at scale — after_exact - after_neardup >= the
      // planted clusters that survive banding, each merge requiring at
      // least one real near-dup edge through minhash -> verify -> CC.
      val row = graft.operators.Pipeline.pretrainFunnelFor(docs).head()
      Graft.releaseCaches(spark)
      val sch = row.schema.fieldNames.zipWithIndex.toMap
      val ae = row.getLong(sch("after_exact"))
      val an = row.getLong(sch("after_neardup"))
      println(s"FUNNEL_STAGES n_docs=${row.getLong(sch("n_docs"))} " +
        s"after_url=${row.getLong(sch("after_url"))} " +
        s"after_quality=${row.getLong(sch("after_quality"))} " +
        s"after_exact=$ae after_neardup=$an cc_merged=${ae - an} " +
        s"after_contam=${row.getLong(sch("after_contam"))}")
    }
    spark.stop()
  }
}
