package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.Dedup

/** Dedup pack over the sf0.001 fixtures: structural invariants plus a
  * ground-truth recall check against exact shingle Jaccard computed
  * independently in Scala.
  */
class DedupSpec extends SparkSpecBase {

  private def groundTruthPairs(minJ: Double): Set[(Long, Long)] = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split("\\s+").toSeq)
    val sh = docs.map { case (id, t) =>
      id -> t.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    }
    (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b && sa.nonEmpty
      inter = (sa & sb).size
      if inter > 0 && inter.toDouble / (sa.size + sb.size - inter) >= minJ
    } yield (a, b)).toSet
  }

  test("dedup_exact keeps one row per distinct text") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = Dedup.queries("dedup_exact")(spark, sfDir)
    assert(out.count() === docs.select("text").distinct().count())
    assert(out.agg(sum("n_copies")).head.getLong(0) === docs.count())
  }

  test("dedup_ngram_jaccard matches independently computed exact Jaccard pairs") {
    val got = Dedup.queries("dedup_ngram_jaccard")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === groundTruthPairs(0.6))
  }

  test("dedup_minhash_pairs recalls every planted near-duplicate (J >= 0.9)") {
    val planted = groundTruthPairs(0.9)
    assert(planted.nonEmpty, "fixture should contain planted near-dups")
    val got = Dedup.queries("dedup_minhash_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.subsetOf(got),
      s"missing: ${planted -- got}")
  }

  test("minhash est_jaccard is within 0.25 of exact Jaccard on reported pairs") {
    val shingleSets = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split("\\s+").toSeq
          .sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet)
      .toMap
    def exact(a: Long, b: Long): Double = {
      val (sa, sb) = (shingleSets(a), shingleSets(b))
      val i = (sa & sb).size
      i.toDouble / (sa.size + sb.size - i)
    }
    Dedup.queries("dedup_minhash_pairs")(spark, sfDir).collect().foreach { r =>
      val est = r.getDouble(2)
      val ex = exact(r.getLong(0), r.getLong(1))
      assert(math.abs(est - ex) <= 0.25, s"pair ${(r.getLong(0), r.getLong(1))}: est=$est exact=$ex")
    }
  }

  test("dedup_simhash_pairs equals the chunk-banding ground truth; complete for hamming <= 3") {
    val fps = Dedup.queries("dedup_simhash")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(fps(a) ^ fps(b))
    def chunkMatch(a: Long, b: Long) = (0 until 4)
      .exists(k => ((fps(a) >> (15 * k)) & 32767L) == ((fps(b) >> (15 * k)) & 32767L))
    val ids = fps.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      if hamming(a, b) <= 10 && chunkMatch(a, b)
    } yield (a, b)).toSet
    val got = Dedup.queries("dedup_simhash_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
    // pigeonhole: <= 3 differing bits cannot touch all 4 chunks, so banding
    // is COMPLETE for hamming <= 3 — every such pair must be reported
    val guaranteed = (for { a <- ids; b <- ids if a < b && hamming(a, b) <= 3 } yield (a, b)).toSet
    assert(guaranteed.nonEmpty && guaranteed.subsetOf(got))
  }

  test("dedup_simhash fingerprints are deterministic across runs") {
    val a = Dedup.queries("dedup_simhash")(spark, sfDir).collect().toSeq
    val b = Dedup.queries("dedup_simhash")(spark, sfDir).collect().toSeq
    assert(a === b)
  }

  test("df-capped ngram output is a subset of uncapped with identical jaccard values") {
    val uncapped = Dedup.queries("dedup_ngram_jaccard")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val capped = Dedup.queries("dedup_ngram_jaccard_capped")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    capped.foreach { case (k, j) =>
      assert(uncapped.contains(k), s"capped invented pair $k")
      assert(uncapped(k) == j, s"capped re-scored $k: ${uncapped(k)} vs $j")
    }
    // the fixture has no hot shingles above the cap that carry whole pairs,
    // so at this SF the subset is actually equality — document that too
    assert(capped.size >= uncapped.size * 0.9, s"${capped.size}/${uncapped.size}")
  }

  test("df cap bounds the hot-shingle bucket; near-dups still found via rare shingles") {
    val s = spark
    import s.implicits._
    // 20 docs: 10 shared boilerplate tokens + 1 unique token each => the 8
    // pure-boilerplate shingles have df=20 (hot); every cross pair has
    // jaccard 8/10 >= 0.6 purely through boilerplate. Docs 100/101 are
    // exact duplicates => all 9 of their shingles shared, one of them rare.
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
    val docs = ((0 until 20).map(i => (i.toLong, s"$boiler u$i")) :+
      (100L, s"$boiler dupmark") :+ (101L, s"$boiler dupmark"))
      .toDF("doc_id", "text")

    val uncapped = Dedup.ngramJaccardPairs(docs, 0.6, dfCap = None).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.ngramJaccardPairs(docs, 0.6, dfCap = Some(4)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped: every pair meets through the hot shingles (quadratic blowup)
    assert(uncapped.size >= 20 * 21 / 2, s"got ${uncapped.size}")
    // capped: the hot bucket is skipped entirely; only the true duplicate
    // pair survives, discovered via its rare (unique-suffix) shingles
    assert(capped === Set((100L, 101L)), s"got $capped")
    assert(capped.subsetOf(uncapped))
  }

  test("prefix filtering equals the uncapped inverted index row-for-row") {
    // Since r12 dedup_ngram_jaccard itself rides prefixJaccardPairs, so
    // the uncapped side must be the RAW inverted-index self-join — kept
    // in the library solely for this cross-check.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(docs, 0.6, dfCap = None).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val prefix = Dedup.queries("dedup_jaccard_prefix")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(prefix === uncapped)
    Graft.releaseCaches(spark)
  }

  test("boilerplate adversary: prefix index bucket stays bounded where " +
    "the raw index's explodes, with identical pairs") {
    val s = spark
    import s.implicits._
    // 400 docs all sharing one 12-token boilerplate: the raw inverted
    // index has a 400+-doc posting list per boiler shingle (~80k meeting
    // pairs PER hot shingle in the self-join). Each doc's 15-token unique
    // tail yields 15 df=1 shingles — more than the t=1/2 prefix length
    // (25 - ceil(25/2) + 1 = 13), so no regular doc admits a hot shingle
    // into its prefix and the prefix index's hottest bucket is the two
    // planted near-dups' shared rare shingle (plus the few hot shingles
    // only THEY are short enough to need) — O(1), not O(corpus).
    val boiler = (1 to 12).map(i => s"b$i").mkString(" ")
    val docs = ((0 until 400).map { i =>
      val tail = (0 until 15).map(j => s"u${i}_$j").mkString(" ")
      (i.toLong, s"$boiler $tail")
    } :+ (9000L, s"$boiler dupmark") :+ (9001L, s"$boiler dupmark"))
      .toDF("doc_id", "text")
    val e = Dedup.shingleIndex(docs).persist() // test-owned: unpersisted below
    val rawMax = e.groupBy("g").count().agg(max("count")).head().getLong(0)
    val prefMax = Dedup.prefixRows(e, 1, 2)
      .groupBy("g").count().agg(max("count")).head().getLong(0)
    assert(rawMax >= 400L, s"adversary corpus must have a hot bucket, got $rawMax")
    assert(prefMax <= 8L,
      s"prefix index hottest bucket must stay bounded, got $prefMax (raw $rawMax)")
    val uncapped = Dedup.ngramJaccardPairs(docs, 0.5, dfCap = None).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val prefix = Dedup.prefixJaccardPairs(docs, 1, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(prefix === uncapped)
    assert(prefix.contains((9000L, 9001L)))
    e.unpersist()
    Graft.releaseCaches(spark)
  }

  test("containment: prefix-filtered candidates equal the raw self-join " +
    "row-for-row (fixture + quote adversary)") {
    val s = spark
    import s.implicits._
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    assert(asMap(Dedup.containmentPairs(fixture)) ===
      asMap(Dedup.containmentPairsRaw(fixture)))
    Graft.releaseCaches(spark)
    // adversary: a small quote fully inside a large doc (containment 1.0,
    // jaccard ~0.1 — the pair Jaccard is blind to), plus boilerplate-heavy
    // docs whose shared shingles are corpus-hot
    val big = ((1 to 60).map(i => s"w$i") ++ (1 to 6).map(i => s"q$i"))
      .mkString(" ")
    val quote = (1 to 6).map(i => s"q$i").mkString(" ")
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
    val docs = (Seq((1L, big), (2L, quote)) ++
      (10 until 40).map(i => (i.toLong, s"$boiler only$i")) :+
      (50L, boiler) :+ (51L, s"$boiler extra"))
      .toDF("doc_id", "text")
    val got = asMap(Dedup.containmentPairs(docs))
    assert(got === asMap(Dedup.containmentPairsRaw(docs)))
    assert(got.contains((1L, 2L)), "quote-inside-doc pair must be found")
    assert(got((1L, 2L))._1 === 4L) // the quote's 4 interior shingles
    Graft.releaseCaches(spark)
  }

  test("prefix filtering is lossless on hot-boilerplate corpora the df cap misses") {
    val s = spark
    import s.implicits._
    // The dfCap adversary: docs 100/101 meet ONLY through hot shingles
    // (shared boilerplate), so the capped query drops their pair. Prefix
    // filtering must keep it: a hot shingle still lands in a doc's prefix
    // when the doc has nothing rarer to offer.
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
    val docs = ((0 until 20).map(i => (i.toLong, s"$boiler u$i")) :+
      (100L, s"$boiler dupmark") :+ (101L, s"$boiler dupmark"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(docs, 0.6, dfCap = None).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val prefix = Dedup.prefixJaccardPairs(docs, 3, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(prefix === uncapped)
    assert(prefix.contains((100L, 101L)))
  }

  test("prefix filtering is lossless on seeded random corpora (vs brute force)") {
    val s = spark
    import s.implicits._
    for (seed <- 1 to 4) {
      val rng = new scala.util.Random(seed)
      // small vocab forces heavy shingle sharing and exercises df ties
      val docs = (0 until 30).map { i =>
        val n = 3 + rng.nextInt(10)
        (i.toLong, Seq.fill(n)(s"w${rng.nextInt(8)}").mkString(" "))
      }.toDF("doc_id", "text")
      val brute = {
        val sh = docs.collect().map(r => r.getLong(0) ->
          r.getString(1).toLowerCase.split("\\s+").toSeq
            .sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet)
        (for {
          (a, sa) <- sh; (b, sb) <- sh if a < b && sa.nonEmpty
          inter = (sa & sb).size
          if inter > 0 && inter * 5 >= (sa.size + sb.size - inter) * 3
        } yield (a, b)).toSet
      }
      val got = Dedup.prefixJaccardPairs(docs, 3, 5).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === brute, s"seed $seed")
      Graft.releaseCaches(spark)
    }
  }

  test("releaseCaches leaves no persisted relations after a library call") {
    Dedup.queries("dedup_minhash_pairs")(spark, sfDir).count()
    Dedup.queries("dedup_ngram_jaccard")(spark, sfDir).count()
    assert(!spark.sharedState.cacheManager.isEmpty, "operators should persist intermediates")
    val owned = Graft.registered(spark)
    assert(owned.nonEmpty, "operators should register what they persist")
    Graft.releaseCaches(spark)
    // other suites' own caches may rightly survive; graft's may not
    assert(owned.forall(_.storageLevel == StorageLevel.NONE),
      "caller-owned release must leave no graft-registered plan cached")
  }

  test("dedup_embedding_cosine output is a<b ordered with cos in [-1,1]") {
    Dedup.queries("dedup_embedding_cosine")(spark, sfDir).collect().foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(math.abs(r.getDouble(2)) <= 1.0)
    }
  }

  test("embedding LSH pairs are a sound subset of brute force with high recall") {
    val brute = Dedup.embeddingCosineBrute(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.queries("dedup_embedding_cosine")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // soundness: every LSH pair is a true above-threshold pair with the
    // exact same cosine
    lsh.foreach { case (k, c) =>
      assert(brute.contains(k), s"LSH invented pair $k")
      assert(brute(k) == c, s"cosine mismatch on $k: ${brute(k)} vs $c")
    }
    // recall: the fixture's pairs all sit in cos 0.4-0.51 (no planted
    // embedding near-dups — verified by inspection), the WORST case for
    // banded LSH; expected per-pair collision p ~ 0.97 at 16 bands x 4
    // planes (a true cos 0.8+ near-dup collides with p ~ 1 - 1e-6).
    // Deterministic: fixed planes + fixed data.
    assert(brute.nonEmpty && lsh.nonEmpty)
    assert(lsh.size >= brute.size * 0.9,
      s"overall recall too low: ${lsh.size}/${brute.size}")
    Graft.releaseCaches(spark)
    // the generalized entry point at the DEFAULT geometry must be the
    // fixture query exactly (it IS the query's implementation), and a
    // log2-scaled geometry (the 100 TB knob) must stay sound: every pair
    // it returns is a true above-threshold pair — the exact-cosine
    // verify join makes precision structural regardless of geometry
    val vecs = Tables.embeddings(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.expr(
          "transform(embedding, v -> CAST(v AS DOUBLE))").as("e"))
    val viaOn = Dedup.embeddingCosineLshOn(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(viaOn == lsh, "embeddingCosineLshOn(default) must equal the query")
    Graft.releaseCaches(spark)
    val tuned = Dedup.embeddingCosineLshOn(vecs, planesPerBand = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    tuned.foreach { case (k, c) =>
      assert(brute.contains(k) && brute(k) == c, s"tuned geometry invented pair $k")
    }
    Graft.releaseCaches(spark)
    // the corpus-size-hint overload IS the explicit log2-rule geometry
    // (and stays sound: precision is structural via the verify join)
    val sized = Dedup.embeddingCosineLshSized(vecs, n = 40000L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Graft.releaseCaches(spark)
    val explicit13 = Dedup.embeddingCosineLshOn(vecs,
      planesPerBand = graft.operators.Similarity.planesForCorpus(40000L)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(sized == explicit13, "sized overload must equal explicit rule geometry")
    sized.foreach { case (k, c) =>
      assert(brute.contains(k) && brute(k) == c, s"sized geometry invented pair $k")
    }
    Graft.releaseCaches(spark)
  }

  test("dedup_delta_gate agrees with the full pair relation across the split") {
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    def incomingSide(id: Long): Boolean = h60(s"delta:$id") % 10 == 0
    val pairs = Dedup.queries("dedup_minhash_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // expected positives: incoming docs with a >=0.5-est partner on the
    // corpus side (pairs within one side don't gate)
    val expect = pairs.flatMap { case (a, b) =>
      Seq(a -> b, b -> a).collect {
        case (x, y) if incomingSide(x) && !incomingSide(y) => x
      }
    }.toSet
    val gate = Dedup.queries("dedup_delta_gate")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(gate.nonEmpty)
    assert(gate.keySet.forall(incomingSide), "gate emitted a corpus-side doc")
    assert(gate.filter(_._2).keySet === expect)
  }

  test("dedup_threshold_curve: monotone arms anchored to the exact pair relation") {
    val rows = Dedup.queries("dedup_threshold_curve")(spark, sfDir).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    Graft.releaseCaches(spark)
    assert(rows.map(_._1).toSeq == Dedup.ThresholdLadder)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._2 >= b._2 && a._3 >= b._3,
          "pair and doc counts must be non-increasing in the threshold")
      case _ =>
    }
    // base arm == ground truth at the loosest threshold
    assert(rows.head._2 == groundTruthPairs(Dedup.ThresholdLadder.min).size)
    rows.foreach { case (_, p, docs) =>
      assert(p == 0 && docs == 0 || (docs >= 2 && docs <= 2 * p),
        "each pair touches two docs; each affected doc needs a pair")
    }
  }

  test("dedup_rate_by_source_pair: canonical cells partition the pair relation") {
    val cells = Dedup.queries("dedup_rate_by_source_pair")(spark, sfDir).collect()
    Graft.releaseCaches(spark)
    val nPairs = Dedup.queries("dedup_minhash_pairs")(spark, sfDir).count()
    Graft.releaseCaches(spark)
    assert(cells.map(_.getLong(2)).sum == nPairs,
      "source-pair cells must account for every near-dup pair exactly once")
    cells.foreach(r => assert(r.getString(0) <= r.getString(1),
      "cells must be canonically (min, max) ordered"))
  }

  test("minhash_recall_audit: counts consistent, planted exact dup is a guaranteed tp") {
    import spark.implicits._
    val r = Dedup.queries("minhash_recall_audit")(spark, sfDir).head()
    Graft.releaseCaches(spark)
    val (cand, truth, tp) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(tp <= math.min(cand, truth))
    assert(math.abs(r.getDouble(3) - tp.toDouble / cand) < 1e-6)
    assert(math.abs(r.getDouble(4) - tp.toDouble / truth) < 1e-6)
    // cross-check against the independent Scala ground truth at 0.5
    assert(truth == groundTruthPairs(0.5).size)
    // identical docs agree on EVERY minhash component, so the candidate
    // pair survives banding with probability 1 — recall on a planted
    // exact-dup corpus is deterministic, not probabilistic
    val planted = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")).toDF("doc_id", "text")
    val mh = Dedup.minhashPairsFor(planted).select("doc_a", "doc_b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val ex = Dedup.ngramJaccardPairs(planted, 0.5, dfCap = None)
      .select("doc_a", "doc_b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    Graft.releaseCaches(spark)
    assert(ex == Set((1L, 2L)))
    assert(mh.contains((1L, 2L)))
  }

  test("minhash_recall_frontier: frontier laws hold and the default point dominates") {
    val rows = Dedup.queries("minhash_recall_frontier")(spark, sfDir).collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) Double.NaN else r.getDouble(5), r.getDouble(6))))
      .toMap
    val nVerified = Dedup.queries("dedup_minhash_pairs")(spark, sfDir).count()
    Graft.releaseCaches(spark)
    assert(rows.keySet === Dedup.MinhashFrontierGrid.toSet)
    val truths = rows.values.map(_._2).toSet
    assert(truths.size === 1, "n_truth is geometry-independent")
    rows.foreach { case ((bb, rr), (cand, truth, tp, prec, rec)) =>
      assert(tp <= math.min(cand, truth), s"($bb,$rr): tp bound")
      if (cand > 0) assert(math.abs(prec - tp.toDouble / cand) < 1e-6)
      assert(math.abs(rec - tp.toDouble / truth) < 1e-6)
    }
    // more rows per band at equal bands can only SHED candidates (a
    // (b, 2r)-band match implies both (b, r) halves match... not in our
    // grouping — but P(match) = J^rows falls monotonically and the
    // planted corpus follows it): check the measured monotonicity
    // sliding(2) over however many rows-per-band points a band count has:
    // scales with the grid and fails with the assertion message instead
    // of a MatchError if the grid ever gains/loses a point.
    for {
      bb <- Seq(4, 8)
      pair <- Seq(2, 4, 8, 16).filter(r => rows.contains((bb, r))).sliding(2)
      if pair.size == 2
    } assert(rows((bb, pair(1)))._1 <= rows((bb, pair(0)))._1,
      s"bands=$bb: rows=${pair(1)} generated MORE candidates than rows=${pair(0)}")
    // the production default's raw candidates cover its verified output
    assert(nVerified <= rows((Dedup.MinhashFrontierGrid.find(_ == (8, 4)).get))._1,
      "verified est>=0.5 pairs exceed the (8,4) raw candidate count")
  }

  test("simhash_recall_frontier: pigeonhole recall floor, truth exactness, " +
    "frontier laws") {
    // the truth-band layout must tile all 60 bits with > HammingMax bands
    // — the structural precondition for the lossless truth side
    assert(Dedup.SimhashTruthBands.map(_._2).sum === 60)
    assert(Dedup.SimhashTruthBands.size > Dedup.SimhashHammingMax)
    assert(Dedup.SimhashTruthBands ===
      Dedup.SimhashTruthBands.sortBy(_._1), "bands in ascending shift order")
    Dedup.SimhashTruthBands.sliding(2).foreach {
      case Seq((o1, w1), (o2, _)) => assert(o1 + w1 === o2, "bands disjoint+contiguous")
      case _ =>
    }
    val rows = Dedup.queries("simhash_recall_frontier")(spark, sfDir).collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) Double.NaN else r.getDouble(5), r.getDouble(6))))
      .toMap
    val nVerified = Dedup.queries("dedup_simhash_pairs")(spark, sfDir).count()
    Graft.releaseCaches(spark)
    assert(rows.keySet === Dedup.SimhashFrontierGrid.toSet)
    val truths = rows.values.map(_._2).toSet
    assert(truths.size === 1, "n_truth is geometry-independent")
    rows.foreach { case ((bb, w), (cand, truth, tp, prec, rec)) =>
      assert(tp <= math.min(cand, truth), s"($bb,$w): tp bound")
      if (cand > 0) assert(math.abs(prec - tp.toDouble / cand) < 1e-6)
      assert(math.abs(rec - tp.toDouble / truth) < 1e-6)
      // pigeonhole: > HammingMax bands makes recall structural, not
      // statistical — any <= 10-bit difference leaves >= 1 band untouched
      if (bb > Dedup.SimhashHammingMax)
        assert(rec === 1.0, s"($bb,$w): pigeonhole guarantees recall 1.0")
    }
    // STRUCTURAL candidate monotonicity: where every band of the coarse
    // geometry fully contains an aligned band of the fine one, a coarse
    // match implies a fine match — the fine candidate set is a superset
    // regardless of data. (Not all adjacent grid points qualify: a 15-bit
    // band at shift 15 contains no aligned 12-bit band, so (4,15) vs
    // (5,12) is only statistically ordered and deliberately unasserted.)
    for ((coarse, fine) <- Seq(
      ((4, 15), (6, 10)), ((5, 12), (10, 6)), ((6, 10), (12, 5)),
      ((10, 6), (20, 3)), ((12, 5), (20, 3))))
      assert(rows(coarse)._1 <= rows(fine)._1,
        s"$coarse generated MORE candidates than $fine despite band containment")
    // the production (4,15) banding's raw candidates cover its verified
    // Hamming<=10 output
    assert(nVerified <= rows((4, 15))._1,
      "verified pairs exceed the (4,15) raw candidate count")
  }

  test("dedup_simhash_pairs_exact: superset of the banded (4,15) pairs, " +
    "count equals the frontier's n_truth, hamming bound holds") {
    val exact = Dedup.queries("dedup_simhash_pairs_exact")(spark, sfDir).collect()
    exact.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getInt(2) <= Dedup.SimhashHammingMax)
    }
    val exactSet = exact.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactSet.size == exact.length, "pairs are distinct")
    val banded = Dedup.queries("dedup_simhash_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.subsetOf(exactSet),
      "the measured-recall banded operator must never exceed the exact one")
    val truth = Dedup.queries("simhash_recall_frontier")(spark, sfDir)
      .head().getLong(3)
    assert(exactSet.size.toLong == truth,
      "exact operator must reproduce the frontier's truth cardinality")
    Graft.releaseCaches(spark)
  }

  test("segment rewrite: planted-overlap adversary corpus") {
    import spark.implicits._
    // 20-token segments built from unique markers; seg(x) repeats marker x.
    def seg(x: String): String = Seq.fill(Dedup.SegLen)(x).mkString(" ")
    val docs = Seq(
      (0L, seg("a0") + " " + seg("a1")), // baseline: both segments unique here
      (1L, seg("a0") + " " + seg("b1")), // cross-doc dup of doc 0's first seg
      (2L, seg("a0") + " " + seg("a1")), // full duplicate of doc 0
      (3L, seg("c0") + " " + seg("c0")), // INTERNAL duplicate: seg1 == seg0
      (4L, "short tail")                 // sub-SegLen doc: one partial segment
    ).toDF("doc_id", "text")
    val out = Dedup.segmentRewriteFor(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(0L) === ((2L, 2L, seg("a0") + " " + seg("a1"))))
    assert(out(1L) === ((2L, 1L, seg("b1")))) // unique remainder salvaged
    assert(out(2L) === ((2L, 0L, "")))        // full dup -> empty rewrite
    assert(out(3L) === ((2L, 1L, seg("c0")))) // second internal copy dropped
    assert(out(4L) === ((1L, 1L, "short tail")))
    // conservation: kept occurrences == distinct segment contents
    val occ = Dedup.segmentOccurrences(docs)
    assert(out.values.map(_._2).sum === occ.select("k").distinct().count())
    assert(out.values.map(_._1).sum === occ.count())
  }
}
