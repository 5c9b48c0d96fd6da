package graft.operators

import java.io.IOException

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft.fill
import graft.Tables._
import TextHash.h60Sql

/** Minimal but REAL RIFF/WAVE PCM codec — the audio sibling of [[Ppm]]:
  * a genuine byte-level container format (magic chunks, little-endian
  * sizes, 16-bit signed PCM payload), not a pretend blob. The parser
  * walks the chunk list like any WAV reader: it validates the RIFF/WAVE
  * magics, requires a PCM mono 16-bit `fmt ` chunk BEFORE `data`, and
  * SKIPS unknown chunks (LIST, INFO, cue — real files carry them), so a
  * blob from any standard encoder with extra metadata still decodes.
  */
object Wav {

  /** Decoded audio: sample rate + 16-bit signed mono samples. */
  case class Audio(sampleRate: Int, samples: Array[Short]) {
    override def equals(o: Any): Boolean = o match {
      case a: Audio => a.sampleRate == sampleRate &&
        java.util.Arrays.equals(a.samples, samples)
      case _ => false
    }
  }

  private def le16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
  }
  private def le32(b: Array[Byte], off: Int, v: Int): Unit = {
    le16(b, off, v & 0xffff); le16(b, off + 2, (v >>> 16) & 0xffff)
  }
  private def rd16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def rd32(b: Array[Byte], off: Int): Int =
    rd16(b, off) | (rd16(b, off + 2) << 16)
  private def tag(b: Array[Byte], off: Int): String =
    new String(b, off, 4, "US-ASCII")

  /** Canonical 44-byte-header mono PCM encoding. */
  def encode(a: Audio): Array[Byte] = {
    val dataSize = a.samples.length * 2
    val b = new Array[Byte](44 + dataSize)
    "RIFF".getBytes("US-ASCII").copyToArray(b, 0)
    le32(b, 4, 36 + dataSize)
    "WAVE".getBytes("US-ASCII").copyToArray(b, 8)
    "fmt ".getBytes("US-ASCII").copyToArray(b, 12)
    le32(b, 16, 16) // PCM fmt chunk body size
    le16(b, 20, 1) // audio format 1 = PCM
    le16(b, 22, 1) // mono
    le32(b, 24, a.sampleRate)
    le32(b, 28, a.sampleRate * 2) // byte rate
    le16(b, 32, 2) // block align
    le16(b, 34, 16) // bits per sample
    "data".getBytes("US-ASCII").copyToArray(b, 36)
    le32(b, 40, dataSize)
    var i = 0
    while (i < a.samples.length) {
      le16(b, 44 + 2 * i, a.samples(i) & 0xffff); i += 1
    }
    b
  }

  /** Validating chunk-walking parser. Throws IOException on anything that
    * is not a PCM mono 16-bit WAVE; unknown chunks are skipped (with RIFF
    * word-alignment padding), matching real readers.
    */
  def decode(b: Array[Byte]): Audio = {
    if (b.length < 12 || tag(b, 0) != "RIFF" || tag(b, 8) != "WAVE")
      throw new IOException("wav: not a RIFF/WAVE stream")
    var off = 12
    var sampleRate = -1
    var fmtOk = false
    while (off + 8 <= b.length) {
      val id = tag(b, off)
      val size = rd32(b, off + 4)
      val body = off + 8
      // Long arithmetic: a hostile declared size near Int.MaxValue would
      // wrap `body + size` negative and slip past an Int comparison
      if (size < 0 || body.toLong + size > b.length)
        throw new IOException(s"wav: chunk '$id' overruns the stream")
      id match {
        case "fmt " =>
          if (size < 16) throw new IOException("wav: fmt chunk too short")
          if (rd16(b, body) != 1)
            throw new IOException("wav: not PCM (compressed formats unsupported)")
          if (rd16(b, body + 2) != 1)
            throw new IOException("wav: only mono supported")
          if (rd16(b, body + 14) != 16)
            throw new IOException("wav: only 16-bit samples supported")
          sampleRate = rd32(b, body + 4)
          if (sampleRate <= 0)
            throw new IOException(s"wav: invalid sample rate $sampleRate")
          fmtOk = true
        case "data" =>
          if (!fmtOk) throw new IOException("wav: data chunk before fmt")
          if (size % 2 != 0) throw new IOException("wav: odd data size")
          val n = size / 2
          val s = new Array[Short](n)
          var i = 0
          while (i < n) { s(i) = rd16(b, body + 2 * i).toShort; i += 1 }
          return Audio(sampleRate, s)
        case _ => () // skip unknown chunk
      }
      off = body + size + (size & 1) // RIFF chunks are word-aligned
    }
    throw new IOException("wav: no data chunk")
  }
}

/** Audio-modality operators over synthetic WAV blobs — the second REAL
  * decode tier next to [[Multimodal]]'s PPM images. Samples are planted
  * from doc_id arithmetic (FIXTURES.md §4 discipline): sample i of seed s
  * is `h60("wav:" + s + ":" + i) % 65536 - 32768`, so the DuckDB oracle
  * reproduces every decoded statistic in CLOSED FORM while the engine
  * path round-trips genuine RIFF bytes — a one-byte parser slip diverges
  * every hash. Every 4th doc shares a group seed (byte-identical except a
  * planted sample-0 perturbation alternating +32767/-32768 by parity), so
  * near-dup has hamming-like structure to find: cross-parity pairs agree
  * on exactly EBands-1 band energies, same-parity pairs on all EBands.
  *
  * Scale shape: blobs never hit the driver (mapPartitions decode, the
  * `mapInPandas` batch shape); the dedup candidate join keys on
  * (n_samples, band, exact band energy) — an equi-join whose buckets are
  * collision-bounded (equal 64-bit energies virtually imply equal band
  * content), never all-pairs.
  */
object Audio {

  val SampleRate = 8000
  /** Time-split band count for the banded energy signature. */
  val EBands = 4
  /** Pairs must share at least this many band energies (EBands - 1
    * tolerates the planted single-sample perturbation, which corrupts
    * exactly one band).
    */
  val MinSharedBands: Int = EBands - 1

  /** Same dup-group discipline (and seed namespace guard) as the PPM
    * images: every 4th doc takes a shared group seed.
    */
  def wavSeed(id: Long): Long = {
    require(id < Multimodal.PpmDupSeedBase,
      s"doc_id $id >= dup seed base ${Multimodal.PpmDupSeedBase}: raise the base")
    if (id % 4 == 0) Multimodal.PpmDupSeedBase + (id / 4) % Multimodal.DupGroups
    else id
  }

  /** Sample-0 override for dup docs (alternating extremes by parity);
    * Int.MinValue = no override (outside the 16-bit sample range).
    */
  def wavPert(id: Long): Int =
    if (id % 4 == 0) { if ((id / 4) % 2 == 0) 32767 else -32768 }
    else Int.MinValue

  def nSamplesOf(seed: Long): Int = (40 + seed % 17).toInt

  /** The planted closed-form sample value (mirrored in the oracle CTEs). */
  def sampleOf(seed: Long, i: Int): Int =
    ((Multimodal.h60Jvm(s"wav:$seed:$i") % 65536L) - 32768L).toInt

  /** Synthesize doc `id`'s WAV blob through the REAL encoder. */
  def synthWavBlob(id: Long): Array[Byte] = {
    val seed = wavSeed(id); val pert = wavPert(id)
    val n = nSamplesOf(seed)
    val s = new Array[Short](n)
    var i = 0
    while (i < n) {
      s(i) = (if (i == 0 && pert != Int.MinValue) pert else sampleOf(seed, i)).toShort
      i += 1
    }
    Wav.encode(Wav.Audio(SampleRate, s))
  }

  private val synthWavUdf = udf(synthWavBlob _)

  def wavTable(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[Multimodal.MediaRow] = {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id").as("media_id"),
        synthWavUdf(col("doc_id")).as("bytes"))
      .as[Multimodal.MediaRow]
  }

  /** Per-clip decode output: exact integer stats + per-band energies. */
  case class AudioStats(media_id: Long, n_samples: Int, sample_rate: Int,
                        peak: Int, dc_sum: Long, sum_sq: Long,
                        band_e: Seq[Long])

  /** REAL batch-shaped decode (bytes → header parse → samples → exact
    * integer statistics) over executor-local partitions; band b of sample
    * i is `(i * EBands) / n` — the same floor division the oracle uses.
    */
  def decodeStats(ds: org.apache.spark.sql.Dataset[Multimodal.MediaRow])
      : org.apache.spark.sql.Dataset[AudioStats] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { rows =>
      rows.map { r =>
        val a = Wav.decode(r.bytes)
        val n = a.samples.length
        var peak = 0; var dc = 0L; var sq = 0L
        val be = new Array[Long](EBands)
        var i = 0
        while (i < n) {
          val v = a.samples(i).toInt
          if (math.abs(v) > peak) peak = math.abs(v)
          dc += v
          val v2 = v.toLong * v
          sq += v2
          be(i * EBands / n) += v2
          i += 1
        }
        AudioStats(r.media_id, n, a.sampleRate, peak, dc, sq, be.toSeq)
      }
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Decode -> exact integer clip statistics: peak amplitude, DC offset,
    // energy, 6-dp RMS. The oracle derives the same numbers from the
    // planted sample function without ever seeing a byte — engine/oracle
    // agreement proves the full encode->RIFF->parse->PCM round trip.
    "mm_audio_stats" -> { (s, d) =>
      decodeStats(wavTable(s, d)).toDF()
        .select(col("media_id"),
          col("n_samples").cast("long").as("n_samples"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("peak").cast("long").as("peak"),
          col("dc_sum"), col("sum_sq"),
          round(sqrt(col("sum_sq").cast("double") /
            col("n_samples").cast("double")), 6).as("rms"))
        .orderBy("media_id")
    },

    // Banded energy-signature near-dup: clips agreeing on >= MinSharedBands
    // exact per-band energies (equi-join on (n_samples, band, energy) —
    // the banded-LSH shape, never all-pairs). The planted dup groups
    // surface as n_shared = EBands (same parity) and EBands-1 (the
    // perturbed sample corrupts exactly band 0) pairs.
    "mm_audio_dedup" -> { (s, d) => dedupPairsFor(wavTable(s, d)) }
  )

  /** Banded energy-signature near-dup over ANY clip table — the
    * composable core of `mm_audio_dedup`, factored out so the scale
    * probe can drive long synthetic clips through the identical join
    * shape. Filled (not localCheckpoint): decoded once, both join sides
    * read the cached blocks, and Graft.releaseCaches can actually free
    * them after the query (checkpoint RDD blocks linger until GC).
    */
  def dedupPairsFor(clips: org.apache.spark.sql.Dataset[Multimodal.MediaRow])
      : DataFrame = {
    val st = decodeStats(clips).toDF()
      .select(col("media_id"), col("n_samples"), col("band_e"))
    fill(st, "Wav.dedupPairsFor/st") // the self-join's two exchange map stages each decode
    val banded = st
      .select(col("media_id"), col("n_samples"),
        posexplode(col("band_e")).as(Seq("band", "e")))
    banded.as("a").join(banded.as("b"),
        col("a.n_samples") === col("b.n_samples") &&
          col("a.band") === col("b.band") && col("a.e") === col("b.e") &&
          col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id").as("media_a"), col("b.media_id").as("media_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= MinSharedBands)
      .orderBy("media_a", "media_b")
  }

  /** Closed-form CTEs mirroring [[synthWavBlob]]'s planted samples:
    * seed/pert → n → per-sample list `sm` (1-based). Defines
    * `ws(media_id, n, sm)`.
    */
  private def wavCtes: String =
    s"""wm AS (SELECT doc_id AS media_id,
       |    CASE WHEN doc_id >= ${Multimodal.PpmDupSeedBase}
       |         THEN CAST(error('doc_id exceeds dup seed base') AS BIGINT)
       |         WHEN doc_id % 4 = 0
       |         THEN ${Multimodal.PpmDupSeedBase} + (doc_id // 4) % ${Multimodal.DupGroups}
       |         ELSE doc_id END AS seed,
       |    CASE WHEN doc_id % 4 = 0
       |         THEN CASE WHEN (doc_id // 4) % 2 = 0 THEN 32767 ELSE -32768 END
       |         ELSE NULL END AS pert
       |  FROM documents),
       |wn AS (SELECT media_id, seed, pert,
       |    CAST(40 + seed % 17 AS INTEGER) AS n FROM wm),
       |ws AS (SELECT media_id, n, list_transform(range(0, n), i ->
       |    CASE WHEN i = 0 AND pert IS NOT NULL THEN pert
       |         ELSE CAST(${h60Sql("'wav:' || CAST(seed AS VARCHAR) || ':' || CAST(i AS VARCHAR)")} % 65536 - 32768 AS INTEGER)
       |    END) AS sm
       |  FROM wn)""".stripMargin

  val oracles: Map[String, String] = Map(
    "mm_audio_stats" ->
      s"""WITH $wavCtes,
         |st AS (SELECT media_id, CAST(n AS BIGINT) AS n_samples,
         |    CAST($SampleRate AS BIGINT) AS sample_rate,
         |    CAST(list_max(list_transform(sm, x -> abs(x))) AS BIGINT) AS peak,
         |    CAST(list_sum(sm) AS BIGINT) AS dc_sum,
         |    CAST(list_sum(list_transform(sm, x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS sum_sq
         |  FROM ws)
         |SELECT media_id, n_samples, sample_rate, peak, dc_sum, sum_sq,
         |  round(sqrt(CAST(sum_sq AS DOUBLE) / CAST(n_samples AS DOUBLE)), 6) AS rms
         |FROM st ORDER BY media_id""".stripMargin,

    "mm_audio_dedup" ->
      s"""WITH $wavCtes,
         |bands AS (SELECT media_id, n, b.band,
         |    CAST(list_sum(list_transform(range(0, n), i ->
         |      CASE WHEN (i * $EBands) // n = b.band
         |           THEN CAST(sm[i + 1] AS BIGINT) * sm[i + 1]
         |           ELSE 0 END)) AS BIGINT) AS e
         |  FROM ws CROSS JOIN (SELECT unnest(range(0, $EBands)) AS band) b),
         |pairs AS (SELECT a.media_id AS media_a, b.media_id AS media_b,
         |    count(*) AS n_shared
         |  FROM bands a JOIN bands b
         |    ON a.n = b.n AND a.band = b.band AND a.e = b.e
         |      AND a.media_id < b.media_id
         |  GROUP BY 1, 2)
         |SELECT media_a, media_b, n_shared FROM pairs
         |WHERE n_shared >= $MinSharedBands
         |ORDER BY media_a, media_b""".stripMargin
  )
}
