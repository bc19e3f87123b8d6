package graft.operators

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.types._

/** Pure-JDK audio container path — the audio-modality analog of
  * [[ImageCodec]] (S8's ingestion half before the [[Transcriber]] STT
  * seat; reference `parse_video.py` hands audio to AssemblyAI whole, but a
  * 100 TB audio corpus needs container-level curation BEFORE paying for
  * transcription). RIFF/WAVE PCM parsing is a fixed-offset binary format —
  * no codec library needed — and the two curation signals every audio
  * pipeline front door runs are:
  *
  *  - header metadata (sample rate / channels / bit depth / duration) for
  *    format gating and cost estimation;
  *  - windowed MEAN-ABSOLUTE-AMPLITUDE, the silence gate — the exact
  *    analog of the blank-page gate m3 value-checks ([[ImageCodec.isBlank]]):
  *    don't transcribe, embed, or store windows of nothing. Integer
  *    arithmetic end to end (sum of |16-bit samples| over an exact window),
  *    so the m6 oracle replays it from first principles.
  *
  * Scale shape: both run inside mapPartitions over the binary column —
  * map-only, no shuffle, same envelope as every other codec seat.
  */
object AudioCodec {

  /** Parsed RIFF/WAVE header + location of the PCM payload. */
  case class WavInfo(sampleRate: Int, channels: Int, bitsPerSample: Int,
                     nSamples: Long, dataOffset: Int, dataLen: Int) {
    def durationSec: Double =
      if (sampleRate == 0) 0.0 else nSamples.toDouble / sampleRate
  }

  /** Parse a RIFF/WAVE header: format chunk + data chunk walk (chunks may
    * appear in any order, with pad bytes). None for non-WAV/truncated
    * bytes or non-PCM encodings. */
  def parseWav(bytes: Array[Byte]): Option[WavInfo] = {
    if (bytes == null || bytes.length < 44) return None
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    if (bb.getInt(0) != 0x46464952 /* "RIFF" */ ||
        bb.getInt(8) != 0x45564157 /* "WAVE" */) return None
    var off = 12
    var rate = 0; var ch = 0; var bits = 0; var fmt = 0
    var dOff = -1; var dLen = 0
    while (off + 8 <= bytes.length) {
      val id = bb.getInt(off)
      val len = bb.getInt(off + 4)
      if (len < 0 || off + 8 + len > bytes.length) return None
      if (id == 0x20746d66 /* "fmt " */ && len >= 16) {
        fmt = bb.getShort(off + 8) & 0xffff
        ch = bb.getShort(off + 10) & 0xffff
        rate = bb.getInt(off + 12)
        bits = bb.getShort(off + 22) & 0xffff
      } else if (id == 0x61746164 /* "data" */) {
        dOff = off + 8; dLen = len
      }
      off += 8 + len + (len & 1) // chunks are word-aligned
    }
    if (fmt != 1 /* PCM */ || rate <= 0 || ch <= 0 ||
        (bits != 8 && bits != 16) || dOff < 0) None
    else Some(WavInfo(rate, ch, bits,
      dLen.toLong / (ch * bits / 8), dOff, dLen))
  }

  /** Mean absolute amplitude of window `w` (0-based, `windowSamples` per
    * window, last window may be short): integer sum of |sample| over all
    * channels / sample count. 16-bit signed or 8-bit unsigned (offset-128)
    * PCM. */
  private def windowMeanAbs(bytes: Array[Byte], info: WavInfo,
                            w: Long, windowSamples: Int): Long = {
    val start = w * windowSamples
    val end = math.min(start + windowSamples, info.nSamples)
    var sum = 0L
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    var s = start
    while (s < end) {
      var c = 0
      while (c < info.channels) {
        val v: Int =
          if (info.bitsPerSample == 16)
            bb.getShort(info.dataOffset + ((s * info.channels + c) * 2).toInt).toInt
          else (bytes(info.dataOffset + (s * info.channels + c).toInt) & 0xff) - 128
        sum += math.abs(v)
        c += 1
      }
      s += 1
    }
    val n = (end - start) * info.channels
    if (n == 0) 0L else sum / n
  }

  /** Per-window audio activity rows: `(id, window, mean_abs, is_silence)` —
    * one row per `windowSec` of audio. Undecodable / non-PCM bytes
    * contribute no rows (same contract as [[Multimodal.imageDHashes]]:
    * curation can't judge what it can't parse; a format gate upstream
    * reports those). `silenceThreshold` is in sample units (16-bit scale;
    * 8-bit is internally offset to signed). */
  /** Per-clip loudness / clipping report + normalization gain — the
    * audio-curation pair to [[activityWindows]]' silence gate: a speech
    * corpus normalizes clip loudness before transcription or training
    * (the ffmpeg-loudnorm job, here in its RMS form — true EBU R128
    * gating is a filter chain on top of the same sums), and clips that
    * hit digital full scale are flagged as damaged rather than
    * renormalized into distortion.
    *
    * Per decodable clip (undecodable bytes contribute no rows — the m6
    * format-gate contract): exact integer `n_samples` (per channel ×
    * channels = total sample points), `rms` = ⌊√(Σv² div n)⌋ (integer
    * division THEN the correctly-rounded IEEE sqrt, floored — engine-
    * replayable, the t30 primitive), `peak` = max|v|, `n_clipped` =
    * points at ≥ 32735 (99.9% of 16-bit full scale; 8-bit is offset to
    * signed and scales the same thresholds by 256), `gain_milli` =
    * min(targetRms·1000 div rms, maxGainMilli) — the capped normalizer
    * gain (NULL on silence: there is nothing to normalize), and the
    * verdict ladder silent → clipped (≥ clipBp of points at full scale)
    * → ok in stated precedence.
    *
    * 100 TB shape: one mapPartitions decode pass, one integer-sum loop
    * per clip, no shuffle — the m6 plan with a per-clip reduction
    * instead of a window explode. */
  def clipLoudness(audio: DataFrame, idCol: String, bytesCol: String,
                   targetRms: Long = 8000L, silenceRms: Long = 50L,
                   clipBp: Long = 10L,
                   maxGainMilli: Long = 20000L): DataFrame = {
    require(targetRms >= 1 && silenceRms >= 0 && clipBp >= 1 &&
      maxGainMilli >= 1000,
      s"clipLoudness: need targetRms>=1, silenceRms>=0, clipBp>=1, " +
        s"maxGainMilli>=1000 (got $targetRms/$silenceRms/$clipBp/$maxGainMilli)")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("rms", LongType, nullable = false),
      StructField("peak", LongType, nullable = false),
      StructField("n_clipped", LongType, nullable = false),
      StructField("gain_milli", LongType, nullable = true),
      StructField("verdict", StringType, nullable = false)))
    val enc = RowEncoder.encoderFor(schema)
    val idIdx = audio.schema.fieldIndex(idCol)
    val bIdx = audio.schema.fieldIndex(bytesCol)
    audio.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](bIdx)
        parseWav(bytes).iterator.map { info =>
          val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
          val total = info.nSamples * info.channels
          val clipAt = if (info.bitsPerSample == 16) 32735L else 127L
          var i = 0L; var sumSq = 0L; var peak = 0L; var clipped = 0L
          while (i < total) {
            val v: Long =
              if (info.bitsPerSample == 16)
                bb.getShort(info.dataOffset + (i * 2).toInt).toLong
              else (bytes(info.dataOffset + i.toInt) & 0xff).toLong - 128L
            val a = math.abs(v)
            sumSq += a * a
            if (a > peak) peak = a
            if (a >= clipAt) clipped += 1
            i += 1
          }
          val rms = if (total == 0) 0L
            else math.floor(math.sqrt((sumSq / total).toDouble)).toLong
          // rms = 0 is silent whatever the threshold (a zero-RMS clip has
          // nothing to normalize and the gain division must not see it)
          val silent = rms < math.max(silenceRms, 1L)
          val gain: Any = if (silent) null
            else math.min(targetRms * 1000L / rms, maxGainMilli)
          val verdict =
            if (silent) "silent"
            else if (total > 0 && clipped * 10000L >= clipBp * total) "clipped"
            else "ok"
          Row(r.getLong(idIdx), total, rms, peak, clipped, gain, verdict)
        }
      }
    }(enc)
  }

  def activityWindows(audio: DataFrame, idCol: String, bytesCol: String,
                      windowSec: Double = 1.0,
                      silenceThreshold: Long = 100L): DataFrame = {
    require(windowSec > 0, s"activityWindows needs windowSec>0 (got $windowSec)")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("window", LongType, nullable = false),
      StructField("mean_abs", LongType, nullable = false),
      StructField("is_silence", BooleanType, nullable = false)))
    val enc = RowEncoder.encoderFor(schema)
    val idIdx = audio.schema.fieldIndex(idCol)
    val bIdx = audio.schema.fieldIndex(bytesCol)
    audio.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](bIdx)
        parseWav(bytes).iterator.flatMap { info =>
          // clamp to Int range: a pathological windowSec (1e9 s) must widen
          // the window to "whole file", not overflow toInt into a negative
          val ws = math.min(
            math.max(1L, (windowSec * info.sampleRate).toLong),
            Int.MaxValue.toLong)
          val nW = (info.nSamples + ws - 1) / ws
          (0L until nW).iterator.map { w =>
            val m = windowMeanAbs(bytes, info, w, ws.toInt)
            Row(r.getLong(idIdx), w, m, m < silenceThreshold)
          }
        }
      }
    }(enc)
  }

  /** CLIP-level audio near-duplicate detection — the audio seat of the
    * modality-dedup family (image [[Multimodal.imageNearDups]] m5/m11,
    * video [[Multimodal.videoNearDups]] m14): an audio corpus's duplicate
    * mass is re-uploaded/re-encoded whole clips, and the cheapest robust
    * clip signature is the ENERGY-ENVELOPE DELTA fingerprint — bit i set
    * iff window i+1's mean-abs energy exceeds window i's — the sign-of-
    * energy-difference construction at the core of Haitsma & Kalker 2002
    * ("A Highly Robust Audio Fingerprint System", §3: their bits are
    * energy-difference signs across time×frequency bands; this is the
    * time-axis row of that matrix, computable in exact integers with no
    * FFT, which keeps the whole fingerprint engine-replayable). Gain
    * changes that preserve the envelope's ORDER (the common re-encode)
    * leave every bit intact; re-encoder jitter flips isolated bits and
    * stays within `maxHamming`.
    *
    * Per decodable clip with ≥ `windows` samples: the clip is cut into
    * `windows` equal sub-windows on the exact integer grid
    * [k·n div W, (k+1)·n div W), the per-window mean-abs energy is the
    * m6 integer statistic, and the fingerprint packs the `windows−1`
    * delta bits into one long (W = 61 by default → 60 bits, the m5
    * hash-width convention that keeps every bit oracle-addressable).
    * Undecodable or too-short clips contribute no rows (the m6 format-
    * gate contract). Matching requires equal `n_samples` (a re-encode
    * keeps duration — the m14 count gate) and Hamming ≤ `maxHamming`;
    * candidates come from the m5 4×16-bit block pigeonhole (complete to
    * Hamming 3), never an all-pairs join. Output: (id_a, id_b,
    * n_samples, hamming) for verified pairs.
    *
    * 100 TB shape: PCM is touched ONCE, map-only; the block join is equi
    * on (block, value, n_samples); verify is bit_count on two longs. */
  def audioNearDups(audio: DataFrame, idCol: String, bytesCol: String,
                    windows: Int = 61, maxHamming: Int = 3): DataFrame = {
    require(windows >= 17 && windows <= 64,
      s"audioNearDups needs windows in [17, 64]: 16 bits minimum for the " +
        s"block pigeonhole to discriminate, 63 delta bits maximum to fit " +
        s"one long (got $windows)")
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit blocking is pigeonhole-complete only to Hamming 3 " +
        s"(got $maxHamming)")
    import org.apache.spark.sql.functions._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("fp", LongType, nullable = false)))
    val enc = RowEncoder.encoderFor(schema)
    val idIdx = audio.schema.fieldIndex(idCol)
    val bIdx = audio.schema.fieldIndex(bytesCol)
    val sig = graft.StageCut(audio.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](bIdx)
        parseWav(bytes).iterator.filter(_.nSamples >= windows).map { info =>
          val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
          val env = new Array[Long](windows)
          var k = 0
          while (k < windows) {
            val start = k * info.nSamples / windows
            val end = (k + 1) * info.nSamples / windows
            var sum = 0L
            var s = start
            while (s < end) {
              var c = 0
              while (c < info.channels) {
                val v: Int =
                  if (info.bitsPerSample == 16)
                    bb.getShort(info.dataOffset +
                      ((s * info.channels + c) * 2).toInt).toInt
                  else (bytes(info.dataOffset +
                    (s * info.channels + c).toInt) & 0xff) - 128
                sum += math.abs(v)
                c += 1
              }
              s += 1
            }
            val cnt = (end - start) * info.channels
            env(k) = if (cnt == 0) 0L else sum / cnt
            k += 1
          }
          var fp = 0L
          var i = 0
          while (i < windows - 1) {
            if (env(i + 1) > env(i)) fp |= (1L << i)
            i += 1
          }
          Row(r.getLong(idIdx), info.nSamples, fp)
        }
      }
    }(enc), "audioNearDups.sig") // one decode, two block sides + two verifies
    val blk = sig.select(col("id"), col("n_samples"), col("fp"),
        explode(sequence(lit(0), lit(3))).as("block_idx"))
      .withColumn("blk", expr("shiftright(fp, 16 * block_idx) & 65535"))
    val a = blk.as("a"); val b = blk.as("b")
    a.join(b,
        col("a.block_idx") === col("b.block_idx") &&
          col("a.blk") === col("b.blk") &&
          col("a.n_samples") === col("b.n_samples") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n_samples").as("n_samples"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
