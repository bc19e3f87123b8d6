package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.text

/** Multimodal column plumbing (SURVEY S8-S11 re-expressed for Spark).
  *
  * Media travel as opaque `binary` columns with typed metadata; the
  * decode / feature-extract stages are per-partition batch UDF stages —
  * exactly where a real image/audio library (or a GPU model server) plugs
  * in. The container ships no media codecs, so [[StubCodec]] is a
  * clearly-marked deterministic stand-in: it derives pseudo
  * width/height/duration from the content digest. The Spark-side plumbing —
  * schema, batching, partitioning, explode shapes — is real and tested;
  * swapping StubCodec for a JNI/Pandas-style decoder changes no plan shape.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("doc_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),   // image | audio | video
    StructField("bytes", BinaryType, nullable = true),
    StructField("meta", MapType(StringType, StringType), nullable = true)))

  /** STUB decode — deterministic fake dimensions from the md5 digest.
    * A real deployment replaces this with an actual codec; everything
    * downstream (schema, explode, window ops) is unchanged. */
  object StubCodec {
    /** width/height/duration as Column exprs over the bytes digest (md5 is
      * computable by any engine, so even the stub is oracle-checkable). */
    def width(bytes: Column): Column =
      (text.md5_prefix_long(bytes, 1, 4) % 1920) + 1
    def height(bytes: Column): Column =
      (text.md5_prefix_long(bytes, 5, 4) % 1080) + 1
    def durationSec(bytes: Column): Column =
      (text.md5_prefix_long(bytes, 9, 4) % 600) + 1
  }

  /** Decode stage: attach (pseudo-)decoded metadata columns. */
  def decode(media: DataFrame): DataFrame =
    media
      .withColumn("width", StubCodec.width(col("bytes")))
      .withColumn("height", StubCodec.height(col("bytes")))
      .withColumn("duration_sec",
        when(col("kind").isin("audio", "video"), StubCodec.durationSec(col("bytes"))))

  /** S9 image normalize: the resize decision is plan-side (codegen'd); the
    * actual pixel work would happen in the decode stage. Mirrors the <=256px
    * rule (`ingestion_service.py:1491-1522`). */
  def resizePlan(decoded: DataFrame, maxWidth: Int = 256): DataFrame =
    decoded.withColumn("needs_resize", col("kind") === "image" && col("width") > maxWidth)
      .withColumn("target_width", least(col("width"), lit(maxWidth)))
      .withColumn("target_height",
        when(col("width") > maxWidth,
          greatest((col("height") * maxWidth / col("width")).cast("long"), lit(1)))
          .otherwise(col("height")))

  /** S8/S10 frame sampling: one row per sampled timestamp (video) or page
    * (pdf) — the explode shape every downstream per-frame model stage
    * consumes. fps expressed as one frame every `stepSec`. */
  def sampleFrames(decoded: DataFrame, stepSec: Int = 30): DataFrame =
    decoded.filter(col("kind") === "video")
      .select(col("media_id"), col("doc_id"),
        posexplode(sequence(lit(0), (col("duration_sec") / stepSec).cast("long")))
          .as(Seq("frame_number", "step")))
      .select(col("media_id"), col("doc_id"), col("frame_number").cast("long").as("frame_number"),
        (col("step") * stepSec).cast("double").as("ts"))

  /** Page rasterizer slot for the S10/S11 image side (the pyMuPDF /
    * pdf2image / LibreOffice seat, `ingestion_service.py:1416-1896`). No
    * pure-JDK renderer exists, so production plugs a real one in here;
    * tests drive the chain with deterministic fakes. A throw from either
    * method is PER-PAGE recoverable — see [[pageImageChunks]]. */
  trait PageRenderer extends Serializable {
    def pageCount(docBytes: Array[Byte]): Int
    /** Render one page to encoded image bytes; may throw. */
    def render(docBytes: Array[Byte], page: Int): Array[Byte]
  }

  /** Video decoder slot for the S8 frame side (the ffmpeg/decord seat,
    * `parse_video.py:91-280`). No pure-JDK video codec exists, so
    * production plugs a real one in here ([[JCodecFrameDecoder]] is the
    * shipped optional binding); tests drive the chain with deterministic
    * fakes. A throw from either method is PER-FRAME / PER-DOC recoverable —
    * see [[videoFrameChunks]]. */
  trait FrameDecoder extends Serializable {
    def durationSec(videoBytes: Array[Byte]): Double
    /** Seek-decode the frame at `tsSec` to encoded image bytes; may throw. */
    def frameAt(videoBytes: Array[Byte], tsSec: Double): Array[Byte]
  }

  /** The composed ColPali page-image chunk flow
    * (`_render_pdf_with_pymupdf` / `_process_pdf_for_colpali`,
    * `ingestion_service.py:1416-1477,1617-1700`, unit table
    * `test_ingestion_colpali_rendering.py`): explode documents into page
    * renders and keep only usable ones — a page whose render or encode
    * THROWS is skipped (logged-and-skipped in the reference, never fatal
    * to the document), a page whose pixels are blank is skipped, and
    * survivors become data-URI image chunks with `is_image=true`,
    * numbered densely over the SURVIVORS (the reference enumerates the
    * rendered_pages list, so chunk numbers have no holes) with the
    * original page index kept alongside. A document whose pageCount
    * itself fails contributes zero pages (the reference falls to the next
    * rung of the parse ladder).
    *
    * Scale shape: one mapPartitions over the docs — render, blank-check,
    * and JPEG/base64 encode all happen inside the partition with no
    * shuffle; the output is chunk rows ready for the embed stage. */
  def pageImageChunks(docs: DataFrame, idCol: String, bytesCol: String,
                      renderer: PageRenderer, tolerance: Int = 2,
                      maxWidth: Int = 256): DataFrame =
    survivorImageChunks[Int](docs, idCol, bytesCol,
      keyField = StructField("page_index", IntegerType, nullable = false),
      probe = bytes => 0 until renderer.pageCount(bytes),
      renderOne = renderer.render,
      keyValue = identity[Int],
      tolerance = tolerance, maxWidth = maxWidth)

  /** The composed REAL-DECODE video frame chunk flow (S8's transform half,
    * `parse_video.py:91-280` — the reference seeks to evenly-spaced
    * timestamps and base64s each decoded frame): explode videos into
    * seek-decoded frames at one per `stepSec` and keep only usable ones —
    * a frame whose decode or encode THROWS is skipped (the reference's
    * log-and-continue per frame), a frame whose pixels are blank is
    * skipped, and survivors become data-URI image chunks numbered densely
    * over the SURVIVORS with the sampled timestamp kept alongside. A video
    * whose open/duration probe itself fails contributes zero frames.
    * [[sampleFrames]] is the PLAN-side half of the same contract (which
    * timestamps exist, oracle-gated by m2); this is the pixel half, fed by
    * a [[FrameDecoder]] — [[JCodecFrameDecoder]] when the optional jar is
    * present, a deterministic fake in CI.
    *
    * Scale shape: one mapPartitions over the videos — seek, decode,
    * blank-check, and JPEG/base64 encode all happen inside the partition
    * with no shuffle; output rows are chunk-shaped for the embed stage,
    * exactly like [[pageImageChunks]]. */
  def videoFrameChunks(videos: DataFrame, idCol: String, bytesCol: String,
                       decoder: FrameDecoder, stepSec: Int = 30,
                       tolerance: Int = 2, maxWidth: Int = 256,
                       maxFrames: Int = 10000): DataFrame = {
    require(stepSec >= 1, s"videoFrameChunks needs stepSec>=1 (got $stepSec)")
    require(maxFrames >= 1, s"videoFrameChunks needs maxFrames>=1 (got $maxFrames)")
    survivorImageChunks[Int](videos, idCol, bytesCol,
      keyField = StructField("ts", DoubleType, nullable = false),
      probe = { bytes =>
        // A corrupt container can report garbage duration (huge, negative,
        // NaN/Inf) — without a bound, (dur/step).toInt saturates to
        // Int.MaxValue and one bad video spins its task through billions of
        // seek-throw cycles. Non-finite/negative durations decode nothing
        // (same as a failed probe); finite ones are capped at `maxFrames`
        // samples (default 10k ≈ 83 h of video at the 30 s step).
        val dur = decoder.durationSec(bytes)
        val nSteps =
          if (!java.lang.Double.isFinite(dur) || dur < 0) -1
          else math.min(dur / stepSec, (maxFrames - 1).toDouble).toInt
        0 to nSteps
      },
      renderOne = (bytes, step) => decoder.frameAt(bytes, step.toDouble * stepSec),
      keyValue = step => step.toDouble * stepSec,
      tolerance = tolerance, maxWidth = maxWidth)
  }

  /** The shared explode-render-survive skeleton behind [[pageImageChunks]]
    * and [[videoFrameChunks]] — ONE copy of the contract both scaladocs
    * describe: `probe` lists the candidate keys per doc (pages / frame
    * steps; a throw = zero candidates), `renderOne` renders one key to
    * image bytes (a throw = skip that key), blank renders are skipped, and
    * survivors become normalized data-URI chunks numbered densely with
    * `keyValue(key)` kept alongside in `keyField`. IllegalStateException is
    * the seat's CONFIGURATION failure class (e.g. a reflection-bound
    * renderer/decoder with no jar on this executor) and always rethrows —
    * swallowing it per-doc would turn a missing dependency into silent zero
    * output for the whole corpus. Everything else is the reference's
    * fall-to-next-ladder-rung / log-and-continue semantics. One
    * mapPartitions, no shuffle. */
  private def survivorImageChunks[K](docs: DataFrame, idCol: String,
      bytesCol: String, keyField: StructField, probe: Array[Byte] => Seq[K],
      renderOne: (Array[Byte], K) => Array[Byte], keyValue: K => Any,
      tolerance: Int, maxWidth: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("chunk_number", IntegerType, nullable = false),
      keyField,
      StructField("content", StringType, nullable = false),
      StructField("is_image", BooleanType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val idIdx = docs.schema.fieldIndex(idCol)
    val bIdx = docs.schema.fieldIndex(bytesCol)
    docs.mapPartitions { rows =>
      rows.flatMap { r =>
        val docId = r.getLong(idIdx)
        val bytes = r.getAs[Array[Byte]](bIdx)
        val keys = try probe(bytes) catch {
          case e: IllegalStateException => throw e
          case _: Exception => Seq.empty[K]
        }
        keys.iterator.flatMap { k =>
          try {
            val img = renderOne(bytes, k)
            if (ImageCodec.isBlankBytes(img, tolerance)) None
            else Some((k, ImageCodec.normalize(img, "image/png", maxWidth).dataUri))
          } catch {
            case e: IllegalStateException => throw e
            case _: Exception => None
          }
        }.zipWithIndex.map { case ((k, uri), chunkNo) =>
          Row(docId, chunkNo, keyValue(k), uri, true)
        }
      }
    }(enc)
  }

  /** Perceptual-hash fingerprints of an image column: `(id, dhash)` rows
    * from real pixel decode ([[ImageCodec.dHash]] inside one
    * mapPartitions — the [[videoFrameChunks]] scale shape, no shuffle);
    * undecodable bytes contribute no row (the dedup pass cannot judge what
    * it cannot see — the m3 blank-gate keeps such pages, this drops them
    * from DEDUP only). */
  def imageDHashes(images: DataFrame, idCol: String, bytesCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("dhash", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val idIdx = images.schema.fieldIndex(idCol)
    val bIdx = images.schema.fieldIndex(bytesCol)
    images.mapPartitions { rows =>
      rows.flatMap { r =>
        ImageCodec.dHash(r.getAs[Array[Byte]](bIdx))
          .map(h => Row(r.getLong(idIdx), h)).iterator
      }
    }(enc)
  }

  /** Luma-entropy low-information image gate (the LAION-style "image
    * complexity" filter beside [[ImageCodec.isBlank]]'s blankness test:
    * blankness catches the EMPTY page, entropy catches the nearly-empty
    * one — solid fills, two-tone logos, flat gradients that waste a
    * vision-model's training step without being blank). Shannon entropy
    * of the 256-bin ITU-R 601-2 luma histogram, in nats:
    * H = ln(n) − Σ c·ln(c)/n, the c·ln(c) terms folded in ascending BIN
    * order from 0.0 (0·ln 0 skipped as 0 — the convention), ln of exact
    * integer counts (the t30 primitive), one stated subtraction/division
    * chain, ⌊H·10⁶⌋. `low_info` at the stated threshold (default
    * 2·10⁶ nats ≈ e² ≈ 7.4 effective luma levels — well under any
    * natural photograph, well over any flat fill). Undecodable bytes
    * contribute no rows (the m6/m12 format-gate contract).
    *
    * 100 TB shape: one mapPartitions decode pass, one integer histogram
    * + one 256-term fold per image, no shuffle. */
  def imageEntropy(images: DataFrame, idCol: String, bytesCol: String,
                   lowInfoMicro: Long = 2000000L): DataFrame = {
    require(lowInfoMicro >= 0, s"imageEntropy needs lowInfoMicro >= 0 " +
      s"(got $lowInfoMicro)")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("n_pixels", LongType, nullable = false),
      StructField("n_levels", LongType, nullable = false),
      StructField("entropy_micro", LongType, nullable = false),
      StructField("low_info", BooleanType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    val idIdx = images.schema.fieldIndex(idCol)
    val bIdx = images.schema.fieldIndex(bytesCol)
    images.mapPartitions { rows =>
      rows.flatMap { r =>
        ImageCodec.lumaHistogram(r.getAs[Array[Byte]](bIdx)).map { h =>
          var n = 0L; var levels = 0L
          var i = 0
          while (i < 256) { if (h(i) > 0) { n += h(i); levels += 1 }; i += 1 }
          var s = 0.0
          i = 0
          while (i < 256) {
            if (h(i) > 0) s += h(i).toDouble * StrictMath.log(h(i).toDouble)
            i += 1
          }
          val ent = math.floor(
            (StrictMath.log(n.toDouble) - s / n.toDouble) * 1000000.0).toLong
          Row(r.getLong(idIdx), n, levels, ent, ent < lowInfoMicro)
        }.iterator
      }
    }(enc)
  }

  /** Shot/scene-boundary detection over sampled video frames — the
    * curation signal that segments a video corpus into shots before
    * per-shot sampling/captioning (and the cheap dedup unit: one frame per
    * shot instead of one per second): consecutive-frame perceptual-hash
    * distance, a cut where it exceeds `maxHamming` bits (within-shot
    * frames hash near-identically; a hard cut re-randomizes the hash).
    *
    * Pixels are touched ONCE, map-only ([[ImageCodec.dHash]] inside
    * mapPartitions, the [[imageDHashes]] shape); the timeline then rides
    * one (video, ts)-windowed exchange of 8-byte fingerprints — the lag
    * and the XOR popcount are built-in codegen'd exprs. Undecodable
    * frames KEEP their timeline row with a null hash (the m3/m5 split:
    * the timeline must stay complete for downstream as-of joins) — their
    * transitions score null hamming / is_cut=false, never a fabricated
    * cut. Output: (video_id, ts, hamming, is_cut); the first frame of
    * each video has null hamming. */
  def sceneCuts(frames: DataFrame, videoCol: String, tsCol: String,
                bytesCol: String, maxHamming: Int = 10): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"sceneCuts needs maxHamming in [0,64) (got $maxHamming)")
    val schema = StructType(Seq(
      StructField("video_id", LongType, nullable = false),
      StructField("ts", LongType, nullable = false),
      StructField("dhash", LongType, nullable = true)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val vIdx = frames.schema.fieldIndex(videoCol)
    val tIdx = frames.schema.fieldIndex(tsCol)
    val bIdx = frames.schema.fieldIndex(bytesCol)
    val hashed = frames.mapPartitions { rows =>
      rows.map { r =>
        Row(r.getLong(vIdx), r.getLong(tIdx),
          ImageCodec.dHash(r.getAs[Array[Byte]](bIdx)).map(Long.box).orNull)
      }
    }(enc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("video_id").orderBy("ts")
    hashed
      .withColumn("__prev", lag(col("dhash"), 1).over(w))
      .withColumn("hamming",
        when(col("dhash").isNotNull && col("__prev").isNotNull,
          bit_count(col("dhash").bitwiseXOR(col("__prev"))).cast("long")))
      .withColumn("is_cut", coalesce(col("hamming") > maxHamming, lit(false)))
      .select("video_id", "ts", "hamming", "is_cut")
  }

  /** Image near-duplicate pairs — the LAION-style image dedup pass: pairs
    * whose dHashes differ in at most `maxHamming` bits. Blocking is the
    * SimHash pigeonhole on the 64-bit hash split into 4 16-bit blocks: any
    * pair within Hamming ≤ 3 agrees on at least one block, so candidates
    * come from an equi-join on (block index, block value) — never
    * all-pairs — and the Hamming popcount is computed and thresholded
    * straight off the collision row (codegen'd `bit_count(a^b)`), so
    * chance block collisions never reach the pair-dedup shuffle.
    * Output `(id_a, id_b, hamming)`, id_a < id_b.
    *
    * 100 TB shape: decode is map-only; the block explode is a fixed 4× of
    * the fingerprint stream (8 bytes/row, not pixels); the join keys are
    * hash-uniform 16-bit blocks. Same envelope as [[Dedup.simhashNearDups]]
    * (maxHamming > 3 would need more/narrower blocks — `require`d). */
  def imageNearDups(images: DataFrame, idCol: String, bytesCol: String,
                    maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit blocking is pigeonhole-complete only to Hamming 3 (got $maxHamming)")
    // stage-cut the fingerprint table (design rule 14: survivor-sized,
    // 16 bytes/row): the self-join consumes it twice, and without the cut
    // BOTH join sides re-decode every pixel of the corpus (two
    // MapPartitions branches in the executed plan — measured)
    val blocked = blockKeys(
      graft.StageCut(imageDHashes(images, idCol, bytesCol), "imageNearDups.hashes"))
    val a = blocked.as("a"); val b = blocked.as("b")
    a.join(b, col("a.block_idx") === col("b.block_idx") &&
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.dhash").bitwiseXOR(col("b.dhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** VIDEO-level near-duplicate detection — the re-upload/re-encode
    * dedup pass for the video modality (the video sibling of
    * [[imageNearDups]], and the multimodal-curation seat m7/m11 leave
    * open: a video corpus's duplicate mass is whole VIDEOS — mirrors,
    * re-encodes, watermarked re-uploads — not stray frames): two videos
    * are near-dups when their rank-aligned sampled-frame fingerprints
    * match (per-frame dHash Hamming ≤ `maxHamming`) on at least
    * `minMatchPpm` of the frames. Alignment is BY RANK over the shared
    * sampling grid (the m2 fixed-rate convention: re-encodes of one
    * video sample the same timeline); candidates must agree on frame
    * COUNT (a re-encode keeps duration — stated; clipped/trimmed
    * variants are a different operator's problem).
    *
    * Scale shape: pixels are touched ONCE, map-only (the
    * [[imageDHashes]] mapPartitions); undecodable frames drop from the
    * signature (the m5 rule — dedup cannot judge what it cannot see).
    * Candidate generation is the m5 pigeonhole ON EVERY RANK: a true
    * dup pair has ≥ ceil(minMatchPpm·n/1e6) ≥ 1 ranks whose hashes
    * differ ≤ maxHamming ≤ 3 bits, and at any such rank the pair
    * agrees on one of the 4 16-bit blocks — so the equi-join on
    * (rank, block, value, n_frames) is pigeonhole-complete for EVERY
    * minMatchPpm ≥ 1, including dups whose first frame alone differs
    * (intro cards, encoder keyframe artifacts). It is never all-pairs
    * over videos, and dedupes candidate pairs before verify; blocking
    * rows are 4·|frames| — linear in the input. The verify
    * stage joins candidates back to BOTH signatures on (video, rank) —
    * per-pair cost is |frames|, map-side-combined into one row. Chance
    * block collisions reach verify (8-byte rows), score their honest
    * low match_ppm, and emit is_dup = false — the candidate audit rides
    * the output rather than being silently filtered. Output:
    * (video_a, video_b, n_frames, n_matched, match_ppm, is_dup). */
  def videoNearDups(frames: DataFrame, videoCol: String, tsCol: String,
                    bytesCol: String, maxHamming: Int = 3,
                    minMatchPpm: Long = 800000L): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit first-frame blocking is pigeonhole-complete only to " +
        s"Hamming 3 (got $maxHamming)")
    require(minMatchPpm >= 1 && minMatchPpm <= 1000000,
      s"videoNearDups needs minMatchPpm in [1, 1e6] (got $minMatchPpm)")
    val schema = StructType(Seq(
      StructField("vid", LongType, nullable = false),
      StructField("ts", LongType, nullable = false),
      StructField("dhash", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val vIdx = frames.schema.fieldIndex(videoCol)
    val tIdx = frames.schema.fieldIndex(tsCol)
    val bIdx = frames.schema.fieldIndex(bytesCol)
    val hashed = frames.mapPartitions { rows =>
      rows.flatMap { r =>
        ImageCodec.dHash(r.getAs[Array[Byte]](bIdx))
          .map(h => Row(r.getLong(vIdx), r.getLong(tIdx), h)).iterator
      }
    }(enc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vid").orderBy("ts")
    // signature table: one decode of the corpus, four consumers (counts,
    // the two block-join sides, the two verify sides) — stage-cut
    val sig = graft.StageCut(hashed
      .withColumn("rank", row_number().over(w))
      .withColumn("n_frames",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("vid"))), "videoNearDups.sig")
    val rankBlk = sig
      .select(col("vid"), col("n_frames"), col("rank"), col("dhash"),
        explode(sequence(lit(0), lit(3))).as("block_idx"))
      .withColumn("blk", expr("shiftright(dhash, 16 * block_idx) & 65535"))
    val a = rankBlk.as("a"); val b = rankBlk.as("b")
    val cand = a.join(b,
        col("a.rank") === col("b.rank") &&
          col("a.block_idx") === col("b.block_idx") &&
          col("a.blk") === col("b.blk") &&
          col("a.n_frames") === col("b.n_frames") &&
          col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("va"), col("b.vid").as("vb"),
        col("a.n_frames").as("n_frames"))
      .distinct()
    cand
      .join(sig.select(col("vid").as("va"), col("rank"),
        col("dhash").as("ha")), Seq("va"))
      .join(sig.select(col("vid").as("vb"), col("rank"),
        col("dhash").as("hb")), Seq("vb", "rank"))
      .groupBy("va", "vb", "n_frames")
      .agg(sum(when(
        bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxHamming, 1L)
        .otherwise(0L)).as("n_matched"))
      .select(col("va").as("video_a"), col("vb").as("video_b"),
        col("n_frames"), col("n_matched"),
        expr("(n_matched * 1000000) div n_frames").as("match_ppm"))
      .withColumn("is_dup", col("match_ppm") >= minMatchPpm)
  }

  private def blockKeys(hashes: DataFrame): DataFrame = hashes
    .select(col("id"), col("dhash"),
      explode(sequence(lit(0), lit(3))).as("block_idx"))
    // arithmetic shift + mask == logical 16-bit block even when bit 63
    // is set (internal fixed column names, no escaping hazard)
    .withColumn("blk", expr("shiftright(dhash, 16 * block_idx) & 65535"))

  /** The accumulated image-fingerprint index — block-exploded dHash rows
    * of the historical corpus (the t24 band-index shape for images).
    * Build once over the corpus; incoming batches match against it with
    * [[imageMatchAgainst]] without re-decoding a pixel of the corpus. */
  def imageDHashIndex(images: DataFrame, idCol: String,
                      bytesCol: String): DataFrame =
    blockKeys(imageDHashes(images, idCol, bytesCol))

  /** Incoming-vs-corpus image near-dup matching — the incremental-crawl
    * pass for the image modality: decode + hash ONLY the incoming batch,
    * equi-join the corpus index on (block index, block value), keep the
    * per-image best match (lowest Hamming, smallest corpus id tiebreak).
    * Streaming shape: a batch function applied per micro-batch via
    * `foreachBatch` (design rule 8), index static within a batch —
    * StreamingImageDedupSpec drives exactly that. Output
    * `(id, corpus_id, hamming)`, one row per matched incoming image. */
  def imageMatchAgainst(incoming: DataFrame, index: DataFrame,
                        idCol: String, bytesCol: String,
                        maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit blocking is pigeonhole-complete only to Hamming 3 (got $maxHamming)")
    val q = blockKeys(imageDHashes(incoming, idCol, bytesCol)).as("q")
    val hits = q.join(index.as("x"),
        col("q.block_idx") === col("x.block_idx") && col("q.blk") === col("x.blk"))
      .select(col("q.id").as("id"), col("x.id").as("corpus_id"),
        bit_count(col("q.dhash").bitwiseXOR(col("x.dhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    hits.groupBy("id")
      .agg(min(struct(col("hamming"), col("corpus_id"))).as("m"))
      .select(col("id"), col("m.corpus_id").as("corpus_id"),
        col("m.hamming").as("hamming"))
  }
}
