package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling (SURVEY.md §2.8c L5; builder brief):
  * image/audio/video as opaque `binary` payload columns with typed
  * metadata, plus decode / feature-extract / resize / frame-sample
  * operators.
  *
  * The Spark-side plumbing is per-partition batched processing (the Scala
  * analogue of `mapInPandas` — an iterator of rows per partition, never a
  * driver collect). Decoding is REAL for the formats the JDK ships codecs
  * for — PNG/JPEG/BMP via `javax.imageio`, WAV via `javax.sound.sampled`
  * (see [[MediaCodec]]) — and falls back to a deterministic byte-histogram
  * stub for container formats with no JDK codec (mp4 video); the fallback
  * is visible in the output (`decoded = false` per row), never silent.
  */
object Multimodal {

  case class MediaMeta(format: String, width: Int, height: Int,
                       durationMs: Long)
  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
                      meta: MediaMeta)
  case class MediaFeatures(media_id: Long, kind: String, format: String,
                           features: Array[Float], n_bytes: Long,
                           decoded: Boolean)
  case class Frame(media_id: Long, frame_idx: Int, ts_ms: Long,
                   payload: Array[Byte])

  /** Audio rows are synthesized at this PCM sample rate. */
  val AudioSampleRate = 8000

  /** Deterministic synthetic media table derived from the documents
    * fixture. Image and audio payloads are REAL encoded containers
    * (PNG pixels / WAV sine tones, pure functions of doc_id and the
    * text length — see [[MediaCodec.syntheticPng]]/`syntheticWav`), so
    * the decode path downstream exercises genuine codecs; video payloads
    * are opaque blobs (UTF-8 text bytes) standing in for a container
    * the JDK cannot decode. Encoding runs inside the map — executor-side,
    * never on the driver. */
  def mediaFromDocuments(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // spread the rows before the per-row PNG/WAV ENCODE: the map is
    // narrow, so a single-split source would encode the whole corpus
    // on one core (the poissonBootstrap lesson — the shuffle moves
    // only (id, text), the cheap side of the pipeline)
    docs.select(col("doc_id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Long, String)].map {
      case (id, text) =>
        (id % 3) match {
          case 0 =>
            val w = 32 + (id % 8).toInt * 8
            val h = 32 + (id % 5).toInt * 8
            MediaRow(id, "image",
              MediaCodec.syntheticPng(w, h, id, text.length),
              MediaMeta("png", w, h, durationMs = 0L))
          case 1 =>
            val durMs = 1000L + (id % 10) * 100    // 1.0-1.9 s, bounded
            val freq = 200.0 + (id % 20) * 20.0
            MediaRow(id, "audio",
              MediaCodec.syntheticWav(AudioSampleRate, durMs, freq, 12000),
              MediaMeta("wav", 0, 0, durMs))
          case _ =>
            val durMs = 1000L + (id % 30) * 100    // 1.0-3.9 s, bounded
            MediaRow(id, "video", text.getBytes("UTF-8"),
              MediaMeta("mp4", 64, 64, durMs))
        }
    }
  }

  /** Raw-file media ingestion: a directory of media files (read through
    * the `binaryFile` DSv2 source — one split per file, so decode
    * parallelism is file parallelism) becomes the same [[MediaRow]]
    * table the synthetic path produces. Kind/format come from the file
    * extension; image dimensions are RECOVERED by decoding the header
    * executor-side (the metadata a crawl does not carry); media_id is
    * the stable xxhash64 of the file name, so re-ingesting a grown
    * directory preserves existing ids (the standing-index discipline:
    * dHash/signature tables keyed by media_id stay valid). Unknown
    * extensions land as kind "binary" with format "bin" — they flow to
    * the stub-codec path downstream, not an error. */
  def mediaFromFiles(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    val files = graft.sources.Sources.read(spark, "binaryfile", dir)
      .select(col("path"),
        org.apache.spark.sql.functions.xxhash64(
          element_at(split(col("path"), "/"), -1)).as("media_id"),
        lower(element_at(split(col("path"), "\\."), -1)).as("ext"),
        col("content"))
    files.select(col("media_id"), col("ext"), col("content"))
      .as[(Long, String, Array[Byte])]
      .map { case (id, ext, bytes) =>
        if (MediaCodec.isImageFormat(ext)) {
          val dims = MediaCodec.decodeImage(bytes)
          MediaRow(id, "image", bytes, MediaMeta(ext,
            dims.map(_.width).getOrElse(0), dims.map(_.height).getOrElse(0),
            durationMs = 0L))
        } else if (MediaCodec.isAudioFormat(ext)) {
          val st = MediaCodec.decodeWav(bytes)
          val durMs = st.map(a =>
            (a.frames * 1000.0 / a.sampleRate).toLong).getOrElse(0L)
          MediaRow(id, "audio", bytes, MediaMeta(ext, 0, 0, durMs))
        } else MediaRow(id, "binary", bytes, MediaMeta("bin", 0, 0, 0L))
      }
  }

  /** STUB codec for formats without a JDK decoder: a `dim`-bin byte
    * histogram, L1-normalized. Deterministic, so tests stay exact; the
    * operator contract (binary in, fixed-dim float features out) matches
    * the real codec paths. */
  def stubDecodeFeatures(payload: Array[Byte], dim: Int = 16): Array[Float] = {
    val hist = new Array[Float](dim)
    var i = 0
    while (i < payload.length) {
      hist(((payload(i) & 0xFF) * dim) / 256) += 1f
      i += 1
    }
    val total = math.max(1, payload.length).toFloat
    hist.map(_ / total)
  }

  /** Feature extraction over batched partitions — the mapInPandas-shaped
    * path: one iterator pass per partition, constant memory, no shuffle.
    * Dispatches per row on the container format: real image/audio stats
    * where the JDK has a codec ([[MediaCodec.featureVector]] documents
    * the slot layout), stub histogram otherwise (`decoded = false`). */
  def extractFeatures(media: Dataset[MediaRow], dim: Int = 16): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        val (feats, ok) = MediaCodec.featureVector(m.meta.format, m.payload, dim)
        MediaFeatures(m.media_id, m.kind, m.meta.format, feats,
          m.payload.length.toLong, ok)
      }
    }
  }

  /** Resize: REAL for image rows — decode, nearest-neighbor rescale,
    * re-encode PNG (deterministic bytes; the format field follows the
    * re-encode). Non-image rows (or undecodable payloads) keep the stub
    * byte-truncation rewrite so the operator is total. Pure per-row
    * projection either way — no shuffle. */
  def resize(media: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.map { m =>
      val real =
        if (MediaCodec.isImageFormat(m.meta.format))
          MediaCodec.resizeImage(m.payload, w, h)
        else None
      real match {
        case Some(bytes) =>
          m.copy(payload = bytes,
            meta = m.meta.copy(format = "png", width = w, height = h))
        case None =>
          val scale = math.max(1, (m.meta.width.toLong * m.meta.height)
            / math.max(1, w.toLong * h)).toInt
          m.copy(payload = m.payload.grouped(scale).map(_.head).toArray,
            meta = m.meta.copy(width = w, height = h))
      }
    }
  }

  /** Frame sampling for video rows: one frame every `everyMs`, payload
    * stub-sliced from the source blob (no JDK mp4 demuxer exists; a real
    * impl swaps the slice for a demuxer call — the iterator shape,
    * schema, and output cardinality are what this operator pins down).
    * flatMap = Catalyst Generate-shaped: streams per partition, output
    * can exceed input rowcount safely. */
  def sampleFrames(media: Dataset[MediaRow], everyMs: Long = 1000L): Dataset[Frame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "video").flatMap { m =>
      val n = math.min(32, (m.meta.durationMs / everyMs).toInt)
      (0 until n).map { i =>
        val start = (m.payload.length.toLong * i / math.max(1, n)).toInt
        val end = math.min(m.payload.length,
          start + math.max(1, m.payload.length / math.max(1, n)))
        Frame(m.media_id, i, i * everyMs,
          java.util.Arrays.copyOfRange(m.payload, start, end))
      }
    }
  }

  // --- image near-dup ----------------------------------------------------

  /** Per-image 64-bit perceptual dHash table (`id`, `simhash`) for the
    * decodable image rows — the standing signature index for image
    * dedup, persistable and appendable exactly like the MinHash /
    * SimHash text tiers. Non-decodable payloads are dropped (they have
    * no perceptual content to hash). */
  def imageDHashes(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter((m: MediaRow) => m.kind == "image")
      .flatMap((m: MediaRow) =>
        MediaCodec.dHash(m.payload).map(h => (m.media_id, h)))
      .toDF("id", "simhash")
  }

  /** Image near-duplicate pairs: perceptual dHash + the banded-Hamming
    * pigeonhole join ([[Dedup.hammingPairs]] — exact for maxDist ≤ 3,
    * never all-pairs). The image analogue of text SimHash dedup:
    * re-encodes, small edits, and thumbnail churn land within a few
    * bits; unrelated images sit near 32. Output (a, b, hamming),
    * a < b. */
  def imageNearDupPairs(media: Dataset[MediaRow],
                        maxDist: Int = 3): DataFrame =
    Dedup.hammingPairs(imageDHashes(media).transform(Cut.rows), maxDist)

  /** Incremental image near-dedup against a STANDING dHash table (from
    * [[imageDHashes]], persisted once and appended per batch — the same
    * admit-a-batch discipline as [[Dedup.incrementalMinHashNearDup]]).
    * A new image drops when it is within `maxDist` of any corpus image,
    * or of a lower-id image within the batch; non-image rows pass
    * through untouched (they have no perceptual hash — route them to
    * their own dedup tier). Returns (kept media rows, their dHash rows);
    * append the latter to the standing table to complete the
    * increment. */
  def incrementalImageNearDup(newMedia: Dataset[MediaRow],
                              corpusHashes: DataFrame,
                              maxDist: Int = 3): (Dataset[MediaRow], DataFrame) = {
    val spark = newMedia.sparkSession
    import spark.implicits._
    val batchHashes = imageDHashes(newMedia).transform(Cut.rows)
    val vsCorpus = Dedup.hammingPairsAcross(corpusHashes, batchHashes, maxDist)
      .select(col("b").as("victim"))
    val within = Dedup.hammingPairs(batchHashes, maxDist)
      .select(col("b").as("victim"))
    val victims = vsCorpus.union(within).distinct()
    val kept = newMedia.join(victims,
        newMedia("media_id") === victims("victim"), "left_anti")
      .as[MediaRow]
    val keptHashes = batchHashes.join(victims,
      batchHashes("id") === victims("victim"), "left_anti")
    (kept, keptHashes)
  }
}
