package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns (SURVEY.md §2.3 #32): image/audio/video as
  * binary columns + typed metadata, with partition-aware batched
  * decode. The DECODE IS REAL down to the pixel/sample level for all
  * three formats: payloads are valid PNG / JPEG / WAV files (built
  * byte-by-byte in [[graft.functions.MediaCodecs]]), header metadata
  * is parsed back from the raw bytes, PNG pixels come from zlib
  * inflate + scanline unfiltering, JPEG pixels from huffman entropy
  * decode + dequantization + inverse DCT, and WAV samples straight
  * from the PCM data chunk — no external codec library anywhere.
  *
  * Scale: decode runs via mapPartitions so a heavier codec would be
  * initialized once per partition (not per row) and rows stream
  * through in batches; media bytes never hit the driver.
  */
object MediaOps {
  import graft.functions.MediaCodecs

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("mime", StringType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("fmt", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("bit_depth", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    // pixel/sample-level decode results: PNG pixels via zlib inflate
    // + full unfiltering (round 5), JPEG via huffman + dequant + IDCT
    // (round 6), WAV PCM read straight from the data chunk — null
    // only when the payload is not decodable
    StructField("px_count", LongType, nullable = true),
    StructField("px_sum", LongType, nullable = true),
    StructField("px_min", IntegerType, nullable = true),
    StructField("px_max", IntegerType, nullable = true),
    StructField("feature", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** Deterministic 8-dim byte-distribution feature (histogram of the
    * top-3 bits of every payload byte, normalized).
    */
  private[operators] def byteFeature(payload: Array[Byte]): Array[Float] = {
    val buckets = new Array[Long](8)
    var i = 0
    while (i < payload.length) {
      buckets((payload(i) & 0xFF) >>> 5) += 1
      i += 1
    }
    val n = math.max(payload.length, 1).toFloat
    buckets.map(_ / n)
  }

  /** Batched decode + feature extraction over the binary column:
    * container headers (PNG IHDR / JPEG SOF / WAV fmt) are parsed
    * from the payload bytes — the returned dimensions come from the
    * FILE, not from the metadata columns. One decoder per partition;
    * constant memory per row.
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(featureSchema)
    media.select("media_id", "mime", "payload").mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        val meta = MediaCodecs.parse(payload)
        def f(get: MediaCodecs.MediaMeta => Option[Int]): Any =
          meta.flatMap(get).orNull
        // pixel/sample plane where the container's codec is pure JVM
        val plane: Option[(Long, Long, Int, Int)] = meta.map(_.fmt) match {
          case Some("png") => MediaCodecs.decodePngPixels(payload).map { p =>
            var s = 0L; var mn = 255; var mx = 0
            var i = 0
            while (i < p.pixels.length) {
              val v = p.pixels(i) & 0xFF
              s += v; if (v < mn) mn = v; if (v > mx) mx = v
              i += 1
            }
            (p.pixels.length.toLong, s, if (p.pixels.length == 0) 0 else mn, mx)
          }
          case Some("wav") => MediaCodecs.decodeWavSamples(payload).map { ss =>
            var s = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
            var i = 0
            while (i < ss.length) {
              s += ss(i); if (ss(i) < mn) mn = ss(i); if (ss(i) > mx) mx = ss(i)
              i += 1
            }
            (ss.length.toLong, s, if (ss.isEmpty) 0 else mn, if (ss.isEmpty) 0 else mx)
          }
          case Some("jpeg") => MediaCodecs.decodeJpegPixels(payload).map { p =>
            var s = 0L; var mn = 255; var mx = 0
            var i = 0
            while (i < p.pixels.length) {
              val v = p.pixels(i) & 0xFF
              s += v; if (v < mn) mn = v; if (v > mx) mx = v
              i += 1
            }
            (p.pixels.length.toLong, s, if (p.pixels.length == 0) 0 else mn, mx)
          }
          case _ => None
        }
        Row(r.getLong(0), r.getString(1), payload.length,
          meta.map(_.fmt).orNull, f(_.width), f(_.height),
          f(_.bitDepth), f(_.channels), f(_.sampleRate),
          plane.map(_._1).orNull, plane.map(_._2).orNull,
          plane.map(_._3).orNull, plane.map(_._4).orNull,
          byteFeature(payload))
      }
    }(enc)
  }

  val frameSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("mime", StringType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("frame", BinaryType, nullable = false)))

  /** Frame sampling (round 6: REAL for the video container): APNG
    * payloads are demuxed — `nFrames` evenly spaced animation frames
    * are extracted and each re-wrapped as a standalone still PNG
    * (the per-frame zlib streams are self-contained, so extraction
    * is a chunk-level remux, no pixel decode on the sampling path).
    * Non-animated payloads keep the deterministic byte-chunk
    * stand-in so the operator stays total. The explosion happens
    * INSIDE mapPartitions — one demux pass per source row emits all
    * its frames, the shape a real video pipeline has (vs. a
    * per-(row, frame) re-demux that an explode + UDF would do).
    */
  def sampleFrames(media: DataFrame, nFrames: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(frameSchema)
    media.select("media_id", "mime", "payload")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          MediaCodecs.apngFrameStreams(payload) match {
            case Some(streams) =>
              (0 until nFrames).iterator.map { idx =>
                val fi = idx * streams.length / nFrames
                Row(r.getLong(0), r.getString(1), idx,
                  MediaCodecs.frameAsPng(payload, streams(fi)))
              }
            case None =>
              val chunk = math.max(1, payload.length / nFrames)
              (0 until nFrames).iterator.map { idx =>
                val from = math.min(idx * chunk, math.max(payload.length - 1, 0))
                Row(r.getLong(0), r.getString(1), idx,
                  java.util.Arrays.copyOfRange(payload, from,
                    math.min(from + chunk, payload.length)))
              }
          }
        }
      }(enc)
  }

  /** Deterministic synthetic media table: every payload is a VALID
    * file (PNG with CRC'd chunks and deflated scanlines, baseline
    * JPEG marker stream, PCM WAV) whose header metadata matches the
    * width/height columns — so header decode recovers real values
    * from real bytes.
    */
  /** Built ON EXECUTORS (r14): the per-id codec ENCODE (real DCT,
    * PNG filtering + deflate) dominates the synthetic-media ops, and
    * the previous local-Seq construction ran every encode
    * single-threaded on the driver inside the consumer's timed query
    * (the guide-§5 "driver should do no data work" rule). A
    * distributed range splits the encode across the session's
    * parallelism; every blob is keyed on its id alone, so the rows are
    * bit-identical under any partitioning (MediaOpsSpec pins the
    * bytes).
    */
  def syntheticMedia(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n).as[Long].map { id =>
      val i = id.toInt
      val w = 64 + i % 32
      val h = 48 + i % 24
      (i % 4) match {
        case 0 =>
          val colorType = Array(0, 2, 6)((i / 4) % 3)
          // every other PNG cycles all five scanline filters, so the
          // registered query's pixel stats exercise real unfiltering
          (i.toLong, "image/png", Some(w), Some(h),
            MediaCodecs.buildPng(w, h, colorType, seed = i,
              filtered = i % 2 == 0))
        case 1 =>
          // cycle gray 4:4:4 / color 4:4:4 / color 4:2:0 (the
          // subsampled layout most real-world JPEGs ship) /
          // PROGRESSIVE at 1×1 and 4:2:0 (the multi-scan layouts web
          // encoders default to) — all five pixel-decodable
          (i.toLong, "image/jpeg", Some(w), Some(h),
            (i / 4) % 5 match {
              case 0 => MediaCodecs.buildJpeg(w, h, 1, seed = i)
              case 1 => MediaCodecs.buildJpeg(w, h, 3, seed = i)
              case 2 => MediaCodecs.buildJpeg420(w, h, seed = i)
              case 3 => MediaCodecs.buildJpegProgressive(w, h, 3, seed = i)
              case _ => MediaCodecs.buildJpegProgressive(w, h, 3, seed = i,
                subsample = true)
            })
        case 2 =>
          (i.toLong, "audio/wav", None, None,
            MediaCodecs.buildWav(8000 + 100 * (i % 5), 1 + i % 2,
              nSamples = 64 + i % 128, seed = i))
        case _ => // video-like: animated PNG, 3-6 full frames
          (i.toLong, "video/apng", Some(w), Some(h),
            MediaCodecs.buildApng(w, h, Array(0, 2, 6)((i / 4) % 3),
              nFrames = 3 + i % 4, seed = i))
      }
    }.toDF("media_id", "mime", "width", "height", "payload")
  }
}
