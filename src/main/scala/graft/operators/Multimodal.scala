package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal columns (SURVEY §2.11 X5): image/audio/video as opaque
 * `binary` payloads with typed metadata, plus the Spark-side plumbing for
 * per-batch decode / feature-extract / resize / frame-sample.
 *
 * Design for 100 TB of media:
 *  - payloads stay **opaque binary** end-to-end; only metadata (struct of
 *    width/height/codec/duration) is queryable — filters on metadata prune
 *    row groups WITHOUT touching payload bytes (Parquet column pruning);
 *  - decode runs **per-partition, batch-at-a-time** (`mapPartitions` over an
 *    iterator — the Scala analogue of `mapInPandas`: same batch shape, same
 *    "library runs once per partition, not once per row" economics);
 *  - the image decode is REAL: [[pngFixture]] encodes genuine PNGs with
 *    `javax.imageio` (ships in the JDK) and [[decodeFeatures]] reads the
 *    pixels back out — dimensions and channel statistics are verified
 *    against an oracle that predicts them from the generator inputs.
 *    the audio decode is REAL too: [[wavFixture]] encodes genuine 16-bit
 *    PCM WAVs with `javax.sound.sampled` and [[decodeAudioFeatures]] parses
 *    them back (container + sample statistics, oracle-predicted);
 *    the video-CONTAINER path is real as of r18: [[aviFixture]] writes
 *    genuine AVI/RIFF containers holding MJPEG (baseline JPEG) frames —
 *    the one compressed-video format the stock JDK can both encode and
 *    decode (ImageIO's JPEG codec; constant-gray frames round-trip
 *    pixel-exact at quality 1.0, pinned by MultimodalSpec) — and
 *    [[sampleAviFrames]] walks the RIFF chunk tree directly (the WAV
 *    discipline: no SPI lookups in tasks) and really decodes every
 *    sampled '00dc' frame; animated GIFs ([[sampleDecodedFrames]]) and
 *    raw byte framing ([[sampleFrames]]) remain as the codec-free
 *    siblings. H.264/mp4 stays out of reach without native codecs and is
 *    byte-plumbing only.
 */
object Multimodal {

  /** The typed metadata carried beside every binary payload. */
  val metaSchema: StructType = StructType(Seq(
    StructField("modality", StringType, nullable = false),  // image | audio | video
    StructField("format", StringType, nullable = false),    // png | wav | mp4 | …
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
  ))

  /** Canonical multimodal table schema: id + opaque payload + metadata. */
  val schema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false),
    StructField("meta", metaSchema, nullable = false),
  ))

  /** Deterministic fixture builder: derives a small multimodal table from
    * the `documents` fixture (payload = utf8 bytes of the text; metadata
    * derived from doc stats). Lets every test/query run without media
    * libraries while exercising the real schema and partitioning. */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        lit("image").as("modality"),
        lit("stub").as("format"),
        (length(col("text")) % 640).cast("int").as("width"),
        (length(col("text")) % 480).cast("int").as("height"),
        lit(null).cast("long").as("duration_ms"),
      ).as("meta"))

  /** Metadata-only predicate — the 100 TB win: Parquet reads the `meta`
    * column only; payload bytes are never deserialized for filtered-out
    * rows. */
  def filterByMeta(df: DataFrame, modality: String, minWidth: Int): DataFrame =
    df.filter(col("meta.modality") === modality && col("meta.width") >= minWidth)

  /** GRADIENT-PNG fixture: real encoded PNGs whose pixels carry the
    * deterministic stripe v(x, y) = (id·17 + x·31 + y·47) mod 256 on a
    * fixed 16×16 canvas (all three channels = v) — per-pixel STRUCTURE a
    * perceptual hash can bite on, where [[pngFixture]]'s constant fill
    * (right for decoder feature tests) would degenerate every pHash to
    * one value. ids 256 apart carry IDENTICAL stripes (Δ·17 ≡ 0 mod 256
    * ⟺ 256 | Δ, since 17 is odd), so exact image duplicates are planted
    * at every SF — ground truth for the near-dup key. Generator inputs
    * are SQL-expressible, so the oracle replays the pixel function. */
  def pngGradientFixture(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val rdd = Query.ensureParallelism(docs.select(col("doc_id")))
      .rdd.mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val img = new BufferedImage(16, 16, BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 16) {
            var x = 0
            while (x < 16) {
              val v = ((id * 17 + x * 31 + y * 47) % 256).toInt
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          val bos = new ByteArrayOutputStream()
          ImageIO.write(img, "png", bos)
          Row(id, bos.toByteArray, Row("image", "png", 16, 16, null))
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** 64-bit AVERAGE HASH (aHash) over REAL decoded pixels — the
    * image-dedup primitive (train-data image near-dup runs on perceptual
    * hashes, not raw bytes): decode the PNG, box-downsample 16×16 → 8×8
    * by EXACT integer 2×2 red-channel sums (no float resize — integer
    * arithmetic both engines replay bit for bit), bit k (row-major
    * k = cy·8 + cx) set iff cell_sum·64 ≥ total_sum (the cross-multiplied
    * integer mean compare; ties BRIGHT). mapPartitions because no
    * Catalyst expression decodes PNG — the established [[decodeFeatures]]
    * boundary; everything after the decode is plain integer SQL.
    *
    * Quarantine parity with [[decodeFeatures]]: a corrupt/non-image payload
    * (`ImageIO.read` → null or IOException) or an image that is not the
    * 16×16 the integer box-downsample assumes yields a NULL `ahash` instead
    * of an NPE/silent top-left-window hash — the caller decides whether to
    * drop or route the quarantined rows. */
  def imageAHash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select(col("media_id"), col("payload"))
      .rdd.mapPartitions { rows =>
        ImageIO.setUseCache(false)
        rows.map { r =>
          val id = r.getLong(0)
          // NULL payloads and RuntimeException-throwing ImageIO plugins
          // (some readers throw IndexOutOfBounds on malformed-but-
          // recognized data) quarantine exactly like an IOException —
          // the contract is "all undecodable payloads yield NULL ahash"
          val img =
            if (r.isNullAt(1)) null
            else try ImageIO.read(
              new ByteArrayInputStream(r.getAs[Array[Byte]](1)))
            catch { case scala.util.control.NonFatal(_) => null }
          if (img == null || img.getWidth != 16 || img.getHeight != 16)
            Row(id, null)
          else {
            val cell = new Array[Long](64)
            var total = 0L
            var y = 0
            while (y < 16) {
              var x = 0
              while (x < 16) {
                val v = (img.getRGB(x, y) >> 16) & 0xFF
                cell((y / 2) * 8 + (x / 2)) += v
                total += v
                x += 1
              }
              y += 1
            }
            var h = 0L
            var k = 0
            while (k < 64) {
              if (cell(k) * 64 >= total) h |= (1L << k)
              k += 1
            }
            Row(id, h)
          }
        }
      }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("ahash", LongType, nullable = true))))
  }

  /** Image NEAR-DUP pairs by pigeonhole-banded hamming join over the
    * aHash — (id_a, id_b, hamming ≤ 3): 4 disjoint 16-bit bands, any
    * pair at distance ≤ 3 agrees exactly on ≥ 1 band (provable recall,
    * never O(n²) — [[graft.operators.Dedup.simhashHammingPairs]]'s
    * machinery over image hashes), popcount verify via bit_count(xor).
    * The banded equi-join is the 100 TB shape: hashes are 8 bytes/image
    * and only band-colliding pairs ever meet. */
  def imageNearDups(media: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"4x16-bit pigeonhole covers maxDist <= 3, got $maxDist")
    // quarantined rows (null ahash: corrupt or non-16×16 payloads) cannot
    // participate in the hamming join — a null signature has no bands
    val sig = imageAHash(media).where(col("ahash").isNotNull).localCheckpoint()
    val result = Dedup
      .hammingBandPairs(sig, "media_id", "ahash", bits = 64, bands = 4,
        maxDist = maxDist)
      .withColumn("hamming", col("hamming").cast("int"))
      .localCheckpoint()
    Dedup.freeCheckpoints(sig)
    result
  }

  /** Real-PNG fixture: each document becomes a small genuine PNG whose
    * dimensions and constant RGB fill are pure functions of
    * `(doc_id, length(text))`, encoded with `javax.imageio`. Because the
    * generator inputs are SQL-expressible, a cross-engine oracle can
    * predict exactly what a real decoder must find in the pixel data —
    * dimensions AND per-channel means. Encoding runs per-partition
    * (encoder/stream allocated inside the task, nothing on the driver). */
  def pngFixture(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    // parallelize the NARROW projection before payloads exist — the doc
    // corpus is often one row group at test scale, which would pin the
    // whole encode (and every decoder downstream, mapPartitions preserves
    // partitioning) to a single task; repartitioning ids is ~free,
    // repartitioning encoded payload bytes later would not be
    val rdd = Query.ensureParallelism(
        docs.select(col("doc_id"), length(col("text")).as("len")))
      .rdd.mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val len = r.getInt(1)
          val w = 4 + (id % 13).toInt
          val h = 3 + (id % 11).toInt
          val rgb = ((id % 256).toInt << 16) | ((len % 256) << 8) | ((id * 7) % 256).toInt
          val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { img.setRGB(x, y, rgb); x += 1 }
            y += 1
          }
          val bos = new ByteArrayOutputStream()
          ImageIO.write(img, "png", bos)
          Row(id, bos.toByteArray, Row("image", "png", w, h, null))
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** Feature row produced by the decoder. Decode-stat columns are nullable:
    * a payload ImageIO can't parse yields nulls instead of failing the job —
    * at 100 TB corrupt media is routine, and `width IS NULL` is the
    * quarantine predicate (same raise/quarantine split as Validate). */
  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("mean_r", IntegerType, nullable = true),
    StructField("mean_g", IntegerType, nullable = true),
    StructField("mean_b", IntegerType, nullable = true),
    StructField("feature", ArrayType(FloatType, containsNull = false), nullable = true),
  ))

  /** REAL image decode + feature extraction, batched over partitions
    * (mapInPandas-shaped): `ImageIO.read` parses the actual PNG bytes and
    * the pixel loop computes per-channel means (rounded — exact for the
    * constant-fill fixture) plus a `dims`-bucket luminance histogram as the
    * feature vector. Per-partition setup (decoder plugin scan) happens once
    * per task, not once per row; nothing is collected to the driver. */
  def decodeFeatures(df: DataFrame, dims: Int = 8): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select(col("media_id"), col("payload")).rdd.mapPartitions { rows =>
      // ImageIO's plugin registry initializes HERE — once per task
      ImageIO.setUseCache(false)
      rows.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]]("payload")
        // same NULL-payload / NonFatal quarantine contract as imageAHash
        val img =
          if (payload == null) null
          else try ImageIO.read(new ByteArrayInputStream(payload))
          catch { case scala.util.control.NonFatal(_) => null }
        if (img == null)
          Row(id, if (payload == null) 0 else payload.length,
            null, null, null, null, null, null)
        else {
          val w = img.getWidth
          val h = img.getHeight
          var sr = 0L; var sg = 0L; var sb = 0L
          val hist = new Array[Float](dims)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = img.getRGB(x, y)
              val cr = (p >> 16) & 0xff; val cg = (p >> 8) & 0xff; val cb = p & 0xff
              sr += cr; sg += cg; sb += cb
              val lum = (cr * 299 + cg * 587 + cb * 114) / 1000
              hist(math.min(dims - 1, lum * dims / 256)) += 1.0f
              x += 1
            }
            y += 1
          }
          val n = (w * h).toFloat
          var i = 0
          while (i < dims) { hist(i) /= n; i += 1 }
          Row(id, payload.length, w, h,
            math.round(sr.toDouble / (w * h)).toInt,
            math.round(sg.toDouble / (w * h)).toInt,
            math.round(sb.toDouble / (w * h)).toInt,
            hist.toSeq)
        }
      }
    }
    spark.createDataFrame(rdd, featureSchema)
  }

  /** Multi-frame (animated GIF) fixture — the closest thing to video the
    * JDK can encode: each document becomes a `2 + doc_id % 5`-frame GIF
    * whose frame dimensions and per-frame constant gray fill are pure
    * functions of (doc_id, frame index), so a cross-engine oracle predicts
    * what real frame decoding must recover. Encoded per-partition with the
    * ImageIO sequence writer. */
  def gifFixture(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    // same single-row-group guard as pngFixture: split BEFORE encoding
    val rdd = Query.ensureParallelism(docs.select(col("doc_id")))
      .rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val w = 3 + (id % 5).toInt
        val h = 2 + (id % 4).toInt
        val nFrames = 2 + (id % 5).toInt
        val bos = new ByteArrayOutputStream()
        val ios = ImageIO.createImageOutputStream(bos)
        val writer = ImageIO.getImageWritersByFormatName("gif").next()
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        (0 until nFrames).foreach { i =>
          val g = ((id * 31 + i * 17) % 256).toInt
          val rgb = (g << 16) | (g << 8) | g
          val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { img.setRGB(x, y, rgb); x += 1 }
            y += 1
          }
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        }
        writer.endWriteSequence()
        writer.dispose()
        ios.close()
        Row(id, bos.toByteArray, Row("video", "gif", w, h, nFrames * 40L))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Schema of a decoded, sampled frame. */
  val frameSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_no", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("mean_gray", IntegerType, nullable = false),
  ))

  /** REAL frame sampling: parse the multi-frame container with an ImageIO
    * sequence reader, decode every `stride`-th frame, and emit its
    * dimensions and mean gray level — per-partition batched, reader
    * allocated once per payload, nothing on the driver. Undecodable
    * payloads contribute no frames (same quarantine stance as
    * [[decodeFeatures]]; count them via an anti-join on media_id). */
  def sampleDecodedFrames(df: DataFrame, stride: Int): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val spark = df.sparkSession
    val rdd = df.select(col("media_id"), col("payload")).rdd.mapPartitions { rows =>
      ImageIO.setUseCache(false)
      rows.flatMap { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]]("payload")
        val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) { iis.close(); Iterator.empty }
        else {
          val reader = readers.next()
          // quarantine parity with [[decodeFeatures]]/[[imageAHash]]: a
          // payload whose container header parses but whose FRAME data is
          // truncated/corrupt throws from getNumImages/read mid-file — the
          // row contributes no frames instead of failing the whole task
          try {
            reader.setInput(iis)
            val n = reader.getNumImages(true)
            (0 until n by stride).iterator.map { i =>
              val img = reader.read(i)
              val w = img.getWidth
              val h = img.getHeight
              var s = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) { s += (img.getRGB(x, y) >> 16) & 0xff; x += 1 }
                y += 1
              }
              Row(id, i, w, h, math.round(s.toDouble / (w * h)).toInt)
            }.toVector
          } catch { case scala.util.control.NonFatal(_) => Vector.empty[Row] }
          finally { reader.dispose(); iis.close() }
        }
      }
    }
    spark.createDataFrame(rdd, frameSchema)
  }

  /** Minimal spec-correct AVI/RIFF container around pre-encoded MJPEG
    * frames: RIFF('AVI ') → LIST(hdrl){avih, LIST(strl){strh('vids',
    * 'MJPG'), strf(BITMAPINFOHEADER)}} → LIST(movi){'00dc' <jpeg>…}.
    * Written directly for the same reason as [[wavHeader]]: the container
    * is bytes, and writing the spec'd layout IS the real encode (no AVI
    * muxer ships in the JDK). No idx1 — players tolerate its absence and
    * [[sampleAviFrames]] walks movi sequentially like any spec-compliant
    * demuxer must for index-less files. */
  private def aviContainer(w: Int, h: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
    def fourcc(s: String) = s.getBytes("US-ASCII")
    val paddedLens = frames.map(f => f.length + (f.length & 1))
    val moviBody = 4 + paddedLens.map(_ + 8).sum           // 'movi' + chunks
    val strlBody = 4 + 8 + 56 + 8 + 40                     // 'strl' + strh + strf
    val hdrlBody = 4 + 8 + 56 + 8 + strlBody               // 'hdrl' + avih + LIST strl
    val riffBody = 4 + 8 + hdrlBody + 8 + moviBody         // 'AVI ' + LIST hdrl + LIST movi
    val buf = java.nio.ByteBuffer.allocate(8 + riffBody)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put(fourcc("RIFF")).putInt(riffBody).put(fourcc("AVI "))
    buf.put(fourcc("LIST")).putInt(hdrlBody).put(fourcc("hdrl"))
    buf.put(fourcc("avih")).putInt(56)
      .putInt(40000)                 // µs per frame (25 fps)
      .putInt(0).putInt(0).putInt(0) // maxBytesPerSec, padding, flags
      .putInt(frames.size)           // total frames
      .putInt(0).putInt(1).putInt(0) // initialFrames, streams, suggestedBuf
      .putInt(w).putInt(h)
      .putInt(0).putInt(0).putInt(0).putInt(0) // reserved
    buf.put(fourcc("LIST")).putInt(strlBody).put(fourcc("strl"))
    buf.put(fourcc("strh")).putInt(56)
      .put(fourcc("vids")).put(fourcc("MJPG"))
      .putInt(0).putInt(0).putInt(0) // flags, prio/lang, initialFrames
      .putInt(1).putInt(25)          // scale, rate
      .putInt(0).putInt(frames.size) // start, length
      .putInt(0).putInt(-1).putInt(0) // suggestedBuf, quality, sampleSize
      .putShort(0).putShort(0)
      .putShort(w.toShort).putShort(h.toShort) // rcFrame
    buf.put(fourcc("strf")).putInt(40)
      .putInt(40).putInt(w).putInt(h)
      .putShort(1).putShort(24)      // planes, bpp
      .put(fourcc("MJPG"))
      .putInt(w * h * 3)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    buf.put(fourcc("LIST")).putInt(moviBody).put(fourcc("movi"))
    frames.foreach { f =>
      buf.put(fourcc("00dc")).putInt(f.length).put(f)
      if ((f.length & 1) == 1) buf.put(0.toByte)
    }
    buf.array()
  }

  /** AVI/MJPEG fixture — a REAL compressed-video container per document:
    * `2 + doc_id % 4` baseline-JPEG frames of `(4 + doc_id % 6) ×
    * (3 + doc_id % 5)` constant gray `(doc_id·37 + frame·23) % 256`,
    * muxed by [[aviContainer]]. Constant-gray JPEG at quality 1.0
    * round-trips pixel-EXACT through the JDK codec (DC-only blocks,
    * unit quant tables; all 256 grays pinned by MultimodalSpec), so a
    * cross-engine oracle predicts what real frame decoding must
    * recover — the same contract as the GIF fixture, now through a
    * genuine video container + lossy-codec stack. */
  def aviFixture(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val rdd = Query.ensureParallelism(docs.select(col("doc_id")))
      .rdd.mapPartitions { rows =>
      ImageIO.setUseCache(false)
      rows.map { r =>
        val id = r.getLong(0)
        val w = 4 + (id % 6).toInt
        val h = 3 + (id % 5).toInt
        val nFrames = 2 + (id % 4).toInt
        val frames = (0 until nFrames).map { i =>
          val g = ((id * 37 + i * 23) % 256).toInt
          val rgb = (g << 16) | (g << 8) | g
          val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { img.setRGB(x, y, rgb); x += 1 }
            y += 1
          }
          val bos = new ByteArrayOutputStream()
          val wr = ImageIO.getImageWritersByFormatName("jpg").next()
          val p = wr.getDefaultWriteParam
          p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
          p.setCompressionQuality(1.0f)
          val ios = ImageIO.createImageOutputStream(bos)
          wr.setOutput(ios)
          wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
          wr.dispose(); ios.close()
          bos.toByteArray
        }
        Row(id, aviContainer(w, h, frames),
          Row("video", "avi", w, h, nFrames * 40L))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** REAL video-container frame sampling: walk the AVI/RIFF chunk tree
    * directly (header → LIST movi → '00dc'/'00db' frame chunks — the
    * same direct-parse discipline as the WAV path: no SPI lookups inside
    * tasks), decode every `stride`-th MJPEG frame with ImageIO's JPEG
    * codec, and emit dimensions + mean gray. Quarantine contract: a
    * payload that is not RIFF/AVI, or whose chunk tree or frame data is
    * truncated/corrupt, contributes only the frames that fully parse
    * (none when the header is bad) — never fails the task. */
  def sampleAviFrames(df: DataFrame, stride: Int): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val spark = df.sparkSession
    val rdd = df.select(col("media_id"), col("payload")).rdd.mapPartitions { rows =>
      ImageIO.setUseCache(false)
      rows.flatMap { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]]("payload")
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        try {
          val bb = java.nio.ByteBuffer.wrap(payload)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          def tag(): String = {
            val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
          }
          if (tag() == "RIFF") {
            bb.getInt // riff size
            if (tag() == "AVI ") {
              var frameNo = 0
              var stop = false
              while (!stop && bb.remaining >= 8) {
                val id4 = tag()
                val len = bb.getInt
                if (id4 == "LIST") {
                  // a corrupt length < 4 would move the cursor backward
                  // (net-zero progress = a hung task, not an exception) —
                  // treat as malformed and stop with the frames parsed
                  if (len < 4) stop = true
                  else {
                    val listType = tag()
                    // descend into movi; skip other lists whole
                    if (listType != "movi") bb.position(bb.position + len - 4)
                  }
                } else {
                  if ((id4 == "00dc" || id4 == "00db") && len >= 0 &&
                      len <= bb.remaining) {
                    if (frameNo % stride == 0) {
                      val jpeg = new Array[Byte](len)
                      bb.get(jpeg)
                      val img = ImageIO.read(new ByteArrayInputStream(jpeg))
                      if (img == null) stop = true
                      else {
                        val w = img.getWidth; val h = img.getHeight
                        var s = 0L
                        var y = 0
                        while (y < h) {
                          var x = 0
                          while (x < w) { s += (img.getRGB(x, y) >> 16) & 0xff; x += 1 }
                          y += 1
                        }
                        out += Row(id, frameNo, w, h,
                          math.round(s.toDouble / (w * h)).toInt)
                      }
                    } else bb.position(bb.position + len)
                    frameNo += 1
                  } else bb.position(bb.position + math.max(0, len))
                  if ((len & 1) == 1 && bb.remaining >= 1) bb.get // pad byte
                }
              }
            }
          }
        } catch { case scala.util.control.NonFatal(_) => () }
        out
      }
    }
    spark.createDataFrame(rdd, frameSchema)
  }

  /** Canonical 44-byte RIFF/WAVE header for 16-bit signed LE mono PCM —
    * byte-identical to what `javax.sound.sampled.AudioSystem.write`
    * produces for this format (pinned by MultimodalSpec's interop test).
    * Written directly because the JDK encoder's ServiceLoader provider
    * lookup measured ~1.1 s PER TASK under Spark's executor classloader
    * (MutableURLClassLoader re-scans the full jar list on SPI misses) —
    * 32 parallel decode tasks paid 36 s of task time for 1 s of actual
    * audio work. The container format is bytes; writing the spec'd header
    * IS the real encode. */
  private def wavHeader(nSamples: Int, rate: Int): Array[Byte] = {
    val dataLen = nSamples * 2
    val h = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    h.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)            // PCM
      .putShort(1)            // mono
      .putInt(rate)
      .putInt(rate * 2)       // byte rate = rate * blockAlign
      .putShort(2)            // blockAlign = channels * bytesPerSample
      .putShort(16)           // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    h.array()
  }

  /** Real-WAV fixture: each document becomes a genuine 16-bit PCM mono WAV
    * (8 kHz) whose sample values are a pure integer function of
    * (doc_id, sample index) — sample_i = (id·31 + i·7) mod 2001 − 1000 —
    * in a canonical RIFF container (see [[wavHeader]]; AudioSystem parses
    * these byte-for-byte, pinned in the spec). As with [[pngFixture]],
    * SQL-expressible generator inputs mean a cross-engine oracle can
    * predict exactly what a real audio decoder must recover: sample count,
    * duration, and integer amplitude statistics. */
  def wavFixture(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    // same single-row-group guard as pngFixture: split BEFORE encoding
    val rdd = Query.ensureParallelism(docs.select(col("doc_id")))
      .rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val n = 50 + (id % 100).toInt
        val payload = new Array[Byte](44 + n * 2)
        System.arraycopy(wavHeader(n, 8000), 0, payload, 0, 44)
        var i = 0
        while (i < n) {
          val sample = (((id * 31 + i * 7) % 2001) - 1000).toShort
          payload(44 + 2 * i) = (sample & 0xff).toByte
          payload(44 + 2 * i + 1) = ((sample >> 8) & 0xff).toByte
          i += 1
        }
        Row(id, payload, Row("audio", "wav", null, null, n * 1000L / 8000))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Schema of decoded audio features. Integer-exact on purpose: sum/max of
    * absolute amplitudes instead of a floating RMS, so the oracle comparison
    * has no rounding seam. Nullable stats = quarantine for undecodable
    * payloads, as in [[decodeFeatures]]. */
  val audioFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("n_samples", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("max_abs", IntegerType, nullable = true),
    StructField("sum_abs", LongType, nullable = true),
  ))

  /** REAL audio decode: a direct RIFF/WAVE chunk walk — verify the
    * RIFF/WAVE magic, scan chunks in any order (skipping unknown ones, as
    * the format requires), read the `fmt ` chunk's encoding fields, then
    * fold the `data` chunk's 16-bit LE PCM frames into amplitude
    * statistics. Per-partition batched like every decoder here, nothing on
    * the driver; the JDK's `AudioSystem` is deliberately NOT in this path
    * (its SPI lookup measured ~1.1 s per task under Spark's executor
    * classloader — see [[wavHeader]]) but the spec pins agreement with it
    * both ways. The sample fold assumes 16-bit signed mono LE PCM;
    * anything else (8-bit, stereo, u-law, big-endian, truncated container)
    * is quarantined: null stats, predicate `n_samples IS NULL` — at
    * 100 TB corrupt media is routine and must never fail the job. */
  def decodeAudioFeatures(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select(col("media_id"), col("payload")).rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]]("payload")
        try {
          val bb = java.nio.ByteBuffer.wrap(payload)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          def ascii4(): String = {
            val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
          }
          require(ascii4() == "RIFF", "not a RIFF container")
          bb.getInt // declared RIFF payload size (trust the chunk walk, not this)
          require(ascii4() == "WAVE", "not a WAVE form")
          var rate = -1
          var dataOff = -1
          var dataLen = -1
          while (bb.remaining() >= 8 && (rate < 0 || dataOff < 0)) {
            val chunkId = ascii4()
            val size = bb.getInt
            require(size >= 0 && size <= bb.remaining(), s"truncated chunk $chunkId")
            chunkId match {
              case "fmt " =>
                val fmtStart = bb.position()
                val audioFormat = bb.getShort
                val channels = bb.getShort
                rate = bb.getInt
                bb.getInt   // byte rate
                bb.getShort // block align
                val bits = bb.getShort
                require(audioFormat == 1 && channels == 1 && bits == 16,
                  s"unsupported WAV format: fmt=$audioFormat ch=$channels bits=$bits")
                bb.position(fmtStart + size + (size & 1)) // chunks are word-aligned
              case "data" =>
                dataOff = bb.position(); dataLen = size
                bb.position(bb.position() + size + (size & 1))
              case _ => // skip unknown chunks (LIST, fact, …) — format-legal
                bb.position(bb.position() + size + (size & 1))
            }
          }
          require(rate > 0 && dataOff >= 0, "missing fmt or data chunk")
          val n = dataLen / 2
          var sumAbs = 0L
          var maxAbs = 0
          var i = 0
          while (i < n) {
            val lo = payload(dataOff + 2 * i) & 0xff
            val hi = payload(dataOff + 2 * i + 1).toInt // sign-extends: carries sign
            val sample = (hi << 8) | lo
            val a = math.abs(sample)
            sumAbs += a
            if (a > maxAbs) maxAbs = a
            i += 1
          }
          Row(id, rate, n, n * 1000L / rate, maxAbs, sumAbs)
        } catch {
          case _: Exception => Row(id, null, null, null, null, null)
        }
      }
    }
    spark.createDataFrame(rdd, audioFeatureSchema)
  }

  /** Frame sampling plumbing for video-like payloads: emit every `stride`-th
    * fixed-size window of the payload as a "frame" (a real impl samples
    * decoded frames; the partitioning/explode shape is identical). */
  def sampleFrames(df: DataFrame, frameBytes: Int, stride: Int): DataFrame =
    df.select(col("media_id"),
      posexplode(transform(
        sequence(lit(0), greatest(ceil(length(col("payload")) / lit(frameBytes * stride)).cast("int") - 1, lit(0))),
        i => substring(col("payload"), (i * frameBytes * stride + 1).cast("int"), lit(frameBytes)))))
      .withColumnRenamed("pos", "frame_no")
      .withColumnRenamed("col", "frame")
}
