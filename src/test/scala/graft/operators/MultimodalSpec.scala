package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** X5: multimodal schema/plumbing — binary payloads, metadata pruning,
  * partition-batched (stubbed) decode. */
class MultimodalSpec extends AnyFunSuite with SparkSpec {

  private lazy val media = {
    import spark.implicits._
    Multimodal.fromDocuments(
      Seq((1L, "tiny"), (2L, "a much longer document body here"), (3L, "mid size doc"))
        .toDF("doc_id", "text"))
  }

  test("schema contract: opaque binary payload + typed metadata struct") {
    assert(media.schema("payload").dataType.typeName == "binary")
    val meta = media.schema("meta").dataType
    assert(meta.isInstanceOf[org.apache.spark.sql.types.StructType])
    assert(Multimodal.schema.fieldNames.toSeq == Seq("media_id", "payload", "meta"))
  }

  test("metadata filters never touch payload bytes (column pruning)") {
    val pruned = Multimodal.filterByMeta(media, "image", 10).select("media_id")
    val plan = pruned.queryExecution.optimizedPlan.toString
    assert(!plan.contains("payload"), s"payload must be pruned out:\n$plan")
  }

  test("pngFixture emits genuine PNGs; decodeFeatures recovers dims and pixel means") {
    import spark.implicits._
    val docs = Seq((1L, "tiny"), (2L, "a much longer document body here"),
      (260L, "x" * 300)).toDF("doc_id", "text")
    val feats = Multimodal.decodeFeatures(Multimodal.pngFixture(docs), dims = 4)
      .orderBy("media_id").collect()
    assert(feats.length == 3)
    // doc 260: w = 4 + 260%13 = 4, h = 3 + 260%11 = 10, r = 260%256 = 4,
    // g = 300%256 = 44, b = (260*7)%256 = 28 — all read back from real pixels
    val d = feats(2)
    assert(d.getInt(2) == 4 && d.getInt(3) == 10)
    assert(d.getInt(4) == 4 && d.getInt(5) == 44 && d.getInt(6) == 28)
    // payload really is a PNG (magic bytes), not a repackaged string
    val payload = Multimodal.pngFixture(docs).filter(col("media_id") === 260L)
      .head().getAs[Array[Byte]]("payload")
    assert(payload.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    // constant-fill image → luminance histogram has all mass in one bucket
    assert(d.getSeq[Float](7).sum == 1.0f && d.getSeq[Float](7).max == 1.0f)
  }

  test("decodeFeatures quarantines undecodable payloads as nulls, not failures") {
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, Array[Byte](1, 2, 3),
        org.apache.spark.sql.Row("image", "png", null, null, null)))
    val corrupt = spark.createDataFrame(rows, Multimodal.schema)
    val out = Multimodal.decodeFeatures(corrupt).head()
    assert(out.getLong(0) == 1L && out.getInt(1) == 3)
    assert(out.isNullAt(2) && out.isNullAt(7)) // width .. feature all null
  }

  test("gifFixture + sampleDecodedFrames: real multi-frame decode, strided") {
    import spark.implicits._
    // doc 7: w = 3+7%5 = 5, h = 2+7%4 = 5, frames = 2+7%5 = 4 → stride 2
    // samples frames 0 and 2; gray(i) = (7*31 + i*17) % 256 = 217, 251
    val docs = Seq((7L, "x")).toDF("doc_id", "text")
    val frames = Multimodal.sampleDecodedFrames(Multimodal.gifFixture(docs), stride = 2)
      .orderBy("frame_no").collect()
    assert(frames.map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toSeq ==
      Seq((0, 5, 5, 217), (2, 5, 5, 251)))
    // the payload really is a GIF container
    val payload = Multimodal.gifFixture(docs).head().getAs[Array[Byte]]("payload")
    assert(new String(payload.take(6), "US-ASCII").startsWith("GIF8"))
  }

  test("sampleDecodedFrames quarantines a truncated container (header " +
      "parses, frame data corrupt) as zero frames, not a task failure") {
    import spark.implicits._
    val good = Multimodal.gifFixture(Seq((1L, "some text here")).toDF("doc_id", "text"))
    // keep only the GIF magic then garbage: readers.hasNext is true
    // (signature matches), the frame scan then throws mid-file
    val truncated = good.collect().map { r =>
      org.apache.spark.sql.Row(2L,
        r.getAs[Array[Byte]]("payload").take(6) ++
          Array.fill[Byte](16)(0x7F.toByte),
        r.getStruct(2))
    }
    val mixed = good.unionByName(spark.createDataFrame(
      java.util.Arrays.asList(truncated: _*), Multimodal.schema))
    val frames = Multimodal.sampleDecodedFrames(mixed, stride = 1)
      .collect().map(_.getLong(0))
    assert(frames.nonEmpty && frames.forall(_ == 1L),
      "good media decodes, truncated media contributes zero frames")
  }

  test("JDK JPEG round-trips constant-gray frames pixel-exact at quality " +
      "1.0 (the aviFixture oracle's load-bearing assumption, all 256 grays)") {
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.ImageIO
    (0 until 256).foreach { g =>
      val (w, h) = (4 + g % 6, 3 + g % 5)
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val rgb = (g << 16) | (g << 8) | g
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new ByteArrayOutputStream()
      val wr = ImageIO.getImageWritersByFormatName("jpg").next()
      val p = wr.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(1.0f)
      val ios = ImageIO.createImageOutputStream(bos)
      wr.setOutput(ios)
      wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
      wr.dispose(); ios.close()
      val back = ImageIO.read(new ByteArrayInputStream(bos.toByteArray))
      assert(back.getWidth == w && back.getHeight == h, s"dims g=$g")
      for (y <- 0 until h; x <- 0 until w)
        assert(((back.getRGB(x, y) >> 16) & 0xff) == g, s"pixel g=$g ($x,$y)")
    }
  }

  test("aviFixture + sampleAviFrames: real AVI/RIFF demux + MJPEG frame " +
      "decode, strided; payload really is an AVI container") {
    import spark.implicits._
    // doc 7: w = 4+7%6 = 5, h = 3+7%5 = 5, frames = 2+7%4 = 5 → stride 2
    // samples frames 0, 2, 4; gray(i) = (7*37 + i*23) % 256 = 3, 49, 95
    val docs = Seq((7L, "x")).toDF("doc_id", "text")
    val frames = Multimodal.sampleAviFrames(Multimodal.aviFixture(docs), stride = 2)
      .orderBy("frame_no").collect()
    assert(frames.map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toSeq ==
      Seq((0, 5, 5, 3), (2, 5, 5, 49), (4, 5, 5, 95)))
    val payload = Multimodal.aviFixture(docs).head().getAs[Array[Byte]]("payload")
    assert(new String(payload.take(4), "US-ASCII") == "RIFF" &&
      new String(payload.slice(8, 12), "US-ASCII") == "AVI ")
    // stride 1 decodes every frame
    val all = Multimodal.sampleAviFrames(Multimodal.aviFixture(docs), stride = 1)
      .collect().map(_.getInt(1)).sorted.toSeq
    assert(all == Seq(0, 1, 2, 3, 4))
  }

  test("sampleAviFrames quarantines truncated and non-AVI payloads: the " +
      "fully-present frames decode, nothing fails the task") {
    import spark.implicits._
    val good = Multimodal.aviFixture(Seq((1L, "t")).toDF("doc_id", "text"))
    val goodRow = good.collect()(0)
    val payload = goodRow.getAs[Array[Byte]]("payload")
    // cut mid-movi: header + first frame survive, the tail is gone
    val cut = payload.take(payload.length - 20)
    // and a payload that isn't RIFF at all
    val junk = Array.fill[Byte](64)(0x11.toByte)
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(2L, cut, goodRow.getStruct(2)),
      org.apache.spark.sql.Row(3L, junk, goodRow.getStruct(2)))
    val mixed = good.unionByName(
      spark.createDataFrame(rows, Multimodal.schema))
    val frames = Multimodal.sampleAviFrames(mixed, stride = 1).collect()
    val byId = frames.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    // doc 1 (intact): frames = 2+1%4 = 3; doc 2 (cut): a prefix of them;
    // doc 3 (junk): zero
    assert(byId(1L) == 3, s"intact decodes all frames, got $byId")
    assert(byId.getOrElse(3L, 0) == 0, "non-RIFF contributes nothing")
    assert(byId.getOrElse(2L, 0) < 3, "truncated loses the cut tail")
  }

  test("sampleFrames emits strided fixed-size windows of the payload") {
    val frames = Multimodal.sampleFrames(media.filter(col("media_id") === 2L),
      frameBytes = 8, stride = 2)
    val got = frames.orderBy("frame_no").collect()
    assert(got.length >= 2)
    assert(got.head.getInt(1) == 0)
    // frame 0 = first 8 payload bytes
    assert(new String(got.head.getAs[Array[Byte]](2)) == "a much l")
  }

  test("wavFixture emits genuine WAVs; decodeAudioFeatures recovers the signal stats") {
    import spark.implicits._
    val docs = Seq((5L, "x"), (12L, "y")).toDF("doc_id", "text")
    val wavs = graft.operators.Multimodal.wavFixture(docs)
    // RIFF/WAVE magic — these are real containers, not tagged bytes
    val head = wavs.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    head.foreach { case (_, b) =>
      assert(new String(b.take(4), "US-ASCII") == "RIFF")
      assert(new String(b.slice(8, 12), "US-ASCII") == "WAVE")
    }
    val feats = graft.operators.Multimodal.decodeAudioFeatures(wavs)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4), r.getLong(5)))).toMap
    def expect(id: Long) = {
      val n = 50 + (id % 100).toInt
      val amps = (0 until n).map(i => math.abs((id * 31 + i * 7) % 2001 - 1000))
      (8000, n, n * 1000L / 8000, amps.max.toInt, amps.sum)
    }
    assert(feats(5L) == expect(5L))
    assert(feats(12L) == expect(12L))
  }

  test("decodeAudioFeatures quarantines undecodable payloads as nulls") {
    import spark.implicits._
    val junk = Seq((1L, Array[Byte](1, 2, 3), "x")).toDF("media_id", "payload", "pad")
    val out = graft.operators.Multimodal.decodeAudioFeatures(junk).collect()
    assert(out.length == 1 && out(0).isNullAt(2))
  }

  test("WAV container interop with javax.sound both ways (JDK decoder witness)") {
    // the production encode/decode is a direct RIFF walk (the JDK SPI
    // lookup costs ~1.1 s/task under Spark's executor classloader); this
    // pin proves the container is REAL: the JDK decoder reads our bytes,
    // and our decoder reads the JDK encoder's bytes, identically.
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import spark.implicits._
    val docs = Seq((5L, "x"), (12L, "y")).toDF("doc_id", "text")
    // 1) our fixture bytes → JDK decoder
    val ours = graft.operators.Multimodal.wavFixture(docs)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    ours.foreach { case (id, bytes) =>
      val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      assert(fmt.getSampleRate == 8000f && fmt.getChannels == 1 &&
        fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian)
      val pcm = ais.readAllBytes()
      assert(pcm.length == (50 + (id % 100).toInt) * 2,
        "JDK decoder must recover exactly the PCM frames we encoded")
    }
    // 2) JDK encoder bytes → our decoder
    val n = 60
    val data = new Array[Byte](n * 2)
    (0 until n).foreach { i =>
      val s = ((i * 37) % 2001 - 1000).toShort
      data(2 * i) = (s & 0xff).toByte; data(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(new ByteArrayInputStream(data),
      new AudioFormat(8000f, 16, 1, true, false), n.toLong),
      AudioFileFormat.Type.WAVE, bos)
    val jdkWav = Seq((99L, bos.toByteArray)).toDF("media_id", "payload")
    val feat = graft.operators.Multimodal.decodeAudioFeatures(jdkWav).head()
    val amps = (0 until n).map(i => math.abs((i * 37) % 2001 - 1000))
    assert((feat.getInt(1), feat.getInt(2), feat.getLong(3), feat.getInt(4),
      feat.getLong(5)) == ((8000, n, n * 1000L / 8000, amps.max, amps.sum.toLong)))
  }

  test("imageAHash over REAL decoded gradient PNGs equals the pixel-" +
      "function brute force (decode round-trip + exact integer circuit)") {
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, "t")).toDF("doc_id", "text")
    val got = Multimodal.imageAHash(Multimodal.pngGradientFixture(docs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def brute(id: Long): Long = {
      val cell = new Array[Long](64); var total = 0L
      for (y <- 0 until 16; x <- 0 until 16) {
        val v = (id * 17 + x * 31 + y * 47) % 256
        cell((y / 2) * 8 + (x / 2)) += v; total += v
      }
      (0 until 64).foldLeft(0L)((h, k) =>
        if (cell(k) * 64 >= total) h | (1L << k) else h)
    }
    (0L until 40L).foreach(i => assert(got(i) == brute(i), s"id $i"))
  }

  test("imageAHash quarantines corrupt and non-16x16 payloads as null " +
      "ahash (no NPE, no top-left-window hash); imageNearDups drops them") {
    import spark.implicits._
    // a genuine PNG that is NOT 16x16: pngFixture doc 260 decodes to 4x10
    val tiny = Multimodal.pngFixture(Seq((260L, "x" * 300)).toDF("doc_id", "text"))
    // a corrupt non-image payload
    val corrupt = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(999L,
        Array[Byte](1, 2, 3), org.apache.spark.sql.Row(
          "image", "png", null, null, null))),
      Multimodal.schema)
    // and one healthy 16x16 gradient image
    val ok = Multimodal.pngGradientFixture(Seq((1L, "t")).toDF("doc_id", "text"))
    val mixed = ok.unionByName(tiny).unionByName(corrupt)
    val sig = Multimodal.imageAHash(mixed).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(sig(1L).isDefined, "healthy 16x16 image must hash")
    assert(sig(260L).isEmpty, "non-16x16 image must quarantine, not window-hash")
    assert(sig(999L).isEmpty, "corrupt payload must quarantine, not NPE")
    // near-dup join over the mixed corpus completes and only pairs hashables
    val pairs = Multimodal.imageNearDups(
      ok.unionByName(ok.withColumn("media_id", col("media_id") + 256))
        .unionByName(tiny).unionByName(corrupt))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 257L)), "only the planted 16x16 pair survives")
  }

  test("imageNearDups equals brute-force popcount pairs at radius 3 " +
      "(pigeonhole recall over the 4x16-bit bands) and plants exact " +
      "dups 256 ids apart") {
    import spark.implicits._
    // two windows 256 apart so planted exact dups exist in-corpus
    val ids = (0L until 20L) ++ (256L until 276L)
    val docs = ids.map(i => (i, "t")).toDF("doc_id", "text")
    val fx = Multimodal.pngGradientFixture(docs)
    val got = Multimodal.imageNearDups(fx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sig = Multimodal.imageAHash(fx)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (for {
      a <- ids; b <- ids if a < b
      d = java.lang.Long.bitCount(sig(a) ^ sig(b))
      if d <= 3
    } yield (a, b, d)).toSet
    assert(got == want)
    // the planted stripe period: ids 256 apart hash identically
    assert(got.exists { case (a, b, d) => b - a == 256 && d == 0 })
  }
}
