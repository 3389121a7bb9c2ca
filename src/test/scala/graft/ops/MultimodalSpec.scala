package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "hello world", "en", "s1"),
    (2L, "", "en", "s2"),
    (3L, "0123456789abcdef", "de", "s3")
  ).toDF("doc_id", "text", "lang", "source")

  test("payloads: binary column + typed metadata struct") {
    val p = Multimodal.payloads(docs, "doc_id", "text")
    assert(p.schema("payload").dataType == BinaryType)
    val meta = p.schema("meta").dataType.asInstanceOf[StructType]
    assert(meta.fieldNames.sameElements(Array("n_bytes", "lang", "source")))
    val r = p.where($"doc_id" === 1).select("meta.n_bytes").as[Long].head()
    assert(r == 11L)
  }

  test("metaTable: size, md5, magic prefix") {
    val m = Multimodal.metaTable(Multimodal.payloads(docs, "doc_id", "text"))
      .orderBy("doc_id").collect()
    assert(m(0).getLong(1) == 11L)
    assert(m(0).getString(2) == "5eb63bbbe01eeed093cb22bb8f5acdc3") // md5("hello world")
    assert(m(2).getString(3) ==
      java.util.Base64.getEncoder.encodeToString("01234567".getBytes))
  }

  test("resize: integer byte decimation, ceil-length output, empty-safe") {
    val r = Multimodal.resize(
        Multimodal.payloads(docs, "doc_id", "text"), 4)
      .as[(Long, Array[Byte])].collect().toMap
    assert(new String(r(3L)) == "048c")   // every 4th of 0123456789abcdef
    assert(r(1L).length == 3)             // ceil(11 / 4)
    assert(r(2L).length == 0)
  }

  test("resize REAL path: 2x2 integer block averages of decoded pixels, " +
      "re-encoded as PNG; undecodable/too-small/null images poison") {
    val png = Multimodal.encodePng(docs, "doc_id", "text", 8)
    val rs = Multimodal.resize(png, 2)
      .select($"doc_id", $"payload_resized".as("payload"))
    val grid = Multimodal.decodeGrayGrid(rs, 4)
      .as[(Long, Int, Int, Seq[Long])].collect().map(r => r._1 -> r).toMap
    val texts = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().toMap
    for ((id, (_, w, h, gray)) <- grid) {
      assert(w == 4 && h == 4, s"doc $id geometry")
      val t = texts(id)
      def src(y: Int, x: Int): Long =
        if (t.isEmpty) 0L else (t.charAt((y * 8 + x) % t.length).toInt & 0xff).toLong
      val want = for (p <- 0 until 16) yield {
        val by = p / 4; val bx = p % 4
        (src(2 * by, 2 * bx) + src(2 * by, 2 * bx + 1) +
          src(2 * by + 1, 2 * bx) + src(2 * by + 1, 2 * bx + 1)) / 4
      }
      assert(gray == want, s"doc $id block averages")
    }
    // poison discipline: truncated PNG (magic intact, decode fails),
    // image smaller than one block, and null payload all -> null
    val good = png.filter($"doc_id" === 1L)
      .as[(Long, Array[Byte])].collect().head._2
    val tiny = Multimodal.encodePng(
        Seq((9L, "x", "en", "s")).toDF("doc_id", "text", "lang", "source"),
        "doc_id", "text", 1)
      .as[(Long, Array[Byte])].collect().head._2
    val out = Multimodal.resize(Seq(
        (1L, good.take(30)), (2L, tiny), (3L, null: Array[Byte]),
        (4L, good)
      ).toDF("doc_id", "payload"), 2)
      .as[(Long, Option[Array[Byte]])].collect().toMap
    assert(out(1L).isEmpty && out(2L).isEmpty && out(3L).isEmpty)
    assert(out(4L).nonEmpty)
  }

  test("sampleFrames REAL path: Y4M payloads demux to actual planes at " +
      "stream indices; malformed Y4M poisons") {
    val y4m = Multimodal.encodeY4m(docs, "doc_id", "text", 4, 3, 4)
    val f = Multimodal.sampleFrames(y4m, frameBytes = 1, stride = 2)
      .collect().groupBy(_.doc_id)
    val texts = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().toMap
    for (id <- Seq(1L, 2L, 3L)) {
      assert(f(id).map(_.frame_idx).sorted.sameElements(Array(0L, 2L)),
        s"doc $id stride indices")
      for (fr <- f(id)) {
        val t = texts(id)
        val want = Array.tabulate[Byte](12) { p =>
          if (t.isEmpty) 0
          else (t.charAt((fr.frame_idx.toInt * 12 + p) % t.length).toInt
            & 0xff).toByte
        }
        assert(fr.frame.sameElements(want), s"doc $id frame ${fr.frame_idx}")
      }
    }
    // malformed Y4M (right magic, garbled geometry) -> ONE poison row
    val bad = Multimodal.sampleFrames(
        Seq((7L, "YUV4MPEG2 W0 H0 Cmono\n".getBytes("US-ASCII")))
          .toDF("doc_id", "payload"), 4, 2)
      .collect()
    assert(bad.length == 1 && bad.head.frame_idx == -1L
      && bad.head.frame == null)
  }

  test("extractFeatures REAL kernels: decoded-pixel, decoded-sample and " +
      "demuxed-plane histograms; truncated image poisons") {
    val t3 = "0123456789abcdef" // bytes 0x30-0x39 (bin 3), 0x61-0x66 (bin 6)
    def featsOf(payloads: org.apache.spark.sql.DataFrame): Map[Long, Multimodal.FeatureRow] =
      Multimodal.extractFeatures(payloads).collect().map(r => r.doc_id -> r).toMap
    // PNG: 8x8 pixels are text bytes at k mod len — doc 3's 64 pixels
    // cycle the 16-char string 4x: 40 pixels in bin 3, 24 in bin 6
    val png = featsOf(Multimodal.encodePng(docs, "doc_id", "text", 8))
    assert(png(3L).features(3) == 0.625 && png(3L).features(6) == 0.375)
    assert(png(2L).features(0) == 1.0) // empty text -> black image
    // WAV: sample k = (byte-128)*256, amplitude band = byte>>4
    val wav = featsOf(Multimodal.encodeWav(docs, "doc_id", "text", 64, 8000))
    assert(wav(3L).features(3) == 0.625 && wav(3L).features(6) == 0.375)
    assert(wav(2L).features(8) == 1.0) // silence sits in the middle band
    // Y4M: all frames' plane bytes are text bytes at k mod len
    val y4m = featsOf(Multimodal.encodeY4m(docs, "doc_id", "text", 4, 4, 2))
    assert(y4m(3L).features(3) == 0.625 && y4m(3L).features(6) == 0.375)
    // truncated PNG: image magic, decode fails -> null-features poison
    val goodPng = Multimodal.encodePng(docs, "doc_id", "text", 8)
      .filter($"doc_id" === 1L).as[(Long, Array[Byte])].collect().head._2
    val poisoned = featsOf(Seq((1L, goodPng.take(30)))
      .toDF("doc_id", "payload"))
    assert(poisoned(1L).features == null)
  }

  test("sampleFrames: every stride-th fixed-size chunk, partial tail dropped") {
    val f = Multimodal.sampleFrames(
        Multimodal.payloads(docs, "doc_id", "text"), 4, 2)
      .collect().groupBy(_.doc_id)
    // doc 3: 16 bytes -> frames 0..3, stride 2 -> indices 0, 2
    assert(f(3L).map(_.frame_idx).sorted.sameElements(Array(0L, 2L)))
    assert(new String(f(3L).minBy(_.frame_idx).frame) == "0123")
    // doc 1: 11 bytes -> 2 full frames, stride 2 -> index 0 only
    assert(f(1L).map(_.frame_idx).sameElements(Array(0L)))
    // empty payload -> no frames
    assert(!f.contains(2L))
  }

  test("perceptualHashes: identical payloads collide at hamming 0; audit counts them") {
    val media = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again", "en", "s"),
      (2L, "the quick brown fox jumps over the lazy dog again and again", "en", "s"),
      (3L, "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss rrrr qqqq pppp oooo", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val ph = Multimodal.perceptualHashes(
      Multimodal.payloads(media, "doc_id", "text"))
    val m = ph.as[(Long, Long)].collect().toMap
    assert(m(1L) == m(2L))            // identical bytes -> identical aHash
    assert(m(1L) != m(3L))            // different content separates
    assert(m.values.forall(_ >= 0L))  // 60-bit: never sign-extends
    // deterministic across partitionings
    val again = Multimodal.perceptualHashes(
        Multimodal.payloads(media.repartition(3), "doc_id", "text"))
      .as[(Long, Long)].collect().toMap
    assert(again == m)
    // the band audit finds the hamming-0 pair (exact dup) exactly once
    val audit = Dedup.simhashBandAudit(ph, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(audit.getOrElse(0L, 0L) == 1L)
    // histogram total == distinct band-collision pairs (here: pair 1-2
    // collides in all 4 bands but counts once)
    assert(audit.values.sum >= 1L)
  }

  test("real PNG decode roundtrip law: decode(encodePng(text)) returns " +
      "the exact text bytes as the gray grid") {
    val side = 8
    val png = Multimodal.encodePng(docs, "doc_id", "text", side)
    // payloads ARE real PNGs: magic bytes present
    val magics = Multimodal.metaTable(
        png.withColumn("meta", struct(lit(0L).as("n_bytes"),
          lit(null).cast("string").as("lang"), lit("x").as("source"))))
      .select("doc_id", "magic_b64").as[(Long, String)].collect().toMap
    assert(magics.values.forall(m =>
      java.util.Base64.getDecoder.decode(m).take(4).sameElements(
        Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))))
    val grid = Multimodal.decodeGrayGrid(png, side)
      .select("doc_id", "width", "height", "gray")
      .as[(Long, Int, Int, Seq[Long])].collect().map(r => r._1 -> r).toMap
    // real decode path taken: width/height reported from the codec
    assert(grid(1L)._2 == side && grid(1L)._3 == side)
    // roundtrip identity: sample k == text byte at k mod len
    val t1 = "hello world"
    assert(grid(1L)._4 == (0 until side * side)
      .map(k => t1.charAt(k % t1.length).toLong))
    assert(grid(2L)._4.forall(_ == 0L))   // empty text -> black image
    // RGB decode collapses to integer luma
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000); img.setRGB(1, 0, 0x00ff00)
    img.setRGB(0, 1, 0x0000ff); img.setRGB(1, 1, 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val rgb = Seq((9L, bos.toByteArray)).toDF("doc_id", "payload")
    val g9 = Multimodal.decodeGrayGrid(rgb, 2)
      .select("gray").as[Seq[Long]].collect().head
    assert(g9 == Seq(299L * 255 / 1000, 587L * 255 / 1000,
      114L * 255 / 1000, (299L * 255 + 587 * 255 + 114 * 255) / 1000))
    // BMP magic decodes too
    val bos2 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos2)
    val bmp = Seq((10L, bos2.toByteArray)).toDF("doc_id", "payload")
    val g10 = Multimodal.decodeGrayGrid(bmp, 2)
      .select("width", "gray").as[(Int, Seq[Long])].collect().head
    assert(g10._1 == 2 && g10._2 == g9)
    // truncated image bytes -> null gray poison row, not a crash
    val broken = Seq((11L, bos.toByteArray.take(10)))
      .toDF("doc_id", "payload")
    val g11 = Multimodal.decodeGrayGrid(broken, 2)
      .select("width", "gray").as[(Int, Option[Seq[Long]])].collect().head
    assert(g11._1 == -1 && g11._2.isEmpty)
    // non-image payload falls back to the byte-stream stub (width -1)
    val txt = Seq((12L, "abcd".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val g12 = Multimodal.decodeGrayGrid(txt, 2)
      .select("width", "gray").as[(Int, Seq[Long])].collect().head
    assert(g12._1 == -1 && g12._2 == Seq('a'.toLong, 'b'.toLong,
      'c'.toLong, 'd'.toLong))
  }

  test("real JPEG decode: FFD8 magic routes to the codec; a constant-gray " +
      "JPEG survives the lossy roundtrip; truncated JPEG poisons, not crashes") {
    // constant-gray 8x8: DCT of a flat block is the DC coefficient alone,
    // so even lossy JPEG reproduces the value exactly
    val side = 8
    val img = new java.awt.image.BufferedImage(side, side,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    var i = 0
    while (i < side * side) {
      img.getRaster.setSample(i % side, i / side, 0, 128); i += 1 }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val payload = bos.toByteArray
    assert(payload(0) == 0xff.toByte && payload(1) == 0xd8.toByte)
    val g = Multimodal.decodeGrayGrid(
        Seq((1L, payload)).toDF("doc_id", "payload"), side)
      .select("width", "height", "gray")
      .as[(Int, Int, Seq[Long])].collect().head
    // real-decode path: codec dimensions, not the stub's -1
    assert(g._1 == side && g._2 == side)
    assert(g._3.forall(_ == 128L))
    // RGB JPEG collapses through the same integer-luma path; lossy
    // codec -> tolerance, not bit-equality (that's the PNG law's job)
    val rgb = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    rgb.setRGB(0, 0, 0x808080); rgb.setRGB(1, 0, 0x808080)
    rgb.setRGB(0, 1, 0x808080); rgb.setRGB(1, 1, 0x808080)
    val bos2 = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(rgb, "jpg", bos2))
    val g2 = Multimodal.decodeGrayGrid(
        Seq((2L, bos2.toByteArray)).toDF("doc_id", "payload"), 2)
      .select("width", "gray").as[(Int, Seq[Long])].collect().head
    assert(g2._1 == 2 && g2._2.forall(v => math.abs(v - 128L) <= 3))
    // FFD8 magic + garbage tail -> null-gray poison row, never a crash
    val broken = Seq((3L, payload.take(6))).toDF("doc_id", "payload")
    val g3 = Multimodal.decodeGrayGrid(broken, 2)
      .select("width", "gray").as[(Int, Option[Seq[Long]])].collect().head
    assert(g3._1 == -1 && g3._2.isEmpty)
    // mixed PNG/BMP/JPEG fixture: every row takes the real-decode path
    val pbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", pbos)
    val bbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bbos)
    val mixed = Seq((10L, pbos.toByteArray), (11L, bbos.toByteArray),
      (12L, payload)).toDF("doc_id", "payload")
    val m = Multimodal.decodeGrayGrid(mixed, side)
      .select("doc_id", "width", "gray")
      .as[(Long, Int, Seq[Long])].collect()
    assert(m.length == 3 && m.forall(_._2 == side))
    assert(m.forall(_._3.forall(_ == 128L)))
  }

  test("aHashFromGrid: integer mean compare, short/null grids drop") {
    val n = Dedup.SimHashBits
    // constant grid: every sample == mean -> all bits set
    val const = Seq((1L, Seq.fill(n)(7L))).toDF("doc_id", "gray")
    val h1 = Multimodal.aHashFromGrid(const).as[(Long, Long)].collect().head
    assert(h1._2 == (1L << n) - 1)
    // one hot sample: only that bit set
    val hot = Seq((2L, 5L +: Seq.fill(n - 1)(0L))).toDF("doc_id", "gray")
    val h2 = Multimodal.aHashFromGrid(hot).as[(Long, Long)].collect().head
    assert(h2._2 == 1L)
    // null and short grids drop
    val bad = Seq((3L, null: Seq[Long]), (4L, Seq(1L, 2L)))
      .toDF("doc_id", "gray")
    assert(Multimodal.aHashFromGrid(bad).count() == 0L)
  }

  test("real WAV decode roundtrip law: decode(encodeWav(text)) returns " +
      "the exact samples, rate and channels; silence for empty text") {
    val wav = Multimodal.encodeWav(docs, "doc_id", "text", 32, 8000)
    val dec = Multimodal.decodePcm(wav)
      .as[(Long, Int, Int, Seq[Long])].collect()
      .map(r => r._1 -> r).toMap
    val texts = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().toMap
    for ((id, (_, rate, ch, samples)) <- dec) {
      assert(rate == 8000 && ch == 1, s"doc $id fmt fields")
      val t = texts(id)
      val want = (0 until 32).map { k =>
        if (t.isEmpty) 0L
        else ((t.charAt(k % t.length).toInt & 0xff) - 128).toLong * 256L
      }
      assert(samples == want, s"doc $id samples")
    }
    assert(dec(2L)._4.forall(_ == 0L)) // empty text -> silence
  }

  test("decodePcm: truncated/compressed RIFF poisons (null samples); " +
      "non-RIFF payloads take the byte-stream stub path") {
    val good = Multimodal.encodeWav(docs.filter($"doc_id" === 1L),
      "doc_id", "text", 16, 8000).as[(Long, Array[Byte])].collect().head._2
    val rows = Seq(
      (1L, good.take(30)),                       // truncated mid-header
      (2L, {                                      // fmt says not PCM
        val b = good.clone(); b(20) = 3; b
      }),
      (3L, "plain text, not a container".getBytes("UTF-8")),
      (4L, good)
    ).toDF("doc_id", "payload")
    val out = Multimodal.decodePcm(rows)
      .as[(Long, Int, Int, Option[Seq[Long]])].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._4.isEmpty && out(1L)._2 == -1, "truncated -> poison")
    assert(out(2L)._4.isEmpty, "non-PCM fmt -> poison")
    // stub: every byte as one unsigned sample
    assert(out(3L)._2 == -1 && out(3L)._4.get ==
      "plain text, not a container".getBytes("UTF-8").toSeq.map(b => (b & 0xff).toLong))
    assert(out(4L)._4.get.length == 16 && out(4L)._2 == 8000)
  }

  test("real Y4M decode roundtrip law: decodeY4mFrames(encodeY4m(text)) " +
      "returns every frame's exact luma plane, geometry and order") {
    val y4m = Multimodal.encodeY4m(docs, "doc_id", "text", 4, 3, 2)
    val dec = Multimodal.decodeY4mFrames(y4m)
      .as[(Long, Long, Long, Long, Seq[Long])].collect()
    val texts = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().toMap
    assert(dec.length == texts.size * 2, "2 frames per doc")
    for ((id, w, h, f, px) <- dec) {
      assert(w == 4L && h == 3L, s"doc $id geometry")
      val t = texts(id)
      val want = (0 until 12).map { p =>
        if (t.isEmpty) 0L
        else (t.charAt((f.toInt * 12 + p) % t.length).toInt & 0xff).toLong
      }
      assert(px == want, s"doc $id frame $f plane")
    }
    // empty text -> black frames
    assert(dec.filter(_._1 == 2L).forall(_._5.forall(_ == 0L)))
  }

  test("decodeY4mFrames: null payload, garbled header, non-mono " +
      "colorspace, bad marker and truncated plane all poison") {
    val good = Multimodal.encodeY4m(docs.filter($"doc_id" === 1L),
      "doc_id", "text", 4, 3, 2).as[(Long, Array[Byte])].collect().head._2
    def mut(f: Array[Byte] => Array[Byte]): Array[Byte] = f(good.clone())
    val rows = Seq(
      (1L, null: Array[Byte]),                       // null payload
      (2L, "not a stream".getBytes("UTF-8")),        // no header newline
      (3L, mut { b => b(3) = 'X'.toByte; b }),       // magic broken
      (4L, new String(good, "ISO-8859-1")            // C420 colorspace
        .replace("Cmono", "C420 ").getBytes("ISO-8859-1")),
      (5L, mut { b =>                                 // FRAME marker broken
        val i = new String(b, "ISO-8859-1").indexOf("FRAME")
        b(i) = 'G'.toByte; b
      }),
      (6L, good.dropRight(5)),                        // truncated last plane
      (7L, good),                                     // control: intact
      (8L, new String(good, "ISO-8859-1")             // parsable-but-absurd
        .replace("W4 H3", "W50000 H50000")            // geometry: W·H
        .getBytes("ISO-8859-1")),                     // overflows Int
      (9L, new String(good, "ISO-8859-1")             // valid mono header,
        .takeWhile(_ != '\n').concat("\n")            // zero FRAME sections
        .getBytes("ISO-8859-1"))
    ).toDF("doc_id", "payload")
    val out = Multimodal.decodeY4mFrames(rows)
      .as[(Long, Long, Long, Long, Option[Seq[Long]])].collect()
      .groupBy(_._1)
    for (id <- (1L to 6L) ++ Seq(8L, 9L)) {
      assert(out(id).length == 1 && out(id).head._2 == -1L &&
        out(id).head._5.isEmpty, s"doc $id should poison")
    }
    assert(out(7L).length == 2 && out(7L).forall(_._5.nonEmpty))
  }

  test("stub features: 16-bin normalized byte histogram, empty-safe") {
    val f = Multimodal.extractFeatures(
        Multimodal.payloads(docs, "doc_id", "text"))
      .collect().map(r => r.doc_id -> r).toMap
    assert(f(1L).features.length == 16)
    assert(math.abs(f(1L).features.sum - 1.0) < 1e-6)
    assert(f(2L).n_bytes == 0L && f(2L).features.forall(_ == 0.0))
    // "0123456789" bytes 0x30-0x39 -> bin 3; "abcdef" 0x61-0x66 -> bin 6
    assert(f(3L).features(3) == 0.625 && f(3L).features(6) == 0.375)
  }
}
