package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY.md §7.4): treat image/audio/video
  * payloads as opaque `binary` columns with typed metadata, and run the
  * decode / feature-extract step as a per-partition batch operator.
  *
  * IMAGE decode is REAL: [[decodeGrayGrid]] decodes PNG/BMP payloads
  * with the JDK's own `javax.imageio` (encode twin [[encodePng]];
  * roundtrip law in MultimodalSpec; aHash-over-real-pixels oracle'd as
  * q148). AUDIO decode is REAL for WAV/PCM: [[decodePcm]] parses the
  * RIFF container and 16-bit PCM frames in pure JDK byte-buffer code
  * (encode twin [[encodeWav]]; decode(encode(samples)) hash-verified
  * as q273). VIDEO decode is REAL for Y4M (YUV4MPEG2, the standard
  * uncompressed container): [[decodeY4mFrames]] demuxes the stream
  * header + FRAME markers and decodes mono luma planes in pure JDK
  * code (encode twin [[encodeY4m]]; decode(encode(frames))
  * hash-verified as q275). [[extractFeatures]] and [[sampleFrames]]
  * dispatch on magic bytes and run REAL kernels for every format above
  * (decoded-pixel/sample/plane histograms, q278; demuxed Y4M planes,
  * q279), and [[resize]] box-averages DECODED pixels for image magics
  * (q280). COMPRESSED codecs (JPEG aside — imageio covers it — MP3/AAC
  * audio, H.26x/VP9 video) have no decoder in this container and stay
  * honestly out of scope: for those blobs (and generic bytes) the ops
  * fall back to clearly-marked deterministic STUBs (byte histogram /
  * byte chunks / byte decimation), as does
  * [[perceptualHashes]]' byte-stream grid; the Spark-side plumbing —
  * schema, binary column handling, partition-batch iteration, typed
  * output — is real and tested either way. Swapping a stub for a
  * JNI/ONNX decoder changes one function.
  *
  * Scale posture: payloads never pass through a shuffle here — metadata
  * extraction and feature extraction are map-only; downstream joins
  * should carry (id, features) only, never the payload.
  */
object Multimodal {

  /** A decoded feature row: id, payload size, and the extracted
    * 16-bin normalized histogram — decoded pixels/samples/planes for
    * the real-kernel formats, raw bytes on the stub fallback; null
    * features (with n_bytes −1 for a null payload) is the poison
    * row. */
  case class FeatureRow(doc_id: Long, n_bytes: Long, features: Array[Double])

  /** Pack a text column as an opaque binary payload with typed metadata —
    * the shape a real pipeline has after `spark.read.format("binaryFile")`
    * or reading parquet with a `binary` media column. */
  def payloads(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      col(contentCol).cast("binary").as("payload"),
      struct(length(col(contentCol).cast("binary")).cast("long").as("n_bytes"),
        col("lang"), col("source")).as("meta"))

  /** Metadata extraction over the binary payload — size, content hash,
    * magic-bytes prefix. Map-only scalar expressions (oracle-able). */
  def metaTable(payloadDf: DataFrame): DataFrame =
    payloadDf.select(col("doc_id"),
      length(col("payload")).cast("long").as("n_bytes"),
      md5(col("payload")).as("content_md5"),
      base64(substring(col("payload"), 1, 8)).as("magic_b64"),
      col("meta.lang").as("lang"),
      col("meta.source").as("source"))

  /** Resize as a per-partition batch operator — the image analog of
    * [[sampleFrames]]: shrink each payload by an integer `factor`.
    *
    * REAL RESIZE for decodable images (PNG/BMP/JPEG magic): decode via
    * `javax.imageio`, box-average exact `factor`×`factor` blocks in
    * INTEGER arithmetic (block average = Σ gray / factor², integer
    * division over the [[decodeGrayGrid]] luma — bit-deterministic, so
    * a downstream oracle can recompute every output pixel from the
    * encoder's pixel law), re-encode as grayscale PNG. Output geometry
    * is (w/factor)×(h/factor) full blocks; edge remainders truncate.
    * An image magic that fails to decode, or one smaller than a single
    * block, yields a null payload_resized — the poison-row discipline
    * ([[decodePcm]]). The q280 gate drives resize(encode(pixels))
    * through the verified [[decodeGrayGrid]] chain and hash-matches
    * the block averages computed straight from the text bytes.
    *
    * STUB fallback for non-image payloads: byte decimation (every
    * `factor`-th byte), deterministic, keeping mixed media/text tables
    * flowing through one operator; a compressed-codec decoder would
    * drop into the same decode → average → encode shape. */
  def resize(payloadDf: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = payloadDf.sparkSession
    import spark.implicits._
    payloadDf.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init happens HERE (codec/interpolator handles)
        it.map { case (id, bytes) =>
          if (bytes == null) (id, null: Array[Byte]) // poison, never NPE
          else if (isDecodable(bytes)) {
            val img =
              try javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(bytes))
              catch { case _: java.io.IOException => null }
            val ow = if (img == null) 0 else img.getWidth / factor
            val oh = if (img == null) 0 else img.getHeight / factor
            if (ow < 1 || oh < 1) (id, null: Array[Byte])
            else {
              val raster = img.getRaster
              val bands = raster.getNumBands
              val outPix = new Array[Byte](ow * oh)
              var by = 0
              while (by < oh) {
                var bx = 0
                while (bx < ow) {
                  var sum = 0L
                  var dy = 0
                  while (dy < factor) {
                    var dx = 0
                    while (dx < factor) {
                      val x = bx * factor + dx
                      val y = by * factor + dy
                      val g =
                        if (bands >= 3) {
                          val r = raster.getSample(x, y, 0)
                          val gg = raster.getSample(x, y, 1)
                          val b = raster.getSample(x, y, 2)
                          (299 * r + 587 * gg + 114 * b) / 1000
                        } else raster.getSample(x, y, 0)
                      sum += math.min(g, 255)
                      dx += 1
                    }
                    dy += 1
                  }
                  outPix(by * ow + bx) =
                    (sum / (factor.toLong * factor)).toByte
                  bx += 1
                }
                by += 1
              }
              (id, encodeGrayPngBytes(ow, oh, outPix))
            }
          } else {
            val out = new Array[Byte]((bytes.length + factor - 1) / factor)
            var i = 0
            while (i < out.length) { out(i) = bytes(i * factor); i += 1 }
            (id, out)
          }
        }
      }.toDF("doc_id", "payload_resized")
  }

  /** A sampled "frame": parent doc, frame index within the payload, and
    * the frame's bytes. */
  case class FrameRow(doc_id: Long, frame_idx: Long, frame: Array[Byte])

  /** Frame sampling as a per-partition batch operator — the video analog
    * of [[extractFeatures]]: decode the container, emit every `stride`-th
    * frame for downstream feature extraction. One input row fans out to
    * many frame rows; the fan-out happens INSIDE the partition (iterator
    * flatMap), so payloads never shuffle and output partitioning follows
    * the input.
    *
    * REAL DEMUX for Y4M: a payload whose magic says YUV4MPEG2 goes
    * through [[demuxY4m]] — each emitted frame is an actual decoded
    * width·height luma plane, `frame_idx` the frame's index in the
    * stream (so stride-sampled indices are 0, stride, 2·stride, …),
    * `frameBytes` ignored (the container defines the frame size). A
    * malformed Y4M (or a null payload) yields ONE
    * (doc_id, -1, null) poison row, the [[decodePcm]] discipline.
    * The q279 gate hash-verifies sample(encode(frames)) plane-exact.
    *
    * STUB fallback for everything else — compressed codecs (H.26x/VP9/
    * AV1) have no decoder in this container: a "frame" is a fixed-size
    * byte chunk (`frameBytes`), deterministically derived, so the
    * plumbing (fan-out shape, per-partition init point, typed output)
    * is real and testable; a real implementation swaps the chunker for
    * its demuxer exactly the way the Y4M path does. */
  def sampleFrames(payloadDf: DataFrame, frameBytes: Int,
                   stride: Int): Dataset[FrameRow] = {
    require(frameBytes > 0 && stride > 0,
      s"frameBytes/stride must be positive, got $frameBytes/$stride")
    val spark = payloadDf.sparkSession
    import spark.implicits._
    payloadDf.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init happens HERE (demuxer/codec handles)
        it.flatMap { case (id, bytes) =>
          if (bytes == null) Iterator.single(FrameRow(id, -1L, null))
          else if (isY4m(bytes)) demuxY4m(bytes) match {
            case None => Iterator.single(FrameRow(id, -1L, null))
            case Some((_, _, planes)) =>
              (0 until planes.length by stride).iterator
                .map(f => FrameRow(id, f.toLong, planes(f)))
          }
          else {
            val nFrames = bytes.length / frameBytes // trailing partial dropped
            (0 until nFrames by stride).iterator.map { f =>
              FrameRow(id, f.toLong,
                java.util.Arrays.copyOfRange(bytes, f * frameBytes,
                  (f + 1) * frameBytes))
            }
          }
        }
      }
  }

  /** Perceptual hash per payload — the LAION-style media near-dup
    * signal: sample a fixed [[graft.ops.Dedup.SimHashBits]]-position
    * grid over the decoded "image", bit k = sample ≥ the grid mean
    * (average-hash/aHash). Output (doc_id, simhash) — named to drop
    * straight into [[graft.ops.Dedup.simhashPairs]], whose 15-bit
    * banding then finds Hamming-bounded near-dup media pairs with one
    * bucket-keyed shuffle, never a pairwise scan. The compare is
    * integer (`sample · 60 ≥ Σ samples`) so the bit never depends on
    * float division order — bit-identical across engines.
    *
    * STUB DECODER, like every media op here: no codec in the
    * container, so the "decoded grayscale" is the payload's own byte
    * stream read as a string (the fixture payloads are ASCII). A real
    * implementation decodes → grayscale-resamples an 8×8 grid; the
    * grid sampling, integer mean compare, fingerprint assembly and the
    * banded pair join downstream are the real, tested machinery.
    * Map-only; payloads never shuffle (only the 8-byte hash does). */
  def perceptualHashes(payloadDf: DataFrame): DataFrame = {
    val n = graft.ops.Dedup.SimHashBits
    payloadDf
      .select(col("doc_id"), col("payload").cast("string").as("__txt"))
      // grid positions 1 + (k·len) div n, k = 0..n−1: always within the
      // payload, evenly spread, repeats harmlessly when len < n
      .select(col("doc_id"), transform(sequence(lit(0), lit(n - 1)),
        k => ascii(col("__txt").substr(
          (lit(1) + floor(k * length(col("__txt")) / lit(n))).cast("int"),
          lit(1)))).as("__bs"))
      .withColumn("__sm", aggregate(col("__bs"), lit(0L),
        (a, x) => a + x.cast("long")))
      .withColumn("simhash", expr(
        s"""aggregate(sequence(0, ${n - 1}), CAST(0 AS BIGINT), (acc, k) ->
           |  acc + IF(element_at(__bs, k + 1) * $n >= __sm,
           |           shiftleft(CAST(1 AS BIGINT), k),
           |           CAST(0 AS BIGINT)))""".stripMargin))
      .select(col("doc_id"), col("simhash"))
  }

  /** PNG magic (0x89 "PNG" prefix, first 4 bytes checked), BMP magic
    * ("BM") and JPEG magic (0xFFD8 SOI marker) — the three formats
    * [[decodeGrayGrid]] decodes with the JDK's own `javax.imageio`
    * (public, zero extra deps). JPEG matters most in practice: real
    * crawled media is overwhelmingly JPEG. */
  private def isDecodable(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 &&
      ((bytes(0) == 0x89.toByte && bytes(1) == 'P'.toByte &&
        bytes(2) == 'N'.toByte && bytes(3) == 'G'.toByte) ||
       (bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte) ||
       (bytes(0) == 0xff.toByte && bytes(1) == 0xd8.toByte))

  /** Minimal 8-bit grayscale PNG writer — signature + IHDR + one IDAT
    * (zlib deflate of filter-0 scanlines) + IEND, CRC32 per chunk; the
    * PNG byte layout is public format knowledge (RFC 2083). Replaces
    * `ImageIO.write` on the encode paths (r15, guide §1.2 per-task
    * work): ImageIO's writer-plumbing fixed cost dominates tiny
    * rasters (the 8×8 fixture grids), measured ~4x slower than
    * writing the chunks directly. PNG is lossless, so
    * decode(encode(pixels)) remains bit-exact — the roundtrip laws and
    * the q148/q154/q278/q280 oracle gates are unchanged; `ImageIO.read`
    * decodes these chunks like any other PNG (spec-pinned). */
  private[graft] def encodeGrayPngBytes(w: Int, h: Int,
                                        pix: Array[Byte]): Array[Byte] = {
    require(pix.length == w * h, s"pixel buffer ${pix.length} != $w x $h")
    val raw = new Array[Byte]((w + 1) * h) // filter byte 0 per scanline
    var y = 0
    while (y < h) {
      System.arraycopy(pix, y * w, raw, y * (w + 1) + 1, w)
      y += 1
    }
    val defl = new java.util.zip.Deflater(
      java.util.zip.Deflater.BEST_SPEED)
    defl.setInput(raw)
    defl.finish()
    val zbuf = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!defl.finished()) zbuf.write(tmp, 0, defl.deflate(tmp))
    defl.end()
    val out = new java.io.ByteArrayOutputStream(zbuf.size() + 64)
    val dos = new java.io.DataOutputStream(out)
    dos.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
    def chunk(typ: String, data: Array[Byte]): Unit = {
      dos.writeInt(data.length)
      val tb = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      dos.write(tb); dos.write(data); dos.writeInt(crc.getValue.toInt)
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(w).putInt(h)
      .put(8.toByte)  // bit depth
      .put(0.toByte)  // color type: grayscale
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, filter0, no interlace
    chunk("IHDR", ihdr.array())
    chunk("IDAT", zbuf.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    dos.flush()
    out.toByteArray
  }

  /** Encode per-document deterministic grayscale images as REAL PNG
    * payloads: pixel (y, x) of the `side`×`side` 8-bit gray raster is
    * the document's text byte at position (y·side + x) mod len — a
    * pixel source both engines can read (`ascii(substr(text, …))`), so
    * a downstream oracle can verify a real decode end-to-end. Map-only
    * per-partition batches; the encoder handle is per-JVM. Empty texts
    * yield a black image. */
  def encodePng(df: DataFrame, idCol: String, textCol: String,
                side: Int): DataFrame = {
    require(side >= 1, s"side must be >= 1, got $side")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val t = if (text == null) "" else text
          val pix = new Array[Byte](side * side)
          if (t.nonEmpty) {
            var k = 0
            while (k < pix.length) {
              pix(k) = (t.charAt(k % t.length).toInt & 0xff).toByte
              k += 1
            }
          } // empty text: all-zero pixels (black image), as before
          (id, encodeGrayPngBytes(side, side, pix))
        }
      }.toDF("doc_id", "payload")
  }

  /** REAL image decode: payloads whose magic bytes say PNG, BMP or JPEG
    * are decoded with `javax.imageio` and resampled onto a `side`×`side`
    * grayscale grid — (doc_id, width, height, gray) with gray the
    * row-major grid samples (0–255). Grid position (y, x) reads pixel
    * (⌊y·h/side⌋, ⌊x·w/side⌋) — pure integer index math, so the grid is
    * bit-deterministic for a given decoded raster. RGB images collapse
    * to integer luma (299·r + 587·g + 114·b) / 1000 — exact integer
    * division, no float. Payloads that are NOT decodable images fall
    * back to the byte-stream stub (byte at the grid's linear position —
    * the synthetic-fixture path [[perceptualHashes]] documents), so
    * mixed media/text tables flow through one operator. Undecodable
    * bytes WITH an image magic (truncated file) yield a null gray — a
    * poison row the caller can audit, never a crash.
    *
    * Per-partition batches (`mapPartitions` — decoder init amortizes);
    * payloads never shuffle; only (id, side²·long) leaves the map. */
  def decodeGrayGrid(payloadDf: DataFrame, side: Int): DataFrame = {
    require(side >= 1, s"side must be >= 1, got $side")
    val spark = payloadDf.sparkSession
    import spark.implicits._
    payloadDf.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          if (isDecodable(bytes)) {
            val img =
              try javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(bytes))
              catch { case _: java.io.IOException => null }
            if (img == null) (id, -1, -1, null: Array[Long])
            else {
              val w = img.getWidth
              val h = img.getHeight
              val raster = img.getRaster
              val gray = new Array[Long](side * side)
              val bands = raster.getNumBands
              var y = 0
              while (y < side) {
                var x = 0
                while (x < side) {
                  val px = x * w / side
                  val py = y * h / side
                  val g =
                    if (bands >= 3) {
                      val r = raster.getSample(px, py, 0)
                      val gg = raster.getSample(px, py, 1)
                      val b = raster.getSample(px, py, 2)
                      (299 * r + 587 * gg + 114 * b) / 1000
                    } else raster.getSample(px, py, 0)
                  gray(y * side + x) = g.toLong
                  x += 1
                }
                y += 1
              }
              (id, w, h, gray)
            }
          } else {
            // stub path: grid sample k = payload byte at k·len div side²
            val n = side * side
            val gray = new Array[Long](n)
            if (bytes.nonEmpty) {
              var k = 0
              while (k < n) {
                // index in Long: k * length overflows Int for payloads
                // past ~2^31/n bytes, crashing the never-crash contract
                gray(k) = (bytes((k.toLong * bytes.length / n).toInt) & 0xff).toLong
                k += 1
              }
            }
            (id, -1, -1, gray)
          }
        }
      }.toDF("doc_id", "width", "height", "gray")
  }

  /** Average-hash over a decoded grayscale grid ([[decodeGrayGrid]]
    * output): bit k = gray_k · n ≥ Σ gray (integer compare — no float
    * division, bit-identical across engines), n =
    * [[graft.ops.Dedup.SimHashBits]] grid positions. Output
    * (doc_id, simhash) drops straight into
    * [[graft.ops.Dedup.simhashPairs]]/`simhashBandAudit` banding. Pure
    * SQL expressions — THIS half is oracle-able; the decode half is
    * spec-verified (roundtrip law: decode(encode(pixels)) = pixels). */
  def aHashFromGrid(gridDf: DataFrame): DataFrame = {
    val n = graft.ops.Dedup.SimHashBits
    // unrolled codegen sums instead of the aggregate() HOFs (r15):
    // higher-order functions run interpreted (CodegenFallback) and the
    // two folds cost ~2 s over the 5k-doc fixture; the n-term
    // element_at/when sums compile into whole-stage codegen and
    // evaluate the IDENTICAL arithmetic (same terms, same Long adds)
    val sm = (1 to n).map(i => element_at(col("__bs"), i)).reduce(_ + _)
    val bits = (0 until n).map(k =>
        when(element_at(col("__bs"), k + 1) * lit(n.toLong) >= col("__sm"),
          lit(1L << k)).otherwise(lit(0L)))
      .reduce(_ + _)
    gridDf
      .filter(col("gray").isNotNull && size(col("gray")) >= n)
      .withColumn("__bs", slice(col("gray"), 1, n))
      .withColumn("__sm", sm)
      .withColumn("simhash", bits)
      .select(col("doc_id"), col("simhash"))
  }

  /** Encode per-document deterministic 16-bit PCM mono audio as REAL
    * WAV payloads (canonical 44-byte RIFF header + little-endian PCM
    * data — pure JDK, no codec dependency): sample k is the document's
    * text byte at position k mod len, centered and scaled to the
    * int16 range — `(byte − 128) · 256` — a sample source both engines
    * can recompute (`(ascii(substr(text, …)) − 128) · 256`), so a
    * downstream oracle can verify a real decode end-to-end (the
    * [[encodePng]] recipe applied verbatim to audio). Empty texts
    * yield silence. Map-only per-partition batches. */
  def encodeWav(df: DataFrame, idCol: String, textCol: String,
                nSamples: Int, sampleRateHz: Int): DataFrame = {
    require(nSamples >= 1 && sampleRateHz >= 1,
      s"nSamples/sampleRateHz must be >= 1, got $nSamples/$sampleRateHz")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val t = if (text == null) "" else text
          val dataSize = nSamples * 2
          val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
            .put("WAVE".getBytes("US-ASCII"))
            .put("fmt ".getBytes("US-ASCII")).putInt(16)
            .putShort(1) // PCM
            .putShort(1) // mono
            .putInt(sampleRateHz)
            .putInt(sampleRateHz * 2) // byte rate = rate·channels·2
            .putShort(2) // block align
            .putShort(16) // bits per sample
            .put("data".getBytes("US-ASCII")).putInt(dataSize)
          var k = 0
          while (k < nSamples) {
            val s =
              if (t.isEmpty) 0
              else ((t.charAt(k % t.length).toInt & 0xff) - 128) * 256
            buf.putShort(s.toShort)
            k += 1
          }
          (id, buf.array())
        }
      }.toDF("doc_id", "payload")
  }

  /** REAL audio decode: payloads whose magic bytes say RIFF/WAVE are
    * parsed with a pure-JDK chunk walker — `fmt ` (must be
    * uncompressed 16-bit PCM) then `data`, little-endian int16 samples
    * out as `array<bigint>` — (doc_id, sample_rate, n_channels,
    * samples), channels left interleaved. Payloads that are NOT RIFF
    * fall back to the byte-stream stub (each payload byte as one
    * unsigned sample, rate/channels −1 — the mixed-table path
    * [[decodeGrayGrid]] documents). RIFF payloads that are truncated,
    * compressed, or not 16-bit yield a null samples column — a poison
    * row the caller can audit, never a crash.
    *
    * Per-partition batches (`mapPartitions`); payloads never shuffle;
    * only (id, samples) leaves the map. This retires the audio half of
    * the round-1..12 stub ledger: [[extractFeatures]]' byte histogram
    * remains the generic-blob feature path, but PCM audio now has a
    * real decoded-sample path the q-gate hash-verifies
    * (decode(encode(samples)) bit-exact). */
  /** RIFF/WAVE magic — the container [[walkPcm]] parses. */
  private def isRiff(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 &&
      new String(bytes, 0, 4, "US-ASCII") == "RIFF" &&
      new String(bytes, 8, 4, "US-ASCII") == "WAVE"

  /** The RIFF/PCM chunk walker behind [[decodePcm]] and
    * [[extractFeatures]]' audio kernel: `fmt ` (must be uncompressed
    * 16-bit PCM) then `data`, little-endian int16 samples. None =
    * poison (truncated chunk, compressed fmt, data before fmt, no
    * data). Callers must have checked [[isRiff]]. */
  private def walkPcm(bytes: Array[Byte])
      : Option[(Int, Int, Array[Long])] = {
    def ascii4(off: Int): String = new String(bytes, off, 4, "US-ASCII")
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var off = 12
    var rate = -1
    var channels = -1
    var ok = false // fmt seen, PCM, 16-bit
    var samples: Array[Long] = null
    var poison = false
    while (!poison && samples == null && off + 8 <= bytes.length) {
      val cid = ascii4(off)
      val csize = bb.getInt(off + 4)
      if (csize < 0 || off + 8 + csize > bytes.length) poison = true
      else cid match {
        case "fmt " =>
          if (csize < 16) poison = true
          else {
            val fmt = bb.getShort(off + 8).toInt
            channels = bb.getShort(off + 10).toInt
            rate = bb.getInt(off + 12)
            val bits = bb.getShort(off + 22).toInt
            if (fmt != 1 || bits != 16 || channels < 1) poison = true
            else ok = true
          }
          off += 8 + csize + (csize & 1)
        case "data" =>
          if (!ok) poison = true // data before a valid fmt
          else {
            val n = csize / 2
            val out = new Array[Long](n)
            var i = 0
            while (i < n) {
              out(i) = bb.getShort(off + 8 + 2 * i).toLong
              i += 1
            }
            samples = out
          }
        case _ => off += 8 + csize + (csize & 1)
      }
    }
    if (poison || samples == null) None else Some((rate, channels, samples))
  }

  def decodePcm(payloadDf: DataFrame): DataFrame = {
    val spark = payloadDf.sparkSession
    import spark.implicits._
    payloadDf.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          // null payload (plausible in mixed tables) = poison row, the
          // same discipline as a malformed RIFF — never an NPE
          if (bytes == null) (id, -1, -1, null: Array[Long])
          else {
          if (isRiff(bytes)) {
            walkPcm(bytes) match {
              case None => (id, -1, -1, null: Array[Long])
              case Some((rate, channels, samples)) =>
                (id, rate, channels, samples)
            }
          } else {
            // stub path: every payload byte as one unsigned sample
            val out = new Array[Long](bytes.length)
            var i = 0
            while (i < bytes.length) { out(i) = (bytes(i) & 0xff).toLong; i += 1 }
            (id, -1, -1, out)
          }
          }
        }
      }.toDF("doc_id", "sample_rate", "n_channels", "samples")
  }

  /** Encode per-document deterministic grayscale VIDEO as REAL Y4M
    * (YUV4MPEG2) payloads — the standard uncompressed video container
    * (plain-ASCII stream header, `FRAME` markers, raw planes; pure
    * JDK, no codec dependency). `Cmono` colorspace: one 8-bit luma
    * plane of width·height bytes per frame, no chroma subsampling to
    * re-derive. Pixel p of frame f is the document's text byte at
    * position (f·width·height + p) mod len — a pixel source both
    * engines can recompute (`ascii(substr(text, …))`), so a downstream
    * oracle can verify a real demux + decode end-to-end (the
    * [[encodePng]]/[[encodeWav]] recipe applied to video). Empty texts
    * yield black frames. Map-only per-partition batches. */
  def encodeY4m(df: DataFrame, idCol: String, textCol: String,
                width: Int, height: Int, nFrames: Int): DataFrame = {
    require(width >= 1 && height >= 1 && nFrames >= 1,
      s"width/height/nFrames must be >= 1, got $width/$height/$nFrames")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val header = s"YUV4MPEG2 W$width H$height F25:1 Ip A1:1 Cmono\n"
          .getBytes("US-ASCII")
        val marker = "FRAME\n".getBytes("US-ASCII")
        val fsz = width * height
        it.map { case (id, text) =>
          val t = if (text == null) "" else text
          val out =
            new Array[Byte](header.length + nFrames * (marker.length + fsz))
          System.arraycopy(header, 0, out, 0, header.length)
          var off = header.length
          var f = 0
          while (f < nFrames) {
            System.arraycopy(marker, 0, out, off, marker.length)
            off += marker.length
            var p = 0
            while (p < fsz) {
              out(off + p) =
                if (t.isEmpty) 0
                else (t.charAt((f * fsz + p) % t.length).toInt & 0xff).toByte
              p += 1
            }
            off += fsz
            f += 1
          }
          (id, out)
        }
      }.toDF("doc_id", "payload")
  }

  /** REAL video decode: demux + decode a Y4M (YUV4MPEG2) payload with
    * a pure-JDK byte walker — stream header (`YUV4MPEG2 W… H… … Cmono`,
    * newline-terminated ASCII), then per frame a `FRAME` marker line
    * and a raw width·height luma plane, pixels out as unsigned bytes
    * in `array<bigint>`. One output row per frame:
    * (doc_id, width, height, frame_idx, pixels) — the fan-out happens
    * INSIDE the partition (iterator flatMap), payloads never shuffle.
    *
    * Poison discipline (the [[decodePcm]] contract): a null payload,
    * a missing/garbled header, a non-mono colorspace (4:2:0/4:2:2
    * chroma would need a subsampling law this engine doesn't claim), a
    * plane size exceeding the payload (incl. Int-overflowing W·H), a
    * zero-frame stream, a
    * missing FRAME marker or a truncated plane all yield ONE
    * (doc_id, -1, -1, -1, null) row the caller can audit — never a
    * crash, never partial frames from a corrupt stream. Compressed
    * video (H.26x/VP9/AV1) stays out of scope — no decoder in this
    * container; the container walk, plane decode, typed fan-out and
    * the q275 decode(encode(frames)) hash gate are the real machinery
    * a JNI decoder would drop into. */
  /** YUV4MPEG2 stream magic — the container [[demuxY4m]] parses. */
  private def isY4m(bytes: Array[Byte]): Boolean =
    bytes.length >= 9 &&
      new String(bytes, 0, 9, "US-ASCII") == "YUV4MPEG2"

  /** The Y4M demuxer behind [[decodeY4mFrames]], [[sampleFrames]] and
    * [[extractFeatures]]' video kernel: stream header (must be `Cmono`)
    * then per frame a `FRAME` marker line and a raw width·height luma
    * plane, returned as raw byte arrays in stream order. None = poison
    * (null payload, missing/garbled header, non-mono colorspace, plane
    * size exceeding the payload — incl. Int-overflowing W·H, a missing
    * FRAME marker, a truncated plane, or a zero-frame stream, which
    * would otherwise vanish silently from a per-frame fan-out). */
  private def demuxY4m(bytes: Array[Byte])
      : Option[(Int, Int, Vector[Array[Byte]])] = {
    if (bytes == null) return None
    def lineEnd(from: Int): Int = {
      var i = from
      while (i < bytes.length && bytes(i) != '\n'.toByte) i += 1
      i // == bytes.length when unterminated (malformed)
    }
    def intOf(s: String): Int =
      try s.toInt catch { case _: NumberFormatException => -1 }
    val he = lineEnd(0)
    if (he >= bytes.length) return None
    val toks = new String(bytes, 0, he, "US-ASCII").split(' ')
    var w = -1
    var h = -1
    var cs: String = null
    toks.iterator.drop(1).filter(_.nonEmpty).foreach { tk =>
      tk.charAt(0) match {
        case 'W' => w = intOf(tk.substring(1))
        case 'H' => h = intOf(tk.substring(1))
        case 'C' => cs = tk.substring(1)
        case _ => () // F/I/A/X params don't affect a mono demux
      }
    }
    // absent C defaults to 4:2:0 per the Y4M spec — not mono, so it
    // poisons like any other unsupported colorspace. Plane size in
    // Long first: a parsable-but-absurd header (W50000 H50000)
    // overflows Int to a negative size, which would slip past the
    // truncation check and crash the allocation — poison instead, per
    // the decodePcm contract.
    val fszL = w.toLong * h.toLong
    if (toks.isEmpty || toks(0) != "YUV4MPEG2" ||
        w < 1 || h < 1 || cs != "mono" || fszL > bytes.length) return None
    val fsz = fszL.toInt
    val frames = Vector.newBuilder[Array[Byte]]
    var off = he + 1
    var poisoned = false
    while (!poisoned && off < bytes.length) {
      val fe = lineEnd(off)
      val marker =
        if (fe >= bytes.length) ""
        else new String(bytes, off, fe - off, "US-ASCII")
      if (!(marker == "FRAME" || marker.startsWith("FRAME ")))
        poisoned = true
      else if (fe + 1 + fsz > bytes.length) poisoned = true
      else {
        frames +=
          java.util.Arrays.copyOfRange(bytes, fe + 1, fe + 1 + fsz)
        off = fe + 1 + fsz
      }
    }
    val out = frames.result()
    if (poisoned || out.isEmpty) None else Some((w, h, out))
  }

  def decodeY4mFrames(payloadDf: DataFrame): DataFrame = {
    val spark = payloadDf.sparkSession
    import spark.implicits._
    payloadDf.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          demuxY4m(bytes) match {
            case None =>
              Iterator.single((id, -1L, -1L, -1L, null: Array[Long]))
            case Some((w, h, planes)) =>
              planes.iterator.zipWithIndex.map { case (pl, f) =>
                val px = new Array[Long](pl.length)
                var i = 0
                while (i < pl.length) {
                  px(i) = (pl(i) & 0xff).toLong
                  i += 1
                }
                (id, w.toLong, h.toLong, f.toLong, px)
              }
          }
        }
      }.toDF("doc_id", "width", "height", "frame_idx", "pixels")
  }

  /** Half-up-rounded normalized 16-bin histogram — the shared feature
    * finisher: `floor(x·1e9 + 0.5)/1e9` matches SQL `round(x, 9)` in
    * both engines (NOT `rint`, whose half-even ties would diverge). */
  private def norm16(hist: Array[Double], n: Long): Array[Double] = {
    val d = math.max(1L, n).toDouble
    var b = 0
    while (b < 16) {
      hist(b) = math.floor(hist(b) / d * 1e9 + 0.5) / 1e9
      b += 1
    }
    hist
  }

  /** Feature extraction as a per-partition batch operator
    * (`mapPartitions`): the iterator shape is where decoder/model
    * initialization amortizes per partition (the JVM analog of
    * `mapInPandas` batch UDFs).
    *
    * REAL KERNELS, dispatched on magic bytes: PNG/BMP/JPEG decode via
    * `javax.imageio` to a grayscale-pixel histogram (integer luma for
    * RGB — the [[decodeGrayGrid]] formula); RIFF/WAV parses via
    * [[walkPcm]] to an int16-amplitude-band histogram; Y4M demuxes via
    * [[demuxY4m]] to an all-frames luma histogram. All 16-bin,
    * normalized by decoded-unit count; a format magic whose decode
    * fails (truncated/compressed stream) yields a null-features poison
    * row, never a crash. The q278 gate hash-verifies all three real
    * kernels end to end against oracles recomputing the histograms
    * from the encoders' pixel/sample laws.
    *
    * STUB fallback for blobs with none of those magics (compressed
    * codecs — no decoder in this container — and generic bytes): a
    * deterministic 16-bin byte histogram (bin = high nibble), itself
    * hash-checked end to end — the DuckDB oracle recomputes it from
    * `hex(encode(text))` (q36). Rounding everywhere is half-up
    * (`floor(x·1e9 + 0.5)/1e9`), matching SQL `round(x, 9)` in both
    * engines — NOT `rint`, whose half-even ties would diverge. */
  def extractFeatures(payloadDf: DataFrame): Dataset[FeatureRow] = {
    val spark = payloadDf.sparkSession
    import spark.implicits._
    payloadDf.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init happens HERE (decoder handles, model weights)
        it.map { case (id, bytes) =>
          val hist = new Array[Double](16)
          if (bytes == null) FeatureRow(id, -1L, null) // poison, never NPE
          else if (isDecodable(bytes)) {
            // REAL image kernel: decode PNG/BMP/JPEG with javax.imageio,
            // histogram the DECODED grayscale (integer luma for RGB, the
            // decodeGrayGrid formula), bin = pixel >> 4, normalized by
            // w·h. Image magic that fails to decode (truncated file) =
            // null-features poison row.
            val img =
              try javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(bytes))
              catch { case _: java.io.IOException => null }
            if (img == null) FeatureRow(id, bytes.length.toLong, null)
            else {
              val w = img.getWidth
              val h = img.getHeight
              val raster = img.getRaster
              val bands = raster.getNumBands
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val g =
                    if (bands >= 3) {
                      val r = raster.getSample(x, y, 0)
                      val gg = raster.getSample(x, y, 1)
                      val b = raster.getSample(x, y, 2)
                      (299 * r + 587 * gg + 114 * b) / 1000
                    } else raster.getSample(x, y, 0)
                  hist(math.min(g, 255) >> 4) += 1.0
                  x += 1
                }
                y += 1
              }
              FeatureRow(id, bytes.length.toLong,
                norm16(hist, w.toLong * h))
            }
          } else if (isRiff(bytes)) {
            // REAL audio kernel: parse the RIFF/PCM container, histogram
            // the DECODED int16 samples — bin = (s + 32768) >> 12 (the
            // 16 equal amplitude bands), normalized by sample count.
            walkPcm(bytes) match {
              case None => FeatureRow(id, bytes.length.toLong, null)
              case Some((_, _, samples)) =>
                var i = 0
                while (i < samples.length) {
                  hist(((samples(i) + 32768L) >> 12).toInt) += 1.0
                  i += 1
                }
                FeatureRow(id, bytes.length.toLong,
                  norm16(hist, samples.length.toLong))
            }
          } else if (isY4m(bytes)) {
            // REAL video kernel: demux Y4M, histogram the DECODED luma
            // planes across every frame, bin = pixel >> 4, normalized
            // by nFrames·w·h.
            demuxY4m(bytes) match {
              case None => FeatureRow(id, bytes.length.toLong, null)
              case Some((_, _, planes)) =>
                var n = 0L
                planes.foreach { pl =>
                  var i = 0
                  while (i < pl.length) {
                    hist((pl(i) & 0xff) >> 4) += 1.0
                    i += 1
                  }
                  n += pl.length
                }
                FeatureRow(id, bytes.length.toLong, norm16(hist, n))
            }
          } else {
            // STUB fallback for genuinely undecodable blobs (compressed
            // codecs — no decoder in this container — and generic
            // bytes): 16-bin high-nibble byte histogram, the q36 oracle
            // recomputes it from hex(encode(text)).
            var i = 0
            while (i < bytes.length) {
              hist((bytes(i) & 0xff) >> 4) += 1.0
              i += 1
            }
            FeatureRow(id, bytes.length.toLong,
              norm16(hist, bytes.length.toLong))
          }
        }
      }
  }
}
