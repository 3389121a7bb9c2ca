package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkEntry._
import graft.ops._

/** Multimodal payloads: binary metadata, perceptual hashes and real
  * image, audio and video decode. */
private[graft] object MediaQueries {

  /** q148 image side: 8×8 = 64 gray samples ≥ the 60 aHash positions. */
  val MediaGridSide = 8

  /** q273 audio: PCM samples per synthetic WAV payload. */
  val AudioSamples = 256
  /** q273 audio: sample rate stamped into (and decoded back out of)
    * every synthetic WAV's fmt chunk. */
  val AudioRateHz = 8000

  /** q275 video: synthetic Y4M geometry — width × height luma plane
    * per frame, frames per payload. 8×6×4 = 192 pixels/doc keeps the
    * oracle's cross-join modest while exercising multi-frame demux. */
  val VideoW = 8
  val VideoH = 6
  val VideoFrames = 4
  /** q279: sampleFrames stride over the Y4M payloads — every 2nd frame
    * of the 4, so the demuxed indices (0, 2) prove stride sampling
    * runs on REAL container frames. */
  val VideoStride = 2
  /** q280: resize block factor over the 8×8 PNGs — 2×2 exact blocks,
    * output 4×4, every output pixel an integer block average the
    * oracle recomputes from the pixel law. */
  val ResizeFactor = 2

  /** Shared q148/q154 oracle chain: the aHash every document's REAL
    * decoded pixels must produce, recomputed straight from the source
    * text bytes (encodePng's pixel layout × decodeGrayGrid's identity
    * resample at w = h = side) — ends in `msim(doc_id, simhash)`. */
  private def mediaAHashSqlCte: String = {
    val n = Dedup.SimHashBits
    s"""WITH g AS (
       |  SELECT doc_id, list_transform(range(0, $n), k ->
       |    CASE WHEN len(text) = 0 THEN 0
       |         ELSE ascii(substring(text, (1 + (k % len(text)))::INT, 1))
       |    END) AS bs
       |  FROM documents
       |),
       |gm AS (SELECT doc_id, bs, list_sum(bs)::BIGINT AS sm FROM g),
       |msim AS (
       |  SELECT doc_id, list_sum(list_transform(range(0, $n), k ->
       |    CASE WHEN bs[(k + 1)::INT] * $n >= sm
       |         THEN (1::BIGINT << k::INT) ELSE 0::BIGINT END))::BIGINT
       |    AS simhash
       |  FROM gm
       |)""".stripMargin
  }

  val all: Seq[Query] = Seq(

    // Media near-dup commissioning audit (LAION-style): perceptual
    // aHash per payload, then the band-collision Hamming histogram —
    // where the corpus's collision mass sits before picking a maxHam
    // for the banded pair join (which is q22's machinery verbatim).
    Query("q125_media_phash_audit", (s, dir) => {
      Dedup.simhashBandAudit(
        Multimodal.perceptualHashes(
          Multimodal.payloads(t(s, dir, "documents"), "doc_id", "text")),
        "doc_id")
        .orderBy("hamming")
    },
    {
      val n = Dedup.SimHashBits
      s"""WITH pb AS (
         |  SELECT doc_id, list_transform(range(0, $n), k ->
         |    ascii(substring(text, (1 + (k * len(text)) // $n)::INT, 1)))
         |    AS bs
         |  FROM documents
         |),
         |pm AS (SELECT doc_id, bs, list_sum(bs)::BIGINT AS sm FROM pb),
         |sim AS (
         |  SELECT doc_id, list_sum(list_transform(range(0, $n), k ->
         |    CASE WHEN bs[(k + 1)::INT] * $n >= sm
         |         THEN (1::BIGINT << k::INT) ELSE 0::BIGINT END))::BIGINT
         |    AS simhash
         |  FROM pm
         |),
         |bands AS (
         |  SELECT doc_id, simhash, b,
         |    (simhash >> (${Dedup.SimHashBandBits}*b)) & ${(1L << Dedup.SimHashBandBits) - 1} AS bv
         |  FROM sim, (SELECT unnest(range(0, ${Dedup.SimHashBands})) AS b)
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
         |         bit_count(xor(a.simhash, c.simhash))::BIGINT AS hamming
         |  FROM bands a JOIN bands c ON a.b = c.b AND a.bv = c.bv
         |    AND a.doc_id < c.doc_id
         |)
         |SELECT hamming, count(*)::BIGINT AS n_pairs FROM cand
         |GROUP BY hamming ORDER BY hamming""".stripMargin
    }),

    // REAL image decode end-to-end: deterministic per-doc pixels (text
    // bytes) -> javax.imageio PNG ENCODE -> magic-byte detect -> REAL
    // PNG DECODE -> 8x8 gray grid -> integer aHash. The oracle computes
    // the same aHash straight from the text bytes, so a hash match
    // PROVES decode(encode(pixels)) returned the exact pixels — the
    // decode itself is inside the verified chain, not just spec'd.
    // ASCII-FIXTURE ASSUMPTION (shared with the q148 oracle): the pixel
    // source is charAt(k % len) & 0xff over UTF-16 units on the Spark
    // side vs ascii(substring) over codepoints + len() over codepoints
    // in DuckDB — identical ONLY for ASCII text, which the synthetic
    // documents fixture guarantees. Non-ASCII corpora would need a
    // UTF-8-byte pixel source on both engines before this oracle holds.
    Query("q148_media_ahash_real", (s, dir) => {
      val png = Multimodal.encodePng(t(s, dir, "documents"),
        "doc_id", "text", MediaGridSide)
      Multimodal.aHashFromGrid(
          Multimodal.decodeGrayGrid(png, MediaGridSide))
        .orderBy("doc_id")
    },
    // q125: the aHash recomputed from the payload text (integer grid
    // positions, integer mean compare), then q22's band join verbatim,
    // rolled up per Hamming distance.
    // q148: gray grid sample k = text byte at k mod len (encodePng pixel
    // layout x decodeGrayGrid identity resample at w = h = side), then
    // the integer-mean aHash over the first SimHashBits positions.
      s"""$mediaAHashSqlCte
         |SELECT doc_id, simhash FROM msim ORDER BY doc_id""".stripMargin),

    // q148's verified real-decode chain driven to its PRODUCT: the
    // decoded-pixel aHashes feed the q22 SimHash band join — which
    // images are near-copies, computed from actually-decoded bytes.
    Query("q154_media_neardup_real", (s, dir) => {
      val png = Multimodal.encodePng(t(s, dir, "documents"),
        "doc_id", "text", MediaGridSide)
      Dedup.simhashPairs(
          Multimodal.aHashFromGrid(
            Multimodal.decodeGrayGrid(png, MediaGridSide)),
          "doc_id", MaxHamming)
        .orderBy("id_a", "id_b")
    },
    // q154: the REAL-decode media near-dup pairs — q148's verified
    // encode→decode→aHash chain (msim) feeding q22's band join
    // verbatim. The end-to-end "which images are near-copies" product
    // over actually-decoded pixels.
      s"""$mediaAHashSqlCte,
         |bands AS (
         |  SELECT doc_id, simhash, b,
         |    (simhash >> (${Dedup.SimHashBandBits}*b)) & ${(1L << Dedup.SimHashBandBits) - 1} AS bv
         |  FROM msim, (SELECT unnest(range(0, ${Dedup.SimHashBands})) AS b)
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
         |         bit_count(xor(a.simhash, c.simhash))::BIGINT AS hamming
         |  FROM bands a JOIN bands c ON a.b = c.b AND a.bv = c.bv
         |    AND a.doc_id < c.doc_id
         |)
         |SELECT id_a, id_b, hamming FROM cand
         |WHERE hamming <= $MaxHamming ORDER BY id_a, id_b""".stripMargin),

    // REAL audio decode under the driver gate (the q148 protocol
    // applied to WAV/PCM): every document renders as a real RIFF/WAV
    // payload (sample k = (text byte at k mod len − 128)·256, a source
    // both engines can recompute), decodePcm parses the container and
    // PCM frames back, and the per-doc sample aggregates — count, sum,
    // min, max, and a position-weighted sum that catches any
    // permutation — hash against the oracle's recomputation straight
    // from the text. A match PROVES decode(encode(samples)) returned
    // the exact samples; the decode is inside the verified chain.
    // Same ASCII-fixture assumption as q148 (charAt vs ascii()).
    Query("q273_audio_pcm_real", (s, dir) => {
      val wav = Multimodal.encodeWav(t(s, dir, "documents"),
        "doc_id", "text", AudioSamples, AudioRateHz)
      Multimodal.decodePcm(wav)
        .select(col("doc_id"), col("sample_rate").cast("long"),
          col("n_channels").cast("long"),
          posexplode(col("samples")).as(Seq("pos", "s")))
        .groupBy("doc_id", "sample_rate", "n_channels")
        .agg(count(lit(1)).as("n_samples"),
          sum(col("s")).as("sum_s"),
          min(col("s")).as("min_s"),
          max(col("s")).as("max_s"),
          sum((col("pos") + 1) * col("s")).as("pos_sum"))
        .orderBy("doc_id")
    },
    // q273: the expected PCM samples recomputed straight from the text
    // bytes (encodeWav's sample law), aggregated identically — a hash
    // match proves the Spark side's RIFF parse returned every sample
    // bit-exact, in order (pos_sum), with the fmt fields intact.
      s"""WITH ks AS (SELECT unnest(range(0, $AudioSamples)) AS k),
         |smp AS (
         |  SELECT d.doc_id, ks.k,
         |    CASE WHEN len(d.text) = 0 THEN 0
         |         ELSE (ascii(substring(d.text,
         |                (1 + (ks.k % len(d.text)))::INT, 1)) - 128) * 256
         |    END AS s
         |  FROM documents d CROSS JOIN ks
         |)
         |SELECT doc_id, $AudioRateHz::BIGINT AS sample_rate,
         |  1::BIGINT AS n_channels, count(*)::BIGINT AS n_samples,
         |  sum(s)::BIGINT AS sum_s, min(s)::BIGINT AS min_s,
         |  max(s)::BIGINT AS max_s,
         |  sum((k + 1) * s)::BIGINT AS pos_sum
         |FROM smp GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // REAL video decode under the driver gate (the q148/q273 protocol
    // applied to Y4M): every document renders as a real YUV4MPEG2
    // payload (mono luma plane; pixel p of frame f = text byte at
    // (f·w·h + p) mod len — a source both engines can recompute),
    // decodeY4mFrames demuxes the header + FRAME markers and decodes
    // the planes back, and the per-frame pixel aggregates — count,
    // sum, min, max, and a position-weighted sum that catches any
    // permutation — hash against the oracle's recomputation straight
    // from the text. A match PROVES decode(encode(frames)) returned
    // every plane bit-exact, frame order intact (frame_idx), with the
    // header geometry (width/height) parsed right. Same ASCII-fixture
    // assumption as q148/q273 (charAt vs ascii()).
    Query("q275_video_y4m_real", (s, dir) => {
      val y4m = Multimodal.encodeY4m(t(s, dir, "documents"),
        "doc_id", "text", VideoW, VideoH, VideoFrames)
      Multimodal.decodeY4mFrames(y4m)
        .select(col("doc_id"), col("width"), col("height"),
          col("frame_idx"), posexplode(col("pixels")).as(Seq("pos", "v")))
        .groupBy("doc_id", "width", "height", "frame_idx")
        .agg(count(lit(1)).as("n_px"),
          sum(col("v")).as("sum_v"),
          min(col("v")).as("min_v"),
          max(col("v")).as("max_v"),
          sum((col("pos") + 1) * col("v")).as("pos_sum"))
        .orderBy("doc_id", "frame_idx")
    },
    // q275: the expected luma planes recomputed straight from the text
    // bytes (encodeY4m's pixel law), aggregated identically per frame —
    // a hash match proves the Spark side's Y4M demux returned every
    // frame's plane bit-exact, in order, with the header geometry
    // intact.
    {
      val fsz = VideoW * VideoH
      s"""WITH fp AS (
         |  SELECT f, p
         |  FROM (SELECT unnest(range(0, $VideoFrames)) AS f),
         |       (SELECT unnest(range(0, $fsz)) AS p)
         |),
         |px AS (
         |  SELECT d.doc_id, fp.f, fp.p,
         |    CASE WHEN len(d.text) = 0 THEN 0
         |         ELSE ascii(substring(d.text,
         |                (1 + ((fp.f * $fsz + fp.p) % len(d.text)))::INT, 1))
         |    END AS v
         |  FROM documents d CROSS JOIN fp
         |)
         |SELECT doc_id, $VideoW::BIGINT AS width, $VideoH::BIGINT AS height,
         |  f AS frame_idx, count(*)::BIGINT AS n_px,
         |  sum(v)::BIGINT AS sum_v, min(v)::BIGINT AS min_v,
         |  max(v)::BIGINT AS max_v, sum((p + 1) * v)::BIGINT AS pos_sum
         |FROM px GROUP BY doc_id, f ORDER BY doc_id, f""".stripMargin
    }),

    // The retired-stub gate for extractFeatures (r15): all three REAL
    // feature kernels — imageio pixel histogram over decoded PNG,
    // RIFF-walked int16 amplitude-band histogram over decoded WAV,
    // demuxed all-frames luma histogram over Y4M — verified in one
    // query against oracles that recompute each histogram straight
    // from the encoders' pixel/sample laws. A hash match proves the
    // features came from DECODED content, not payload bytes (the
    // payload bytes of a PNG are deflate output — a byte histogram
    // could not match). Same ASCII-fixture assumption as q148.
    Query("q278_media_features_real", (s, dir) => {
      val docs = t(s, dir, "documents")
      def feats(payloads: DataFrame, kind: String): DataFrame =
        Multimodal.extractFeatures(payloads).toDF()
          .select(col("doc_id"), lit(kind).as("kind"),
            posexplode(col("features")).as(Seq("bin", "feat")))
          .withColumn("bin", col("bin").cast("long"))
      feats(Multimodal.encodePng(docs, "doc_id", "text", MediaGridSide),
          "png")
        .unionByName(feats(Multimodal.encodeWav(docs, "doc_id", "text",
          AudioSamples, AudioRateHz), "wav"))
        .unionByName(feats(Multimodal.encodeY4m(docs, "doc_id", "text",
          VideoW, VideoH, VideoFrames), "y4m"))
        .orderBy("doc_id", "kind", "bin")
    },
    // q278: the three REAL feature-kernel histograms recomputed from
    // the encoders' laws. PNG pixels and Y4M planes both read text
    // byte k mod len (k over side² grid / frames·w·h plane positions),
    // bin = value>>4; WAV samples are (byte−128)·256, whose amplitude
    // band (s+32768)>>12 collapses to byte>>4 for non-empty text and
    // to band 8 (silence = 0) for empty text. Normalization and
    // half-up round-to-9 mirror the Spark kernels exactly.
    {
      val pngN = MediaGridSide * MediaGridSide
      val y4mN = VideoW * VideoH * VideoFrames
      def hist(kind: String, n: Int, binExpr: String): String =
        s"""${kind}v AS (
           |  SELECT d.doc_id, $binExpr AS bin
           |  FROM documents d
           |  CROSS JOIN (SELECT unnest(range(0, $n)) AS k) p
           |),
           |${kind}h AS (
           |  SELECT doc_id, bin, count(*) AS cnt
           |  FROM ${kind}v GROUP BY doc_id, bin
           |),
           |$kind AS (
           |  SELECT d.doc_id, '$kind' AS kind, bins.bin,
           |    (CAST(CAST(floor((coalesce(h.cnt, 0) / $n::DOUBLE) * 1e9
           |       + 0.5) AS BIGINT) AS DOUBLE) / 1e9) AS feat
           |  FROM documents d CROSS JOIN bins
           |  LEFT JOIN ${kind}h h
           |    ON h.doc_id = d.doc_id AND h.bin = bins.bin
           |)""".stripMargin
      val byteAt =
        "ascii(substring(d.text, (1 + (p.k % len(d.text)))::INT, 1))"
      s"""WITH bins AS (SELECT unnest(range(0, 16)) AS bin),
         |${hist("png", pngN,
            s"CASE WHEN len(d.text) = 0 THEN 0 ELSE $byteAt // 16 END")},
         |${hist("wav", AudioSamples,
            s"CASE WHEN len(d.text) = 0 THEN 8 ELSE $byteAt // 16 END")},
         |${hist("y4m", y4mN,
            s"CASE WHEN len(d.text) = 0 THEN 0 ELSE $byteAt // 16 END")}
         |SELECT * FROM png UNION ALL SELECT * FROM wav
         |UNION ALL SELECT * FROM y4m
         |ORDER BY doc_id, kind, bin""".stripMargin
    }),

    // The retired-stub gate for sampleFrames (r15): stride-sampling
    // over REAL Y4M payloads demuxes actual container frames — emitted
    // frame_idx are the STREAM indices (0, 2, … — stride over the
    // container's frame sequence, not byte chunks; frameBytes is
    // ignored on this path), and each frame's bytes are the exact
    // decoded luma plane, proven by the q275 aggregate protocol
    // (count/sum/min/max/position-weighted sum per plane) against the
    // oracle's recomputation from the pixel law.
    Query("q279_video_frames_real", (s, dir) => {
      import s.implicits._
      val y4m = Multimodal.encodeY4m(t(s, dir, "documents"),
        "doc_id", "text", VideoW, VideoH, VideoFrames)
      Multimodal.sampleFrames(y4m, frameBytes = 1, stride = VideoStride)
        .map { fr =>
          val px = fr.frame
          var sum = 0L; var mn = 256L; var mx = -1L; var ps = 0L
          var i = 0
          while (i < px.length) {
            val v = (px(i) & 0xff).toLong
            sum += v
            if (v < mn) mn = v
            if (v > mx) mx = v
            ps += (i + 1) * v
            i += 1
          }
          (fr.doc_id, fr.frame_idx, px.length.toLong, sum, mn, mx, ps)
        }
        .toDF("doc_id", "frame_idx", "n_px", "sum_v", "min_v", "max_v",
          "pos_sum")
        .orderBy("doc_id", "frame_idx")
    },
    // q279: every stride-th frame's luma plane recomputed from the
    // pixel law (the q275 oracle restricted to f % stride = 0),
    // aggregated identically — a hash match proves sampleFrames
    // demuxed REAL container frames at their stream indices.
    {
      val fsz = VideoW * VideoH
      s"""WITH fp AS (
         |  SELECT f, p
         |  FROM (SELECT unnest(range(0, $VideoFrames)) AS f),
         |       (SELECT unnest(range(0, $fsz)) AS p)
         |  WHERE f % $VideoStride = 0
         |),
         |px AS (
         |  SELECT d.doc_id, fp.f, fp.p,
         |    CASE WHEN len(d.text) = 0 THEN 0
         |         ELSE ascii(substring(d.text,
         |                (1 + ((fp.f * $fsz + fp.p) % len(d.text)))::INT, 1))
         |    END AS v
         |  FROM documents d CROSS JOIN fp
         |)
         |SELECT doc_id, f AS frame_idx, count(*)::BIGINT AS n_px,
         |  sum(v)::BIGINT AS sum_v, min(v)::BIGINT AS min_v,
         |  max(v)::BIGINT AS max_v, sum((p + 1) * v)::BIGINT AS pos_sum
         |FROM px GROUP BY doc_id, f ORDER BY doc_id, f""".stripMargin
    }),

    // The retired-stub gate for resize (r15): REAL image resize —
    // imageio decode, exact 2×2 integer box averages, grayscale-PNG
    // re-encode — driven through the q148-verified decodeGrayGrid
    // chain. The oracle recomputes every output pixel as
    // (Σ 2×2 block of the encoder's text-byte pixels) // 4, so a hash
    // match proves the resize averaged DECODED pixels (byte decimation
    // of deflate output could not match). Same ASCII-fixture
    // assumption as q148.
    Query("q280_media_resize_real", (s, dir) => {
      val png = Multimodal.encodePng(t(s, dir, "documents"),
        "doc_id", "text", MediaGridSide)
      val rs = Multimodal.resize(png, ResizeFactor)
        .select(col("doc_id"), col("payload_resized").as("payload"))
      Multimodal.decodeGrayGrid(rs, MediaGridSide / ResizeFactor)
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("gray")).as(Seq("pos", "v")))
        .withColumn("pos", col("pos").cast("long"))
        .orderBy("doc_id", "pos")
    },
    // q280: every resized pixel recomputed straight from the text
    // bytes — output pixel p of the (side/f)² grid is the integer
    // average of its exact f×f source block under encodePng's pixel
    // law (source pixel (y,x) = text byte at (y·side + x) mod len).
    {
      val side = MediaGridSide
      val f = ResizeFactor
      val ow = side / f
      val nOut = ow * ow
      val nBlk = f * f
      s"""WITH bp AS (
         |  SELECT p, d
         |  FROM (SELECT unnest(range(0, $nOut)) AS p),
         |       (SELECT unnest(range(0, $nBlk)) AS d)
         |),
         |src AS (
         |  SELECT doc.doc_id, bp.p,
         |    CASE WHEN len(doc.text) = 0 THEN 0
         |         ELSE ascii(substring(doc.text,
         |           (1 + ((((bp.p // $ow) * $f + bp.d // $f) * $side
         |              + ((bp.p % $ow) * $f + bp.d % $f))
         |             % len(doc.text)))::INT, 1))
         |    END AS v
         |  FROM documents doc CROSS JOIN bp
         |)
         |SELECT doc_id, $ow::BIGINT AS width, $ow::BIGINT AS height,
         |  p AS pos, (sum(v) // $nBlk)::BIGINT AS v
         |FROM src GROUP BY doc_id, p ORDER BY doc_id, pos""".stripMargin
    }),

    // Multimodal: binary-payload metadata extraction (size, hash, magic).
    Query("q35_mm_meta", (s, dir) => {
      Multimodal.metaTable(
        Multimodal.payloads(t(s, dir, "documents"), "doc_id", "text"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  octet_length(encode(text))::BIGINT AS n_bytes,
        |  md5(text) AS content_md5,
        |  to_base64(encode(substring(text, 1, 8))) AS magic_b64,
        |  lang, source
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Multimodal: per-partition stub feature extraction (mapPartitions).
    // The stub histogram is deterministic, so even this non-relational
    // path gets a DuckDB oracle: features exploded to (bin, feat) rows —
    // doubles compare via the shared round-to-9 convention, no
    // engine-specific array-of-double string formatting.
    Query("q36_mm_features", (s, dir) => {
      Multimodal.extractFeatures(
        Multimodal.payloads(t(s, dir, "documents"), "doc_id", "text"))
        .toDF()
        .select(col("doc_id"), col("n_bytes"),
          posexplode(col("features")).as(Seq("bin", "feat")))
        .withColumn("bin", col("bin").cast("long"))
        .orderBy("doc_id", "bin")
    },
    // q36: the stub decoder's 16-bin high-nibble byte histogram,
    // recomputed from hex(encode(text)) — the high nibble of byte i IS
    // hex digit 2i+1 (1-based) of the blob's hex string.
      """WITH hx AS (
        |  SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
        |         hex(encode(text)) AS h
        |  FROM documents
        |),
        |nib AS (
        |  SELECT doc_id, CAST(('0x' || substring(h, 2*i + 1, 1)) AS BIGINT) AS bin
        |  FROM hx, LATERAL (SELECT unnest(range(0, n_bytes)) AS i) p
        |),
        |hist AS (
        |  SELECT doc_id, bin, count(*) AS cnt FROM nib GROUP BY doc_id, bin
        |)
        |SELECT d.doc_id, d.n_bytes, bins.bin,
        |  (CAST(CAST(floor((coalesce(ht.cnt, 0)
        |    / greatest(d.n_bytes, 1)::DOUBLE) * 1e9 + 0.5) AS BIGINT)
        |    AS DOUBLE) / 1e9) AS feat
        |FROM hx d
        |CROSS JOIN (SELECT unnest(range(0, 16)) AS bin) bins
        |LEFT JOIN hist ht ON ht.doc_id = d.doc_id AND ht.bin = bins.bin
        |ORDER BY d.doc_id, bins.bin""".stripMargin)
  )
}
