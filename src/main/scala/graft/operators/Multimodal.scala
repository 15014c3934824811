package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: media payloads ride as opaque `binary`
  * columns with typed metadata; decode / feature-extract runs as
  * per-partition imperative code over the binary bytes.
  *
  * q62/q80 use REAL JDK codecs (javax.imageio PNG, javax.sound.sampled
  * WAV): each doc derives a deterministic synthetic image / PCM clip,
  * ENCODES it through the real codec into the binary column, ships the
  * payload across a real exchange, and DECODES it back through the
  * codec before computing per-frame / per-window statistics. Both
  * codecs are lossless (PNG, 16-bit PCM), so the decoded pixels /
  * samples equal the generating formula exactly — which is what the
  * DuckDB oracle recomputes analytically. Hash parity therefore gates
  * the DECODE: a codec that returned wrong pixels/samples would fail
  * the oracle. A user pointing external PNG/WAV payloads at the same
  * mapPartitions operators runs the identical decode path.
  *
  * q61/q83 keep the byte-slice arithmetic form (binary metadata /
  * stride resample) whose oracle mirrors the bytes directly.
  */
object Multimodal {

  private val FrameBytes = 64
  private val MaxFrames = 8

  /** Deterministic grayscale test image for `doc_id`: height
    * [[ImgH]] rows, width 16 + (doc_id mod 17), pixel(x, y) =
    * (doc_id·31 + x·7 + y·13) mod 256 — integer arithmetic the oracle
    * replays with generate_series.
    */
  private val ImgH = 8
  private[graft] def imgWidth(id: Long): Int = (16 + id % 17).toInt
  private[graft] def pixel(id: Long, x: Int, y: Int): Int = ((id * 31 + x * 7 + y * 13) % 256).toInt

  /** Deterministic 16-bit PCM clip for `doc_id`: 256 + (doc_id mod 91)
    * samples, sample(t) = ((doc_id·7919 + t·104729) mod 65536) − 32768.
    */
  private[graft] def clipLen(id: Long): Int = (256 + id % 91).toInt
  private[graft] def sample(id: Long, t: Int): Int =
    (((id * 7919 + t.toLong * 104729) % 65536) - 32768).toInt

  /** Encode the doc's synthetic image as a real PNG via the supplied
    * (per-partition, reused) ImageWriter.
    */
  private[graft] def encodePng(writer: javax.imageio.ImageWriter, id: Long): Array[Byte] = {
    val w = imgWidth(id)
    val img = new java.awt.image.BufferedImage(
      w, ImgH, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < ImgH) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, pixel(id, x, y)); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(img)
    } finally ios.close()
    bos.toByteArray
  }

  /** Encode the doc's synthetic clip as a real RIFF/WAVE payload
    * (PCM_SIGNED, 16-bit little-endian, mono).
    */
  private[graft] def encodeWav(id: Long): Array[Byte] = {
    val n = clipLen(id)
    val pcm = new Array[Byte](n * 2)
    var t = 0
    while (t < n) {
      val s = sample(id, t)
      pcm(t * 2) = (s & 0xff).toByte
      pcm(t * 2 + 1) = ((s >> 8) & 0xff).toByte
      t += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  // ---------------------------------------------------------------
  // Perceptual-hash image near-dup (q201/q202): the multimodal twin of
  // the text SimHash family (q48/q49). An LLM training pipeline dedups
  // images as surely as text; the standard tool is a 64-bit dHash
  // (difference hash: compare adjacent downsample-block means) banded
  // exactly like SimHash so candidates only ever meet inside a
  // (band, value) bucket — never all-pairs.
  //
  // The test corpus needs images that are actually NEAR-duplicates of
  // each other (q62's gradient formula makes every image perceptually
  // alike — measured: 7% of ALL pairs within Hamming 3, band buckets
  // holding a third of the corpus). So this family derives a TEXTURED
  // image per doc: md5-random pixels keyed by the doc's BASE id
  // (doc_id >> 2 — blocks of 4 docs share a base image, at every SF),
  // plus a sparse per-doc perturbation (~0.5% of pixels shifted by
  // 128). Same-base docs are the planted near-dups (Hamming mostly
  // 0-3); cross-base hashes are 64 independent bits (measured: zero
  // cross-base pairs at T=3, max band bucket 8 at 5000 docs). Pair
  // count grows LINEARLY with the corpus (pairs only within 4-doc
  // base blocks), and md5-random band values spread buckets uniformly
  // (~n/65536), so the banded join stays skew-free by construction.
  //
  // Completeness is pigeonhole-exact, not probabilistic: 4 disjoint
  // 16-bit bands over 64 bits — any pair within Hamming 3 differs in
  // at most 3 bands, so at least one band matches and the pair IS a
  // candidate. The banded result therefore EQUALS the all-pairs
  // result for the threshold, which is what lets the oracle gate it.
  // ---------------------------------------------------------------

  private val DhBlocks = 9 // column blocks per row -> 8 comparisons
  private val DhMaxHamming = 3 // <= bands-1, the pigeonhole bound

  /** Imperative twin of [[graft.functions.TextFns.h60]] (first 15 hex
    * chars of md5 as a 60-bit integer) for per-pixel use inside the
    * codec loop, where a Column expression cannot reach.
    */
  private[graft] def h60(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val dig = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    (v << 4) | ((dig(7) & 0xf0L) >> 4)
  }

  /** Textured-corpus geometry: width (and the base pattern) key off
    * doc_id >> 2, so each block of 4 consecutive docs shares one base
    * image at every scale factor.
    */
  private[graft] def texWidth(id: Long): Int = (16 + (id >> 2) % 17).toInt

  /** md5-random base pixel + sparse per-doc perturbation. */
  private[graft] def texPixel(md: java.security.MessageDigest, id: Long, x: Int, y: Int): Int = {
    val base = (h60(md, s"px|${id >> 2}|$x|$y") % 256).toInt
    if ((id * 31 + x * 7 + y * 13) % 199 == 0) ((base + 128) % 256) else base
  }

  /** Encode the doc's textured image as a real PNG. */
  private[graft] def encodeTexPng(
      writer: javax.imageio.ImageWriter,
      md: java.security.MessageDigest,
      id: Long): Array[Byte] = {
    val w = texWidth(id)
    val img = new java.awt.image.BufferedImage(
      w, ImgH, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < ImgH) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, texPixel(md, id, x, y)); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(img)
    } finally ios.close()
    bos.toByteArray
  }

  // ---------------------------------------------------------------
  // Audio perceptual near-dup (q204/q205): the q201/q202 pattern on
  // the audio column — the remaining multimodal dedup surface. The
  // fingerprint is the Shazam-family shape reduced to exact integers:
  // per clip, [[AuBlocks]] time blocks, per-block ENERGY (Σ v² over
  // the decoded 16-bit samples), bit(i) = 1 iff mean-energy(block i)
  // > mean-energy(block i+1), compared cross-multiplied so the
  // arithmetic stays exact (block sizes differ by one when 65 does
  // not divide the clip length) — the audio twin of [[dhashOf]]'s
  // adjacent-block comparisons. 64 bits → the same 4×16-bit bands,
  // pigeonhole-complete for Hamming ≤ [[AuMaxHamming]].
  //
  // The textured corpus mirrors the image family: blocks of 4 docs
  // share an md5-random BASE clip (keyed by doc_id >> 2, so the
  // planted near-dups exist at every SF) plus a sparse per-doc sample
  // perturbation (~0.5% of samples shifted by a quarter range) —
  // q80's LCG clips are spectrally all-alike in the same way q62's
  // gradient images are perceptually all-alike, so a perceptual
  // fingerprint needs this corpus to be non-degenerate. Same-base
  // docs differ in 0-6 bits (1-2 perturbed samples per clip, each
  // moving 1 block's energy, each flipping ≤2 comparison bits);
  // cross-base prints are 64 independent bits, so qualifying pairs
  // live inside 4-doc base blocks and pair count grows LINEARLY.
  // ---------------------------------------------------------------

  private val AuBlocks = 65 // time blocks -> 64 adjacent comparisons
  private val AuMaxHamming = 3 // <= bands-1, the pigeonhole bound

  /** Textured-clip geometry: length keys off the BASE id so same-base
    * clips block-align.
    */
  private[graft] def texClipLen(id: Long): Int = (256 + (id >> 2) % 91).toInt

  /** md5-random base sample + sparse per-doc perturbation (+16384 mod
    * the 16-bit range on ~1/211 of positions).
    */
  private[graft] def texSample(md: java.security.MessageDigest, id: Long, t: Int): Int = {
    val base = (h60(md, s"au|${id >> 2}|$t") % 65536).toInt
    val p = if ((id * 31 + t.toLong * 17) % 211 == 0) 16384 else 0
    ((base + p) % 65536) - 32768
  }

  /** Encode the doc's textured clip as a real RIFF/WAVE payload. */
  private[graft] def encodeTexWav(md: java.security.MessageDigest, id: Long): Array[Byte] = {
    val n = texClipLen(id)
    val pcm = new Array[Byte](n * 2)
    var t = 0
    while (t < n) {
      val s = texSample(md, id, t)
      pcm(t * 2) = (s & 0xff).toByte
      pcm(t * 2 + 1) = ((s >> 8) & 0xff).toByte
      t += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** 64-bit audio fingerprint over decoded little-endian 16-bit PCM:
    * [[AuBlocks]] blocks (boundaries floor(i·n/65)), per-block energy
    * Σ v², bit(i) = 1 iff e(i)·c(i+1) > e(i+1)·c(i). Bits 0-31 → h0,
    * 32-63 → h1 (both non-negative 32-bit halves, the [[dhashOf]]
    * BIGINT-survival discipline). Bounds: |v| ≤ 2¹⁵ so v² ≤ 2³⁰,
    * block size ≤ 6 so e ≤ 3·2³² and e·c ≤ 9·2³⁴ — exact in a long
    * and in DuckDB's BIGINT.
    */
  private[graft] def afpOf(pcm: Array[Byte]): (Long, Long) = {
    val n = pcm.length / 2
    val e = new Array[Long](AuBlocks)
    val c = new Array[Long](AuBlocks)
    var i = 0
    while (i < AuBlocks) {
      val lo = i * n / AuBlocks
      val hi = (i + 1) * n / AuBlocks
      c(i) = (hi - lo).toLong
      var acc = 0L
      var t = lo
      while (t < hi) {
        val v = ((pcm(t * 2) & 0xff) | (pcm(t * 2 + 1) << 8)).toShort.toInt
        acc += v.toLong * v
        t += 1
      }
      e(i) = acc
      i += 1
    }
    var h0 = 0L
    var h1 = 0L
    i = 0
    while (i < AuBlocks - 1) {
      if (e(i) * c(i + 1) > e(i + 1) * c(i)) {
        if (i < 32) h0 |= 1L << i else h1 |= 1L << (i - 32)
      }
      i += 1
    }
    (h0, h1)
  }

  /** Per-doc audio fingerprint through the REAL codec path: textured
    * clip → WAV encode → binary column across a real exchange →
    * AudioSystem decode (RIFF header parse + format negotiation) →
    * imperative [[afpOf]] over the decoded samples. Hash parity with
    * the analytic oracle gates the decode AND the energy arithmetic;
    * bands are the 4 disjoint 16-bit slices the q205 candidate join
    * buckets on.
    */
  private[graft] def audioFingerprint(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"))
    val binSchema = new StructType()
      .add("doc_id", LongType)
      .add("payload", BinaryType)
    val encoded = src.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val id = r.getLong(0)
        Row(id, encodeTexWav(md, id))
      }
    }(org.apache.spark.sql.Encoders.row(binSchema))
    val outSchema = new StructType()
      .add("doc_id", LongType)
      .add("h0", LongType)
      .add("h1", LongType)
    encoded
      .repartition(col("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 && !fmt.isBigEndian,
            s"unexpected decoded format: $fmt")
          val pcm = ais.readAllBytes()
          ais.close()
          val (h0, h1) = afpOf(pcm)
          Row(id, h0, h1)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      .select(
        col("doc_id"), col("h0"), col("h1"),
        (col("h0") % 65536).cast(IntegerType).as("band0"),
        (shiftright(col("h0"), 16) % 65536).cast(IntegerType).as("band1"),
        (col("h1") % 65536).cast(IntegerType).as("band2"),
        (shiftright(col("h1"), 16) % 65536).cast(IntegerType).as("band3"))
  }

  /** Analytic oracle chain shared by q204/q205: regenerate the samples
    * (md5 base + perturbation), block energies, comparison bits, hash
    * halves, band slices — the [[dhashChainSql]] discipline on the
    * audio formula. `asums`/`ahsh` feed two downstream CTEs each →
    * MATERIALIZED (the DuckDB-1.0 inlining hazard).
    */
  private val afpChainSql: String = s"""
    ad AS (SELECT doc_id, doc_id >> 2 AS b,
                  CAST(256 + (doc_id >> 2) % 91 AS INT) AS n
           FROM documents),
    ablocks AS (SELECT doc_id, b, n, i,
                       (i*n)//$AuBlocks AS lo, ((i+1)*n)//$AuBlocks AS hi
                FROM ad,
                     (SELECT unnest(generate_series(0, ${AuBlocks - 1})) AS i)),
    asums AS MATERIALIZED (
      SELECT doc_id, i, hi - lo AS c,
             list_sum(list_transform(generate_series(lo, hi - 1),
               t -> CAST(
                 (CAST('0x' || substr(md5('au|' || b || '|' || t), 1, 15) AS BIGINT) % 65536
                  + CASE WHEN (doc_id*31 + t*17) % 211 = 0 THEN 16384 ELSE 0 END) % 65536
                 - 32768 AS BIGINT)
               * CAST(
                 (CAST('0x' || substr(md5('au|' || b || '|' || t), 1, 15) AS BIGINT) % 65536
                  + CASE WHEN (doc_id*31 + t*17) % 211 = 0 THEN 16384 ELSE 0 END) % 65536
                 - 32768 AS BIGINT))) AS e
      FROM ablocks),
    abits AS (SELECT a.doc_id, a.i,
                     CASE WHEN a.e * b2.c > b2.e * a.c THEN 1 ELSE 0 END AS bit
              FROM asums a JOIN asums b2
                ON a.doc_id = b2.doc_id AND b2.i = a.i + 1
              WHERE a.i < ${AuBlocks - 1}),
    ahsh AS MATERIALIZED (
      SELECT doc_id,
             CAST(SUM(CASE WHEN i < 32 THEN bit * (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS h0,
             CAST(SUM(CASE WHEN i >= 32 THEN bit * (1::BIGINT << (i - 32)) ELSE 0 END) AS BIGINT) AS h1
      FROM abits GROUP BY doc_id),
    ahb AS MATERIALIZED (
      SELECT doc_id, h0, h1,
             CAST(h0 % 65536 AS INT) AS band0, CAST((h0 >> 16) % 65536 AS INT) AS band1,
             CAST(h1 % 65536 AS INT) AS band2, CAST((h1 >> 16) % 65536 AS INT) AS band3
      FROM ahsh)"""

  /** 64-bit dHash of a decoded grayscale raster: per row, [[DhBlocks]]
    * integer column blocks (boundaries floor(i·w/9)); bit(j,i) = 1 iff
    * mean(block i) > mean(block i+1), compared cross-multiplied so the
    * arithmetic stays exact integers (block widths differ by one when
    * 9 does not divide w). Split into two non-negative 32-bit halves
    * (rows 0-3 / rows 4-7) so the value survives BIGINT round-trips in
    * both engines without sign games.
    */
  private[graft] def dhashOf(raster: java.awt.image.Raster): (Long, Long) = {
    val w = raster.getWidth
    var h0 = 0L
    var h1 = 0L
    val s = new Array[Long](DhBlocks)
    val c = new Array[Long](DhBlocks)
    var j = 0
    while (j < ImgH) {
      var i = 0
      while (i < DhBlocks) {
        val lo = i * w / DhBlocks
        val hi = (i + 1) * w / DhBlocks
        c(i) = (hi - lo).toLong
        var acc = 0L
        var x = lo
        while (x < hi) { acc += raster.getSample(x, j, 0); x += 1 }
        s(i) = acc
        i += 1
      }
      i = 0
      while (i < DhBlocks - 1) {
        if (s(i) * c(i + 1) > s(i + 1) * c(i)) {
          if (j < 4) h0 |= 1L << (j * 8 + i) else h1 |= 1L << ((j - 4) * 8 + i)
        }
        i += 1
      }
      j += 1
    }
    (h0, h1)
  }

  /** Per-doc perceptual hash through the REAL codec path: textured
    * image → PNG encode (reused writer per partition) → binary column
    * across a real exchange → PNG decode (reused reader per partition)
    * → imperative dHash over the decoded raster. Hash parity with the
    * analytic oracle gates the decode AND the hash arithmetic. Bands
    * are the 4 disjoint 16-bit slices used by the q202 candidate join.
    */
  private[graft] def imageDhash(s: SparkSession, d: String): DataFrame =
    imageDhashOf(Tables.documents(s, d).select(col("doc_id")))

  /** [[imageDhash]] over an arbitrary doc_id frame — the standing/
    * delta split of the incremental family (q206) hashes each side
    * separately, so only the delta ever pays the codec at serve time.
    */
  private[graft] def imageDhashOf(src: DataFrame): DataFrame = {
    val binSchema = new StructType()
      .add("doc_id", LongType)
      .add("payload", BinaryType)
    val encoded = src.mapPartitions { rows =>
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val id = r.getLong(0)
        Row(id, encodeTexPng(writer, md, id))
      }
    }(org.apache.spark.sql.Encoders.row(binSchema))
    val outSchema = new StructType()
      .add("doc_id", LongType)
      .add("h0", LongType)
      .add("h1", LongType)
    encoded
      .repartition(col("doc_id"))
      .mapPartitions { rows =>
        val reader = javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
        rows.map { r =>
          val id = r.getLong(0)
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          reader.setInput(iis)
          val img = reader.read(0)
          iis.close()
          val (h0, h1) = dhashOf(img.getRaster)
          Row(id, h0, h1)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      .select(
        col("doc_id"), col("h0"), col("h1"),
        (col("h0") % 65536).cast(IntegerType).as("band0"),
        (shiftright(col("h0"), 16) % 65536).cast(IntegerType).as("band1"),
        (col("h1") % 65536).cast(IntegerType).as("band2"),
        (shiftright(col("h1"), 16) % 65536).cast(IntegerType).as("band3"))
  }

  /** Standing/delta split for the image-hash index lifecycle: ~90% of
    * docs form the standing corpus whose hashes freeze into the index;
    * the md5-hash-selected ~10% arrive as the delivery's delta (the
    * q179/q196 convention applied to documents).
    */
  private[graft] def imgStanding: org.apache.spark.sql.Column =
    graft.functions.TextFns.h60(
      concat(lit("d"), col("doc_id").cast("string"))) % 10 =!= 0

  /** The FROZEN image-hash index (q206): the standing ~90% corpus's
    * dHash frame (doc_id, h0, h1, band0-3), computed ONCE through the
    * real codec path and published cross-JVM via [[graft.IndexStore]]
    * (Prebuild-registered) — the ETL-tier cost a deployment amortizes.
    * Serving hashes only the delta: the codec (the corpus-linear cost,
    * 58.2 s at sf10 for q201's full corpus) is paid per delivery only
    * on the ~10% batch.
    */
  private[graft] def imageDhashIndex(s: SparkSession, d: String): String =
    graft.IndexStore.resolve(s, "img_dhash_index", 1, d, Seq("documents.parquet")) {
      dirOf =>
        val standing = imageDhashOf(
          Tables.documents(s, d).select(col("doc_id")).filter(imgStanding))
        Map("hashes" -> Snapshots.commit(standing, dirOf("hashes"), replace = true))
    }("hashes")

  /** Explode a hash frame into its 4 (band_id, band) rows. */
  private def bandRows(hd: DataFrame): DataFrame =
    hd.select(
      col("doc_id"),
      explode(array(
        struct(lit(0).as("band_id"), col("band0").as("band")),
        struct(lit(1).as("band_id"), col("band1").as("band")),
        struct(lit(2).as("band_id"), col("band2").as("band")),
        struct(lit(3).as("band_id"), col("band3").as("band")))).as("bb"))
      .select(col("doc_id"), col("bb.band_id").as("band_id"), col("bb.band").as("band"))

  /** q206's serve path: the delta hashes through the codec, then its
    * band rows probe the STANDING index's band rows (equi-join on
    * (band_id, band) — the q130 posture: only the incoming batch's
    * bands shuffle per delivery; at warehouse scale the index side is
    * bucketed by band). Completeness within the probe is the q202
    * pigeonhole argument unchanged; verification is the exact
    * popcount against the pinned standing hashes.
    */
  private[graft] def incrementalImageNeardup(s: SparkSession, d: String): DataFrame = {
    val idx = Snapshots.read(s, imageDhashIndex(s, d))
    val delta = imageDhashOf(
      Tables.documents(s, d).select(col("doc_id")).filter(!imgStanding)).cache()
    val cand = bandRows(delta).as("n")
      .join(bandRows(idx).as("x"),
        col("n.band_id") === col("x.band_id") && col("n.band") === col("x.band"))
      .select(col("n.doc_id").as("new_doc"), col("x.doc_id").as("dup_of"))
      .distinct()
    cand
      .join(delta.as("ha"), col("new_doc") === col("ha.doc_id"))
      .join(idx.as("hc"), col("dup_of") === col("hc.doc_id"))
      .select(
        col("new_doc"), col("dup_of"),
        (bit_count(col("ha.h0").bitwiseXOR(col("hc.h0"))) +
          bit_count(col("ha.h1").bitwiseXOR(col("hc.h1")))).cast(IntegerType).as("hamming"))
      .filter(col("hamming") <= DhMaxHamming)
      .orderBy(col("new_doc"), col("dup_of"))
  }

  /** Analytic oracle chain shared by q201/q202: regenerate the pixels
    * (md5 base + perturbation), block sums, comparison bits, the two
    * hash halves, and the band slices. `sums`/`hsh` are MATERIALIZED —
    * each feeds two downstream CTEs (the DuckDB-1.0 inlining hazard).
    */
  private val dhashChainSql: String = s"""
    d AS (SELECT doc_id, doc_id >> 2 AS b,
                 CAST(16 + (doc_id >> 2) % 17 AS INT) AS w
          FROM documents),
    cells AS (SELECT doc_id, b, w, j, i,
                     (i*w)//$DhBlocks AS lo, ((i+1)*w)//$DhBlocks AS hi
              FROM d,
                   (SELECT unnest(generate_series(0, ${ImgH - 1})) AS j),
                   (SELECT unnest(generate_series(0, ${DhBlocks - 1})) AS i)),
    sums AS MATERIALIZED (
      SELECT doc_id, j, i, hi - lo AS c,
             list_sum(list_transform(generate_series(lo, hi - 1),
               x -> (CAST('0x' || substr(md5('px|' || b || '|' || x || '|' || j), 1, 15) AS BIGINT) % 256
                     + CASE WHEN (doc_id*31 + x*7 + j*13) % 199 = 0 THEN 128 ELSE 0 END) % 256)) AS s
      FROM cells),
    bits AS (SELECT a.doc_id, a.j, a.i,
                    CASE WHEN a.s * b2.c > b2.s * a.c THEN 1 ELSE 0 END AS bit
             FROM sums a JOIN sums b2
               ON a.doc_id = b2.doc_id AND a.j = b2.j AND b2.i = a.i + 1
             WHERE a.i < ${DhBlocks - 1}),
    hsh AS MATERIALIZED (
      SELECT doc_id,
             CAST(SUM(CASE WHEN j < 4 THEN bit * (1::BIGINT << (j*8 + i)) ELSE 0 END) AS BIGINT) AS h0,
             CAST(SUM(CASE WHEN j >= 4 THEN bit * (1::BIGINT << ((j-4)*8 + i)) ELSE 0 END) AS BIGINT) AS h1
      FROM bits GROUP BY doc_id),
    hb AS MATERIALIZED (
      SELECT doc_id, h0, h1,
             CAST(h0 % 65536 AS INT) AS band0, CAST((h0 >> 16) % 65536 AS INT) AS band1,
             CAST(h1 % 65536 AS INT) AS band2, CAST((h1 >> 16) % 65536 AS INT) AS band3
      FROM hsh)"""

  val all: Seq[Q] = Seq(
    // binary ingestion + metadata: payload bytes, sizes, head fingerprint
    Q(
      "q61_binary_meta",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("payload", encode(col("text"), "UTF-8"))
          .select(
            col("doc_id"),
            length(col("payload")).as("n_bytes"),
            col("n_chars"),
            lower(hex(encode(substring(col("text"), 1, 8), "UTF-8"))).as("head_hex"),
            md5(col("payload")).as("payload_md5")
          )
          .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INT) AS n_bytes,
               n_chars,
               lower(hex(encode(substr(text, 1, 8)))) AS head_hex,
               md5(text) AS payload_md5
        FROM documents ORDER BY doc_id""")
    ),

    // REAL image decode/frame-sample: each doc's deterministic image is
    // PNG-encoded (one reused ImageWriter per partition), the payload
    // crosses a real exchange as a binary column, then PNG-decoded (one
    // reused ImageReader per partition) and scanned row-by-row — the
    // per-frame stats hash-match an oracle that regenerates the pixels
    // analytically, so parity gates the decode itself.
    Q(
      "q62_frame_extract",
      (s, d) => {
        val src = Tables.documents(s, d).select(col("doc_id"))
        val binSchema = new StructType()
          .add("doc_id", LongType)
          .add("payload", BinaryType)
        val encoded = src.mapPartitions { rows =>
          // one codec handle per partition, reused across rows
          val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
          rows.map { r =>
            val id = r.getLong(0)
            Row(id, encodePng(writer, id))
          }
        }(org.apache.spark.sql.Encoders.row(binSchema))
        val outSchema = new StructType()
          .add("doc_id", LongType)
          .add("frame_id", IntegerType)
          .add("frame_len", IntegerType)
          .add("px_sum", LongType)
          .add("px_max", IntegerType)
          .add("px_min", IntegerType)
          .add("px_wsum", LongType)
        encoded
          .repartition(col("doc_id")) // the binary column ships for real
          .mapPartitions { rows =>
            val reader = javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
            rows.flatMap { r =>
              val id = r.getLong(0)
              val iis = javax.imageio.ImageIO.createImageInputStream(
                new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
              reader.setInput(iis)
              val img = reader.read(0)
              iis.close()
              val raster = img.getRaster
              val w = img.getWidth
              (0 until img.getHeight).iterator.map { y =>
                var x = 0; var sum = 0L; var mx = 0; var mn = 255; var ws = 0L
                while (x < w) {
                  val p = raster.getSample(x, y, 0)
                  sum += p
                  if (p > mx) mx = p
                  if (p < mn) mn = p
                  ws += p.toLong * (((x + 1).toLong * 2654435761L) % 1000000007L)
                  x += 1
                }
                Row(id, y, w, sum, mx, mn, ws)
              }
            }
          }(org.apache.spark.sql.Encoders.row(outSchema))
          .orderBy(col("doc_id"), col("frame_id"))
      },
      Some(s"""
        WITH g AS (SELECT doc_id, CAST(16 + doc_id % 17 AS INT) AS w FROM documents),
        fr AS (SELECT doc_id, w, unnest(generate_series(0, ${ImgH - 1})) AS y FROM g),
        px AS (SELECT doc_id, w, y,
                      list_transform(generate_series(0, w - 1),
                        x -> (doc_id * 31 + x * 7 + y * 13) % 256) AS ps,
                      list_transform(generate_series(0, w - 1),
                        x -> ((doc_id * 31 + x * 7 + y * 13) % 256)
                             * (((x + 1) * 2654435761) % 1000000007)) AS ws
               FROM fr)
        SELECT doc_id,
               CAST(y AS INT) AS frame_id,
               w AS frame_len,
               CAST(list_sum(ps) AS BIGINT) AS px_sum,
               CAST(list_max(ps) AS INT) AS px_max,
               CAST(list_min(ps) AS INT) AS px_min,
               CAST(list_sum(ws) AS BIGINT) AS px_wsum
        FROM px ORDER BY doc_id, frame_id""")
    ),

    // REAL audio decode/feature-extract: each doc's deterministic PCM
    // clip is WAV-encoded (javax.sound.sampled), the RIFF payload ships
    // as a binary column across an exchange, is decoded back through
    // AudioSystem (header parse + format negotiation), and per-window
    // energy/peak/trough over the decoded 16-bit samples hash-match an
    // oracle that regenerates the samples analytically.
    Q(
      "q80_audio_windows",
      (s, d) => {
        val src = Tables.documents(s, d).select(col("doc_id"))
        val binSchema = new StructType()
          .add("doc_id", LongType)
          .add("payload", BinaryType)
        val encoded = src.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            Row(id, encodeWav(id))
          }
        }(org.apache.spark.sql.Encoders.row(binSchema))
        val outSchema = new StructType()
          .add("doc_id", LongType)
          .add("window_id", IntegerType)
          .add("n_samples", IntegerType)
          .add("energy", LongType)
          .add("peak", IntegerType)
          .add("trough", IntegerType)
        encoded
          .repartition(col("doc_id"))
          .mapPartitions { rows =>
            rows.flatMap { r =>
              val id = r.getLong(0)
              val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
                new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
              val fmt = ais.getFormat
              require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 && !fmt.isBigEndian,
                s"unexpected decoded format: $fmt")
              val pcm = ais.readAllBytes()
              ais.close()
              val n = pcm.length / 2
              val nWin = math.min(MaxFrames, (n + FrameBytes - 1) / FrameBytes)
              (0 until nWin).iterator.map { w =>
                val off = w * FrameBytes
                val len = math.min(FrameBytes, n - off)
                var i = 0; var energy = 0L; var peak = -32768; var trough = 32767
                while (i < len) {
                  val t = off + i
                  val v = ((pcm(t * 2) & 0xff) | (pcm(t * 2 + 1) << 8)).toShort.toInt
                  energy += v.toLong * v
                  if (v > peak) peak = v
                  if (v < trough) trough = v
                  i += 1
                }
                Row(id, w, len, energy, peak, trough)
              }
            }
          }(org.apache.spark.sql.Encoders.row(outSchema))
          .orderBy(col("doc_id"), col("window_id"))
      },
      Some(s"""
        WITH g AS (SELECT doc_id, CAST(256 + doc_id % 91 AS INT) AS n FROM documents),
        w AS (SELECT doc_id, n,
                     unnest(generate_series(0,
                       least($MaxFrames, CAST(ceil(n / $FrameBytes.0) AS INT)) - 1)) AS win
              FROM g),
        sm AS (SELECT doc_id, win,
                      CAST(least($FrameBytes, n - win * $FrameBytes) AS INT) AS len,
                      list_transform(
                        generate_series(win * $FrameBytes,
                                        win * $FrameBytes + least($FrameBytes, n - win * $FrameBytes) - 1),
                        t -> (doc_id * 7919 + t * 104729) % 65536 - 32768) AS ss
               FROM w)
        SELECT doc_id,
               CAST(win AS INT) AS window_id,
               len AS n_samples,
               CAST(list_sum(list_transform(ss, v -> v * v)) AS BIGINT) AS energy,
               CAST(list_max(ss) AS INT) AS peak,
               CAST(list_min(ss) AS INT) AS trough
        FROM sm ORDER BY doc_id, window_id""")
    ),

    // stubbed resize/resample: deterministic 4:1 stride downsample of
    // the payload (every 4th byte), the media-resize slot of the
    // multimodal pipeline — a real image resize swaps the stride for a
    // codec scale call; the column shape (binary in, smaller binary +
    // fingerprint out, pure projection, no shuffle) is what matters.
    Q(
      "q83_resample",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            col("n_chars"),
            array_join(
              transform(
                sequence(lit(1), col("n_chars").cast(IntegerType), lit(4)),
                i => col("text").substr(i, lit(1))),
              "").as("small"))
          .select(
            col("doc_id"),
            col("n_chars"),
            length(col("small")).as("resized_chars"),
            md5(col("small")).as("resized_md5"))
          .orderBy(col("doc_id")),
      Some("""
        WITH r AS (
          SELECT doc_id, n_chars,
                 array_to_string(list_transform(
                   generate_series(1, CAST(n_chars AS INT), 4),
                   i -> substr(text, i, 1)), '') AS small
          FROM documents)
        SELECT doc_id, n_chars,
               CAST(len(small) AS INT) AS resized_chars,
               md5(small) AS resized_md5
        FROM r ORDER BY doc_id""")
    ),

    // per-image 64-bit perceptual hash (dHash) through the real PNG
    // encode→exchange→decode path, plus the 4×16-bit band slices —
    // the image twin of q48's SimHash row. Parity gates the codec AND
    // the exact-integer block comparisons.
    Q(
      "q201_image_dhash",
      (s, d) => imageDhash(s, d).orderBy(col("doc_id")),
      Some(s"""
        WITH $dhashChainSql
        SELECT doc_id, h0, h1, band0, band1, band2, band3
        FROM hb ORDER BY doc_id""")
    ),

    // banded image near-dup pairs: candidates meet ONLY inside a
    // (band_id, value) bucket (4 disjoint 16-bit bands — pigeonhole-
    // complete for Hamming <= 3, so the banded result EQUALS the
    // all-pairs result and stays oracle-gated); verification is an
    // exact popcount over the two hash halves. Buckets are md5-random
    // (~n/65536 docs each) and qualifying pairs live inside 4-doc base
    // blocks, so both the shuffle and the output grow LINEARLY with
    // the corpus.
    Q(
      "q202_image_neardup_pairs",
      (s, d) => {
        // consumed by both sides of the band self-join AND the two
        // final hash lookups — cache, or the codec pipeline runs 4x
        // (self-joins get no exchange reuse)
        val hd = imageDhash(s, d).cache()
        val bands = hd.select(
          col("doc_id"),
          explode(array(
            struct(lit(0).as("band_id"), col("band0").as("band")),
            struct(lit(1).as("band_id"), col("band1").as("band")),
            struct(lit(2).as("band_id"), col("band2").as("band")),
            struct(lit(3).as("band_id"), col("band3").as("band")))).as("bb"))
          .select(col("doc_id"), col("bb.band_id").as("band_id"), col("bb.band").as("band"))
        val cand = bands.as("a")
          .join(
            bands.as("b"),
            col("a.band_id") === col("b.band_id") && col("a.band") === col("b.band") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        cand
          .join(hd.as("ha"), col("doc_a") === col("ha.doc_id"))
          .join(hd.as("hc"), col("doc_b") === col("hc.doc_id"))
          .select(
            col("doc_a"), col("doc_b"),
            (bit_count(col("ha.h0").bitwiseXOR(col("hc.h0"))) +
              bit_count(col("ha.h1").bitwiseXOR(col("hc.h1")))).cast(IntegerType).as("hamming"))
          .filter(col("hamming") <= DhMaxHamming)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""
        WITH $dhashChainSql,
        cand AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM hb a JOIN hb b ON a.band0 = b.band0 AND a.doc_id < b.doc_id
          UNION
          SELECT a.doc_id, b.doc_id
          FROM hb a JOIN hb b ON a.band1 = b.band1 AND a.doc_id < b.doc_id
          UNION
          SELECT a.doc_id, b.doc_id
          FROM hb a JOIN hb b ON a.band2 = b.band2 AND a.doc_id < b.doc_id
          UNION
          SELECT a.doc_id, b.doc_id
          FROM hb a JOIN hb b ON a.band3 = b.band3 AND a.doc_id < b.doc_id),
        sc AS (SELECT cn.doc_a, cn.doc_b,
                      CAST(bit_count(xor(ha.h0, hc.h0)) + bit_count(xor(ha.h1, hc.h1)) AS INT) AS hamming
               FROM cand cn
               JOIN hb ha ON cn.doc_a = ha.doc_id
               JOIN hb hc ON cn.doc_b = hc.doc_id)
        SELECT doc_a, doc_b, hamming FROM sc
        WHERE hamming <= $DhMaxHamming
        ORDER BY doc_a, doc_b""")
    ),

    // incremental (ingestion-time) image near-dup — q202's delivery
    // twin, completing the incremental dedup family (exact q119,
    // text near-dup q130, spans q144, and now images): the ~10% delta
    // batch hashes through the codec and its band rows probe the
    // FROZEN standing hash index (IndexStore artifact; only the batch
    // ever pays the codec or shuffles at serve time — delta-linear,
    // vs q201's corpus-linear full hash). The oracle replays the
    // split: full analytic hash chain, pairs restricted to
    // delta × standing through the same band buckets.
    Q(
      "q206_incremental_image_neardup",
      (s, d) => incrementalImageNeardup(s, d),
      Some(s"""
        WITH $dhashChainSql,
        dl AS (SELECT doc_id FROM documents
               WHERE ${graft.functions.TextFns.Sql.h60("'d' || CAST(doc_id AS VARCHAR)")} % 10 = 0),
        nh AS MATERIALIZED (SELECT hb.* FROM hb JOIN dl ON hb.doc_id = dl.doc_id),
        xh AS MATERIALIZED (SELECT hb.* FROM hb ANTI JOIN dl ON hb.doc_id = dl.doc_id),
        icand AS (
          SELECT n.doc_id AS new_doc, x.doc_id AS dup_of
          FROM nh n JOIN xh x ON n.band0 = x.band0
          UNION
          SELECT n.doc_id, x.doc_id FROM nh n JOIN xh x ON n.band1 = x.band1
          UNION
          SELECT n.doc_id, x.doc_id FROM nh n JOIN xh x ON n.band2 = x.band2
          UNION
          SELECT n.doc_id, x.doc_id FROM nh n JOIN xh x ON n.band3 = x.band3),
        isc AS (SELECT cn.new_doc, cn.dup_of,
                       CAST(bit_count(xor(ha.h0, hc.h0)) + bit_count(xor(ha.h1, hc.h1)) AS INT) AS hamming
                FROM icand cn
                JOIN nh ha ON cn.new_doc = ha.doc_id
                JOIN xh hc ON cn.dup_of = hc.doc_id)
        SELECT new_doc, dup_of, hamming FROM isc
        WHERE hamming <= $DhMaxHamming
        ORDER BY new_doc, dup_of""")
    ),

    // per-clip 64-bit perceptual audio fingerprint through the real
    // WAV encode→exchange→decode path, plus the 4×16-bit band slices —
    // the audio twin of q201. Parity gates the codec AND the
    // exact-integer block-energy comparisons.
    Q(
      "q204_audio_fingerprint",
      (s, d) => audioFingerprint(s, d).orderBy(col("doc_id")),
      Some(s"""
        WITH $afpChainSql
        SELECT doc_id, h0, h1, band0, band1, band2, band3
        FROM ahb ORDER BY doc_id""")
    ),

    // banded audio near-dup pairs: candidates meet ONLY inside a
    // (band_id, value) bucket (4 disjoint 16-bit bands — pigeonhole-
    // complete for Hamming <= 3, so banded EQUALS all-pairs and stays
    // oracle-gated); verification is an exact popcount. Buckets are
    // md5-random (~n/65536 docs each) and qualifying pairs live inside
    // 4-doc base blocks, so shuffle and output grow LINEARLY.
    Q(
      "q205_audio_neardup_pairs",
      (s, d) => {
        // consumed by both sides of the band self-join AND the two
        // final hash lookups — cache, or the codec pipeline runs 4x
        val hd = audioFingerprint(s, d).cache()
        val bands = hd.select(
          col("doc_id"),
          explode(array(
            struct(lit(0).as("band_id"), col("band0").as("band")),
            struct(lit(1).as("band_id"), col("band1").as("band")),
            struct(lit(2).as("band_id"), col("band2").as("band")),
            struct(lit(3).as("band_id"), col("band3").as("band")))).as("bb"))
          .select(col("doc_id"), col("bb.band_id").as("band_id"), col("bb.band").as("band"))
        val cand = bands.as("a")
          .join(
            bands.as("b"),
            col("a.band_id") === col("b.band_id") && col("a.band") === col("b.band") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        cand
          .join(hd.as("ha"), col("doc_a") === col("ha.doc_id"))
          .join(hd.as("hc"), col("doc_b") === col("hc.doc_id"))
          .select(
            col("doc_a"), col("doc_b"),
            (bit_count(col("ha.h0").bitwiseXOR(col("hc.h0"))) +
              bit_count(col("ha.h1").bitwiseXOR(col("hc.h1")))).cast(IntegerType).as("hamming"))
          .filter(col("hamming") <= AuMaxHamming)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""
        WITH $afpChainSql,
        acand AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM ahb a JOIN ahb b ON a.band0 = b.band0 AND a.doc_id < b.doc_id
          UNION
          SELECT a.doc_id, b.doc_id
          FROM ahb a JOIN ahb b ON a.band1 = b.band1 AND a.doc_id < b.doc_id
          UNION
          SELECT a.doc_id, b.doc_id
          FROM ahb a JOIN ahb b ON a.band2 = b.band2 AND a.doc_id < b.doc_id
          UNION
          SELECT a.doc_id, b.doc_id
          FROM ahb a JOIN ahb b ON a.band3 = b.band3 AND a.doc_id < b.doc_id),
        asc2 AS (SELECT cn.doc_a, cn.doc_b,
                        CAST(bit_count(xor(ha.h0, hc.h0)) + bit_count(xor(ha.h1, hc.h1)) AS INT) AS hamming
                 FROM acand cn
                 JOIN ahb ha ON cn.doc_a = ha.doc_id
                 JOIN ahb hc ON cn.doc_b = hc.doc_id)
        SELECT doc_a, doc_b, hamming FROM asc2
        WHERE hamming <= $AuMaxHamming
        ORDER BY doc_a, doc_b""")
    )
  )
}
