package graft.multimodal

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.5 multimodal columns: media payloads travel as opaque `binary`
  * columns with typed metadata alongside; decode / feature-extract
  * runs per-partition so a real decoder (image/audio lib) would be
  * loaded once per executor, not per row.
  *
  * Pixel decode is REAL (since r16): [[ImageIODecoder]] uses the
  * JDK's `javax.imageio` codecs (PNG/JPEG/GIF/BMP) and falls back to
  * a deterministic 64-bin byte histogram for non-image payloads so
  * the seam stays total; [[PngCodec]]/[[WavCodec]] run actual
  * encode→decode round trips under the DuckDB hash gate (mm08/mm09).
  */
object Multimodal {
  type Q = (SparkSession, String) => DataFrame

  /** Decode contract: binary payload -> fixed-shape float feature. */
  trait MediaDecoder extends Serializable {
    def featureDim: Int
    def decode(bytes: Array[Byte]): Array[Float]
  }

  /** Pure-JVM media-header parsing: container format and pixel
    * dimensions straight from magic bytes for PNG / GIF / BMP / JPEG
    * — a cheap sniff that never touches a codec, for rows where only
    * the metadata is wanted. Full pixel decode is [[ImageIODecoder]].
    */
  object ImageHeader {
    case class Meta(format: String, width: Int, height: Int)

    private def be32(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    private def le16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private def be16(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
    private def le32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

    def parse(b: Array[Byte]): Option[Meta] = {
      if (b.length >= 24 && b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
        Some(Meta("png", be32(b, 16), be32(b, 20)))
      else if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F')
        Some(Meta("gif", le16(b, 6), le16(b, 8)))
      else if (b.length >= 26 && b(0) == 'B' && b(1) == 'M')
        // biHeight < 0 means TOP-DOWN row order per the BMP spec; the
        // pixel height is its magnitude either way
        Some(Meta("bmp", le32(b, 18), math.abs(le32(b, 22))))
      else if (b.length >= 4 && b(0) == 0xff.toByte && b(1) == 0xd8.toByte) {
        // JPEG: walk segments to the first SOFn frame header. Markers
        // may be preceded by any number of 0xFF FILL bytes (spec-legal
        // padding — treating one as a segment start read garbage as
        // the length and mis-walked valid files), and the standalone
        // markers (TEM, RST0-7, SOI/EOI) carry NO length field.
        var i = 2
        while (i + 1 < b.length) {
          if (b(i) != 0xff.toByte) return None
          var j = i + 1
          while (j < b.length && b(j) == 0xff.toByte) j += 1 // fill bytes
          if (j >= b.length) return None
          val marker = b(j) & 0xff
          if (marker >= 0xc0 && marker <= 0xcf &&
              marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
            if (j + 8 >= b.length) return None
            return Some(Meta("jpeg", be16(b, j + 6), be16(b, j + 4)))
          }
          if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd9))
            i = j + 1 // standalone marker: no length field
          else {
            if (j + 2 >= b.length) return None
            i = j + 1 + be16(b, j + 1)
          }
        }
        None
      } else None
    }
  }

  /** REAL image decode over the JDK's built-in `javax.imageio` codecs
    * (PNG / JPEG / GIF / BMP — no external libs): payload → decoded
    * raster → 8×8 average-pooled luma grid. This replaces the r1–r15
    * "stand-in decoder" posture for every format ImageIO ships; bytes
    * that are NOT a decodable image (e.g. the text corpus payloads)
    * fall back to a deterministic 64-bin byte histogram so the seam
    * stays total. Single-band rasters read raw samples (exact — no
    * color-space pass); multi-band goes through sRGB + integer
    * BT.601 luma ((299r+587g+114b)/1000), both deterministic.
    */
  object ImageIODecoder extends MediaDecoder {
    val featureDim = 64 // 8×8 pooled grid (also the aHash frame)

    // executors must not write ImageIO's disk cache under /tmp
    private lazy val init: Unit = javax.imageio.ImageIO.setUseCache(false)

    /** Decoded 8×8 average-pooled luma (0..255 ints, row-major), or
      * None when the payload is not a decodable image. Integer
      * sums/counts — same exactness discipline as mm05.
      */
    def lumaGrid(bytes: Array[Byte]): Option[Array[Int]] = {
      init
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case _: Exception => null }
      if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
      else {
        val w = img.getWidth; val h = img.getHeight
        val raster = img.getRaster
        // the raw-sample fast path is only sound for true GRAYSCALE
        // single-band rasters: an indexed image (GIF, palette PNG/BMP)
        // is also one band but its samples are PALETTE INDICES, not
        // brightness — those must resolve through the color model
        // (getRGB) like any multi-band image. Gray samples scale to
        // the documented 0..255 grid on both sides of 8 bits: >8-bit
        // (16-bit gray PNG) truncating right shift, <8-bit (1/2/4-bit
        // B/W) exact integer expansion v*255/(2^bits−1).
        val gray = raster.getNumBands == 1 &&
          !img.getColorModel.isInstanceOf[java.awt.image.IndexColorModel]
        val grayBits = if (gray) raster.getSampleModel.getSampleSize(0) else 8
        // multi-band/indexed path: ONE bulk getRGB per row — the
        // per-pixel call paid a ColorModel conversion and bounds check
        // per pixel on exactly the per-partition hot seam this decoder
        // exists for (r20 review find); the bulk form converts the row
        // in one pass with identical sRGB results
        val rowBuf = if (gray) null else new Array[Int](w)
        val sums = new Array[Long](64); val cnts = new Array[Long](64)
        var y = 0
        while (y < h) {
          val rr = (y * 8) / h
          if (!gray) img.getRGB(0, y, w, 1, rowBuf, 0, w)
          var x = 0
          while (x < w) {
            val luma =
              if (gray) {
                val v = raster.getSample(x, y, 0)
                if (grayBits > 8) v >> (grayBits - 8)
                else if (grayBits < 8) v * 255 / ((1 << grayBits) - 1)
                else v
              } else {
                val rgb = rowBuf(x)
                (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                  (rgb & 0xff) * 114) / 1000
              }
            val c = rr * 8 + (x * 8) / w
            sums(c) += luma; cnts(c) += 1
            x += 1
          }
          y += 1
        }
        Some(Array.tabulate(64)(i =>
          if (cnts(i) == 0) 0 else (sums(i) / cnts(i)).toInt))
      }
    }

    /** The feature plus its exact L2 norm, the norm computed in the
      * INTEGER domain so it is bit-reproducible by a SQL oracle:
      * image branch ‖g/255‖₂ = √(Σg²)/255 over the decoded luma
      * grid; fallback branch ‖c/n‖₂ = √(Σc²)/n over the 64 byte-bin
      * counts. A float-accumulated norm of the emitted array would
      * drift below mm02's 4-decimal rounding.
      */
    def decodeWithNorm(bytes: Array[Byte]): (Array[Float], Double) =
      lumaGrid(bytes) match {
        case Some(g) =>
          var ss = 0L; var i = 0
          while (i < 64) { ss += g(i).toLong * g(i); i += 1 }
          (g.map(_ / 255f), math.sqrt(ss.toDouble) / 255.0)
        case None => // non-image payload: 64-bin byte histogram, L1-normalized
          val counts = new Array[Long](featureDim)
          var i = 0
          while (i < bytes.length) { counts((bytes(i) & 0xff) >> 2) += 1; i += 1 }
          val n = math.max(bytes.length, 1)
          val h = new Array[Float](featureDim)
          var ss = 0L
          var j = 0
          while (j < featureDim) {
            h(j) = counts(j) / n.toFloat; ss += counts(j) * counts(j); j += 1
          }
          (h, math.sqrt(ss.toDouble) / n)
      }

    def decode(bytes: Array[Byte]): Array[Float] = decodeWithNorm(bytes)._1
  }

  /** Grayscale PNG encode/decode over `javax.imageio` — the lossless
    * codec pair mm08 runs end-to-end under the DuckDB oracle (PNG is
    * lossless and 8-bit gray rasters round-trip bit-exactly, so the
    * oracle can recompute the decoded stats from the closed-form
    * pixel function).
    */
  object PngCodec {
    private lazy val init: Unit = javax.imageio.ImageIO.setUseCache(false)

    def encodeGray(w: Int, h: Int, px: (Int, Int) => Int): Array[Byte] = {
      init
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { raster.setSample(x, y, 0, px(x, y) & 0xff); x += 1 }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, "png", out), "no PNG writer")
      out.toByteArray
    }

    /** (width, height, row-major samples) from a single-band image. */
    def decodeGray(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] = {
      init
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case _: Exception => null }
      if (img == null || img.getRaster.getNumBands != 1) None
      else {
        val w = img.getWidth; val h = img.getHeight
        val px = new Array[Int](w * h)
        img.getRaster.getSamples(0, 0, w, h, 0, px)
        Some((w, h, px))
      }
    }
  }

  /** 16-bit PCM WAV encode/decode over the JDK's `javax.sound.sampled`
    * — the audio codec pair mm09 runs end-to-end under the oracle
    * (PCM in a WAV container is lossless).
    */
  object WavCodec {
    private val RATE = 8000f

    def encodePcm16(samples: Array[Short]): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        RATE, 16, 1, 2, RATE, false) // mono, little-endian
      val raw = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        raw(2 * i) = (samples(i) & 0xff).toByte
        raw(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
        i += 1
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, samples.length.toLong)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }

    def decodePcm16(bytes: Array[Byte]): Option[Array[Short]] = {
      val ais =
        try javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        catch { case _: Exception => return None }
      try {
        val fmt = ais.getFormat
        // encoding matters, not just the frame shape: 16-bit mono
        // PCM_UNSIGNED (or a-law/µ-law that happens to report 16-bit)
        // byte-reassembled as signed PCM would be silently wrong
        if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) None
        else {
          val raw = ais.readAllBytes()
          val n = raw.length / 2
          val out = new Array[Short](n)
          var i = 0
          while (i < n) {
            out(i) =
              if (fmt.isBigEndian)
                (((raw(2 * i) & 0xff) << 8) | (raw(2 * i + 1) & 0xff)).toShort
              else
                (((raw(2 * i + 1) & 0xff) << 8) | (raw(2 * i) & 0xff)).toShort
            i += 1
          }
          Some(out)
        }
      } finally ais.close()
    }
  }

  // --- mm01: binary payload + typed metadata (oracle-checkable) ---
  val mm01_binary_meta: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(col("doc_id"),
        octet_length(col("payload")).cast("long").as("byte_len"),
        sha2(col("payload"), 256).as("sha"))
      .orderBy("doc_id")

  // --- mm02: per-partition decode -> feature vectors ---
  // The decoder is REAL since r16 ([[ImageIODecoder]] — javax.imageio
  // pixel decode for PNG/JPEG/GIF/BMP, deterministic histogram
  // fallback for non-image payloads; the key keeps its historical
  // "_stub" name for driver-contract stability). Oracle-checked: the
  // emitted scalar columns (byte length, sniffed format, feature L2)
  // are all reproducible in SQL over the same payload. feat_l2 IS
  // ‖feature‖₂ of the emitted vector, computed in the integer domain
  // (decodeWithNorm: √(Σg²)/255 on the decoded luma grid, √(Σc²)/n
  // on the 64 byte-bin counts for non-image payloads) so both
  // engines agree bit-for-bit; the oracle models the fallback branch,
  // which is every row of this text corpus (ImageIO cannot decode
  // ASCII payloads), and the image branch is MediaCodecSpec-covered.
  val mm02_decode_stub: Q = (s, d) => {
    val spark = s
    val src = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_bytes", LongType),
      StructField("format", StringType),
      StructField("feature", ArrayType(FloatType)),
      StructField("feat_l2", DoubleType)))
    val rdd = src.rdd.mapPartitions { rows =>
      // decoder init happens once per partition (ImageIO registry +
      // setUseCache(false) on first use)
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        // real header sniffing; pixel decode + exact feature norm
        val fmt = ImageHeader.parse(bytes).map(_.format).getOrElse("opaque")
        val (f, l2) = ImageIODecoder.decodeWithNorm(bytes)
        Row(id, bytes.length.toLong, fmt, f.toSeq, math.round(l2 * 10000) / 10000.0)
      }
    }
    spark.createDataFrame(rdd, outSchema)
      .select(col("doc_id"), col("n_bytes"), col("format"), col("feat_l2"),
        size(col("feature")).cast("long").as("feat_dim"))
      .orderBy("doc_id")
  }

  // --- mm03: frame sampling plumbing (video/audio pattern) ---
  // Every payload is treated as a media container with a fixed
  // "frame" stride; emit every frame's (index, byte offset, window
  // length) descriptor — the row explosion a real frame-sampler
  // produces, with the actual decode behind the MediaDecoder seam.
  // One narrow explode, no shuffle: the 100 TB shape for per-frame
  // feature extraction.
  val mm03_frame_sample: Q = (s, d) => {
    val stride = 64
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(col("doc_id"), octet_length(col("payload")).as("len"))
      // an EMPTY payload has no frames: the old greatest(..., 0) clamp
      // emitted a phantom frame-0 descriptor (byte_off 0, window 64)
      // for zero bytes — a downstream frame reader would seek into
      // nothing (r20 review find; mm05/mm06 already skip len == 0)
      .filter(col("len") > 0)
      .select(col("doc_id"),
        posexplode(expr(s"sequence(0, greatest(cast(len / $stride as int) - 1, 0))")))
      .toDF("doc_id", "frame_idx", "frame_no")
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        (col("frame_idx") * stride).cast("long").as("byte_off"),
        lit(stride.toLong).as("window_len"))
      .orderBy("doc_id", "frame_idx")
  }

  /** The classic 64-bit average-hash over an 8×8 luma grid: bit set
    * where the cell clears the grid mean. [[phash64]] feeds it REAL
    * decoded pixels (ImageIODecoder) when the payload is an image.
    */
  def aHash64FromGrid(g: Array[Int]): Long = {
    var sum = 0L
    var j = 0
    while (j < 64) { sum += g(j); j += 1 }
    val mean = sum / 64.0
    var h = 0L
    j = 0
    while (j < 64) {
      if (g(j) >= mean) h |= (1L << (63 - j))
      j += 1
    }
    h
  }

  /** Perceptual hash of a media payload: decodable images hash their
    * REAL 8×8 average-pooled luma grid (the textbook aHash, via the
    * JDK codecs); non-image payloads hash 64 evenly-spaced raw bytes
    * under the same mean-threshold contract, so the op is total over
    * a mixed binary column.
    */
  def phash64(bytes: Array[Byte]): Long =
    ImageIODecoder.lumaGrid(bytes) match {
      case Some(g) => aHash64FromGrid(g)
      case None    => aHash64(bytes)
    }

  /** aHash-style 64-bit hash of RAW payload bytes: 64 evenly-spaced
    * samples, bit set where the sample clears the mean — the
    * non-image fallback of [[phash64]]. Empty payload hashes to 0.
    */
  def aHash64(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val v = new Array[Int](64)
    var j = 0
    var sum = 0L
    while (j < 64) {
      v(j) = bytes(((j.toLong * n) / 64).toInt) & 0xff
      sum += v(j)
      j += 1
    }
    val mean = sum / 64.0
    var h = 0L
    j = 0
    while (j < 64) {
      if (v(j) >= mean) h |= (1L << (63 - j))
      j += 1
    }
    h
  }

  /** The shipped near-pair plan: the band-bucket EQUI-JOIN. Unlike
    * dd02's posting-explode (whose chunk² pairs land in one
    * unsplittable ROW, forcing a chunk-spread), a join key's
    * skew is runtime-splittable — AQE's OptimizeSkewedJoin spreads a
    * hot band's quadratic output across tasks by splitting the
    * oversized partition and replicating the matching side. Measured
    * against a posting-list chunk-spread form (PLANS.md R17, the
    * mm04 hot-band record: 2M sigs, 8192-doc hot band, local[32]):
    * join 44 s (AQE) / 38 s (off) vs 84 s chunked — the posting
    * groupBy+repartition costs more than it saves at local scale,
    * where the verify-shuffle dominates (the local numbers bound
    * overhead; the one-task pinning they can't exhibit is what AQE's
    * split addresses on a cluster). A truly degenerate corpus
    * (millions of IDENTICAL sigs) breaks the pair CONTRACT itself —
    * the clique is quadratic no matter the plan; collapse hamming-0
    * groups to representatives first (exact groupBy on sig, dd01
    * style) and band only representatives.
    */
  def hammingPairs(sig: DataFrame, maxHamming: Int): DataFrame = {
    val bands = sig.toDF("doc_id", "sig")
      .select(col("doc_id"), col("sig"),
        posexplode(expr("transform(sequence(0, 3), b -> (sig >> (b * 16)) & 65535L)")))
      .toDF("doc_id", "sig", "band", "bh")
    bands.toDF("id1", "sig1", "band", "bh")
      .join(bands.toDF("id2", "sig2", "band2", "bh2"),
        col("band") === col("band2") && col("bh") === col("bh2") &&
          col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        expr("bit_count(sig1 ^ sig2)").cast("long").as("hamming"))
      // filter BEFORE distinct: hamming is a function of the pair, so
      // the order is result-identical, but band collisions far
      // outnumber verified near-pairs — dedup only the survivors
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Collapse hamming-0 groups (byte-identical sigs) to one
    * representative each: `(reps, edges)` where `reps` is
    * (doc_id, sig) with one row per DISTINCT sig (the group's min
    * doc_id) and `edges` is (rep, member) for every collapsed
    * non-representative. Both sides are flat frames built from one
    * sig-keyed aggregate + one sig-keyed equi-join — no per-group
    * array ever materializes, so a million-member group costs a
    * million ROWS, never a million-element value.
    */
  def collapseIdenticalSigs(sig: DataFrame): (DataFrame, DataFrame) = {
    val s2 = sig.toDF("doc_id", "sig")
    val reps = s2.groupBy("sig").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "sig")
    val edges = s2.join(reps.select(col("sig"), col("doc_id").as("rep")), Seq("sig"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep"), col("doc_id").as("member"))
    (reps, edges)
  }

  /** [[hammingPairs]] with the representative-collapse pre-pass — the
    * OPT-IN remedy for the corpus that breaks the pair contract
    * itself: with millions of byte-identical sigs (an all-black-frame
    * crawl), the hamming-0 clique is quadratic no matter how the join
    * is planned, so the fix is to stop ENUMERATING it. Identical sigs
    * collapse to one representative before banding (pair volume drops
    * from Σ|group|² to Σ over distinct sigs) and the collapse comes
    * back as (rep, member) edges: a pair consumer expands lazily —
    * members inherit every rep-pair of their representative, and
    * intra-group pairs are hamming 0 by construction (dd06-style
    * cluster consumers need no expansion at all: union the edges with
    * the rep-pairs and the connected components are identical to the
    * full enumeration's). Shipped mm04 keeps the direct form: on a
    * non-degenerate corpus the collapse's extra shuffle+join buys
    * nothing (probe `mm04hot` measures the direct forms).
    */
  def hammingPairsCollapsed(sig: DataFrame,
                            maxHamming: Int): (DataFrame, DataFrame) = {
    val (reps, edges) = collapseIdenticalSigs(sig)
    (hammingPairs(reps, maxHamming), edges)
  }

  // --- mm04: image near-dup via perceptual hash — the multimodal
  // dedup pass of a training pipeline. Hashing runs inside the same
  // per-partition decode seam as mm02, and since r16 it IS the real
  // aHash: decodable payloads hash their ImageIO-decoded 8×8 luma
  // grid (spec'd on real PNGs), non-image payloads the raw-byte
  // fallback; pair generation is banded, so the
  // whole op is one narrow hash pass + one bucket-keyed equi-join.
  // APPROXIMATE by the banding, like dd04/dd05: 4×16-bit bands
  // GUARANTEE a collision only for hamming ≤ 3 (pigeonhole — 4+ bits
  // CAN spread one per band and miss), so candidates ⊆ true pairs ≤
  // maxHamming and the exact-hamming verify removes false positives
  // only; never invents pairs. Raising recall toward the hamming-10
  // filter bound means more/narrower bands (the LSH dial), paid in
  // candidate volume — the standard trade, chosen like dd05's.
  // Rows-only: the hash family is engine-defined (like dd05's
  // simhash), not ANSI-SQL-expressible without 64-bit unsigned
  // gymnastics; specs pin hash determinism, banding recall, and the
  // exact-hamming verify.
  val mm04_phash_neardup: Q = (s, d) => {
    val spark = s
    val src = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("sig", LongType)))
    val rdd = src.rdd.mapPartitions { rows =>
      // decoder/hasher init once per partition, as in mm02
      rows.map(r => Row(r.getLong(0), phash64(r.getAs[Array[Byte]](1))))
    }
    hammingPairs(spark.createDataFrame(rdd, schema), maxHamming = 10)
      .orderBy("id1", "id2")
  }

  // --- mm05: resize (average-pool) inside the decode seam — the
  // missing quarter of decode / feature-extract / resize /
  // frame-sample. The payload is treated as a w×h luma grid (w =
  // ceil(√len), the stand-in for the decoded plane; a real build
  // pools the decoder's output buffer here instead) and average-
  // pooled to a fixed 8×8 grid with INTEGER cell sums/counts — so
  // every cell mean is a ratio of integers and the DuckDB oracle
  // reproduces the full resized grid bit-for-bit (64 rows per doc).
  // Same per-partition discipline as mm02: one decoder/buffer per
  // task, narrow scan in, no shuffle — at 100 TB this is a pure map
  // over the media column.
  val mm05_resize: Q = (s, d) => {
    val spark = s
    val out = 8
    val src = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("r", LongType),
      StructField("c", LongType),
      StructField("n_px", LongType),
      StructField("px_mean", DoubleType)))
    val rdd = src.rdd.mapPartitions { rows =>
      val sums = Array.ofDim[Long](out, out)
      val cnts = Array.ofDim[Long](out, out)
      rows.flatMap { row =>
        val id = row.getLong(0)
        val b = row.getAs[Array[Byte]](1)
        val len = b.length
        if (len == 0) Iterator.empty
        else {
          var r = 0
          while (r < out) {
            java.util.Arrays.fill(sums(r), 0L)
            java.util.Arrays.fill(cnts(r), 0L)
            r += 1
          }
          val w = math.ceil(math.sqrt(len.toDouble)).toInt
          val h = (len + w - 1) / w
          var i = 0
          while (i < len) {
            val rr = ((i / w) * out) / h
            val cc = ((i % w) * out) / w
            sums(rr)(cc) += (b(i) & 0xff)
            cnts(rr)(cc) += 1
            i += 1
          }
          for (rr <- 0 until out; cc <- 0 until out if cnts(rr)(cc) > 0)
            yield Row(id, rr.toLong, cc.toLong, cnts(rr)(cc),
              math.round(sums(rr)(cc).toDouble / cnts(rr)(cc) * 10000) / 10000.0)
        }
      }
    }
    spark.createDataFrame(rdd, schema).orderBy("doc_id", "r", "c")
  }

  // --- mm06: windowed audio-energy contour inside the decode seam —
  // the audio-modality counterpart of mm05's image resize (the
  // triple the brief names: image/audio/video; mm04/mm05 are the
  // image rows, mm03 the video frame-sampler, this the audio one).
  // The payload is treated as fixed-rate 8-bit PCM; per 64-sample
  // window the energy is the INTEGER sum of squares (a real build
  // swaps the byte read for the codec's PCM plane — the windowing,
  // thresholding and aggregation are unchanged), rolled up per doc:
  // window count, low-energy (silence-detect) count, peak and total
  // energy. All-integer outputs keep the DuckDB oracle hash-exact.
  // Same per-partition discipline as mm02: no per-row allocation,
  // narrow scan in / one row per doc out, no shuffle.
  val mm06_audio_energy: Q = (s, d) => {
    val spark = s
    val win = 64
    val lowMeanSq = 10000L // mean-square silence threshold (amplitude ~100)
    val src = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_windows", LongType),
      StructField("n_low", LongType),
      StructField("peak_ss", LongType),
      StructField("total_ss", LongType)))
    val rdd = src.rdd.mapPartitions { rows =>
      rows.flatMap { row =>
        val id = row.getLong(0)
        val b = row.getAs[Array[Byte]](1)
        // a zero-length payload has no windows — skip the doc entirely
        // (mm05's len==0 discipline; the oracle's GROUP BY emits no
        // row for it, and a (0,0,0,0) row here would diverge)
        if (b.length == 0) Iterator.empty
        else {
          var off = 0
          var nWin = 0L
          var nLow = 0L
          var peak = 0L
          var total = 0L
          while (off < b.length) {
            val end = math.min(off + win, b.length)
            var ss = 0L
            var i = off
            while (i < end) { val v = (b(i) & 0xff).toLong; ss += v * v; i += 1 }
            nWin += 1
            if (ss < lowMeanSq * (end - off)) nLow += 1
            if (ss > peak) peak = ss
            total += ss
            off = end
          }
          Iterator.single(Row(id, nWin, nLow, peak, total))
        }
      }
    }
    spark.createDataFrame(rdd, schema).orderBy("doc_id")
  }

  /** mm07: shot-boundary detection — the video-analysis row beside
    * mm03's frame sampler (mm03 says WHERE frames are; mm07 says
    * where SCENES change). The payload is read as consecutive
    * 64-byte frames (stand-ins for decoded luma planes — a real
    * build swaps in the codec's frames, everything downstream
    * unchanged); a cut is a frame pair whose sum-of-absolute-
    * differences exceeds the threshold. Integer SADs keep the oracle
    * hash-exact; per-partition seam, narrow scan, no shuffle.
    */
  val mm07_shot_bounds: Q = (s, d) => {
    val spark = s
    val frame = 64
    val cutSad = 2000L // ~mean abs diff 31/byte on this corpus (measured)
    val src = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_frames", LongType),
      StructField("n_cuts", LongType),
      StructField("max_sad", LongType),
      StructField("first_cut", LongType)))
    val rdd = src.rdd.mapPartitions { rows =>
      rows.map { row =>
        val id = row.getLong(0)
        val b = row.getAs[Array[Byte]](1)
        val nf = b.length / frame
        var f = 0
        var cuts = 0L
        var maxSad = -1L
        var firstCut = -1L
        while (f < nf - 1) {
          var sad = 0L
          var i = 0
          while (i < frame) {
            val x = (b(f * frame + i) & 0xff) - (b((f + 1) * frame + i) & 0xff)
            sad += math.abs(x)
            i += 1
          }
          if (sad > maxSad) maxSad = sad
          if (sad > cutSad) {
            cuts += 1
            if (firstCut < 0) firstCut = f + 1L
          }
          f += 1
        }
        Row(id, nf.toLong, cuts, maxSad, firstCut)
      }
    }
    spark.createDataFrame(rdd, schema).orderBy("doc_id")
  }

  // --- mm08: REAL image codec round trip under the DuckDB oracle ---
  // Each doc derives a closed-form grayscale image (pixel i of doc k
  // is (k·31 + i·13) mod 256), encodes it to an actual PNG through
  // javax.imageio, DECODES those bytes back through the same real
  // codec, and emits stats computed from the DECODED raster. The
  // oracle recomputes the stats from the closed form — so the hash
  // gate passes iff the real encode→decode path is bit-faithful
  // (PNG gray-8 is lossless). `format` comes from ImageHeader.parse
  // over the REAL container bytes — the magic-byte sniffer finally
  // sees a genuine PNG header in the oracle-gated path. Pure map,
  // one row in/out, codec context per partition: the 100 TB shape.
  val mm08_image_codec: Q = (s, d) => {
    val spark = s
    val src = Tables.documents(s, d).select(col("doc_id"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("format", StringType),
      StructField("width", LongType),
      StructField("height", LongType),
      StructField("px_sum", LongType),
      StructField("px_sq_sum", LongType)))
    val rdd = src.rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val w = (8 + id % 9).toInt
        val h = (8 + id % 7).toInt
        val png = PngCodec.encodeGray(w, h,
          (x, y) => ((id * 31 + (y.toLong * w + x) * 13) % 256).toInt)
        val fmt = ImageHeader.parse(png).map(_.format).getOrElse("opaque")
        val (dw, dh, px) = PngCodec.decodeGray(png).getOrElse(
          throw new IllegalStateException(s"PNG round trip failed for doc $id"))
        var sum = 0L; var sq = 0L
        var i = 0
        while (i < px.length) { sum += px(i); sq += px(i).toLong * px(i); i += 1 }
        Row(id, fmt, dw.toLong, dh.toLong, sum, sq)
      }
    }
    spark.createDataFrame(rdd, schema).orderBy("doc_id")
  }

  // --- mm09: REAL audio codec round trip under the DuckDB oracle ---
  // Same discipline on the audio column: closed-form 16-bit PCM
  // samples (sample i of doc k is (k·7919 + i·104729) mod 65536 −
  // 32768), encoded into an actual WAV container via
  // javax.sound.sampled, decoded back through AudioSystem, stats
  // from the DECODED samples vs the oracle's closed form.
  val mm09_wav_codec: Q = (s, d) => {
    val spark = s
    val src = Tables.documents(s, d).select(col("doc_id"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_samples", LongType),
      StructField("sum_abs", LongType),
      StructField("peak_abs", LongType),
      StructField("sum_sq", LongType)))
    val rdd = src.rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val n = (64 + id % 97).toInt
        val samples = Array.tabulate(n)(i =>
          ((id * 7919 + i.toLong * 104729) % 65536 - 32768).toShort)
        val wav = WavCodec.encodePcm16(samples)
        val dec = WavCodec.decodePcm16(wav).getOrElse(
          throw new IllegalStateException(s"WAV round trip failed for doc $id"))
        var sumAbs = 0L; var peak = 0L; var sq = 0L
        var i = 0
        while (i < dec.length) {
          val a = math.abs(dec(i).toLong)
          sumAbs += a; if (a > peak) peak = a; sq += a * a
          i += 1
        }
        Row(id, dec.length.toLong, sumAbs, peak, sq)
      }
    }
    spark.createDataFrame(rdd, schema).orderBy("doc_id")
  }

  val registry: Map[String, Q] = Map(
    "mm01_binary_meta" -> mm01_binary_meta,
    "mm02_decode_stub" -> mm02_decode_stub,
    "mm03_frame_sample" -> mm03_frame_sample,
    "mm04_phash_neardup" -> mm04_phash_neardup,
    "mm05_resize" -> mm05_resize,
    "mm06_audio_energy" -> mm06_audio_energy,
    "mm07_shot_bounds" -> mm07_shot_bounds,
    "mm08_image_codec" -> mm08_image_codec,
    "mm09_wav_codec" -> mm09_wav_codec)

  val oracles: Map[String, String] = Map(
    // mm08: the oracle recomputes the DECODED-raster stats from the
    // closed-form pixel function — a hash match proves the real PNG
    // encode→decode pair is bit-faithful
    "mm08_image_codec" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |           FROM documents),
        |px AS (SELECT doc_id, (doc_id * 31 + i * 13) % 256 AS v
        |       FROM (SELECT doc_id, unnest(generate_series(0, w * h - 1)) AS i
        |             FROM d))
        |SELECT d.doc_id, 'png' AS format,
        |  CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
        |  CAST(sum(px.v) AS BIGINT) AS px_sum,
        |  CAST(sum(px.v * px.v) AS BIGINT) AS px_sq_sum
        |FROM d JOIN px USING (doc_id)
        |GROUP BY d.doc_id, d.w, d.h ORDER BY d.doc_id""".stripMargin,
    // mm09: same for the WAV/PCM pair (16-bit PCM is lossless)
    "mm09_wav_codec" ->
      """WITH d AS (SELECT doc_id, 64 + doc_id % 97 AS n FROM documents),
        |s AS (SELECT doc_id, (doc_id * 7919 + i * 104729) % 65536 - 32768 AS v
        |      FROM (SELECT doc_id, unnest(generate_series(0, n - 1)) AS i
        |            FROM d))
        |SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_samples,
        |  CAST(sum(abs(s.v)) AS BIGINT) AS sum_abs,
        |  CAST(max(abs(s.v)) AS BIGINT) AS peak_abs,
        |  CAST(sum(s.v * s.v) AS BIGINT) AS sum_sq
        |FROM d JOIN s USING (doc_id)
        |GROUP BY d.doc_id, d.n ORDER BY d.doc_id""".stripMargin,
    // mm07: ASCII payloads make the per-frame SADs SQL-reproducible
    // (unicode(char) = byte, like mm05/mm06); all-integer outputs
    "mm07_shot_bounds" ->
      """WITH d AS (SELECT doc_id, text, length(text) // 64 AS nf FROM documents),
        |p AS (SELECT doc_id, (i - 1) // 64 AS f,
        |        sum(abs(unicode(substr(text, i, 1)) - unicode(substr(text, i + 64, 1)))) AS sad
        |      FROM (SELECT doc_id, text, unnest(generate_series(1, (nf - 1) * 64)) AS i
        |            FROM d WHERE nf >= 2) t
        |      GROUP BY doc_id, f)
        |SELECT d.doc_id, CAST(nf AS BIGINT) AS n_frames,
        |  CAST(coalesce(sum(CASE WHEN sad > 2000 THEN 1 END), 0) AS BIGINT) AS n_cuts,
        |  CAST(coalesce(max(sad), -1) AS BIGINT) AS max_sad,
        |  CAST(coalesce(min(CASE WHEN sad > 2000 THEN f + 1 END), -1) AS BIGINT) AS first_cut
        |FROM d LEFT JOIN p USING (doc_id)
        |GROUP BY d.doc_id, nf ORDER BY d.doc_id""".stripMargin,
    // mm02: the 64-bin byte-histogram L2 (the fallback feature's true
    // norm — text payloads never decode as images) and the magic-byte
    // format sniff are both SQL-expressible (documents are ASCII, so
    // chars align with payload bytes; PNG/JPEG magic can't occur in
    // text, GIF/BMP prefixes mirror ImageHeader.parse's length guards)
    "mm02_decode_stub" ->
      """WITH d AS (SELECT doc_id, text, octet_length(CAST(text AS BLOB)) AS len FROM documents),
        |bins AS (
        |  SELECT doc_id, unicode(substr(text, i, 1)) // 4 AS bin, count(*) AS c
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i FROM d)
        |  GROUP BY doc_id, bin),
        |s AS (SELECT doc_id, sum(c * c) AS ss FROM bins GROUP BY doc_id)
        |SELECT d.doc_id, CAST(d.len AS BIGINT) AS n_bytes,
        |  CASE WHEN d.len >= 10 AND substr(d.text, 1, 3) = 'GIF' THEN 'gif'
        |       WHEN d.len >= 26 AND substr(d.text, 1, 2) = 'BM' THEN 'bmp'
        |       ELSE 'opaque' END AS format,
        |  round(sqrt(CAST(coalesce(s.ss, 0) AS DOUBLE)) / greatest(d.len, 1) * 10000) / 10000 AS feat_l2,
        |  CAST(64 AS BIGINT) AS feat_dim
        |FROM d LEFT JOIN s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "mm03_frame_sample" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |  CAST(i * 64 AS BIGINT) AS byte_off, CAST(64 AS BIGINT) AS window_len
        |FROM (SELECT doc_id, octet_length(CAST(text AS BLOB)) AS len
        |      FROM documents WHERE octet_length(CAST(text AS BLOB)) > 0) t,
        |     LATERAL (SELECT unnest(generate_series(0, greatest(len // 64 - 1, 0))) AS i) u
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "mm01_binary_meta" ->
      """SELECT doc_id, octet_length(CAST(text AS BLOB)) AS byte_len,
        |  sha256(text) AS sha
        |FROM documents ORDER BY doc_id""".stripMargin,
    // mm06: ASCII payloads make the PCM windows SQL-reproducible
    // (unicode(char) = byte = "sample"); all-integer energy sums
    "mm06_audio_energy" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |w AS (
        |  SELECT doc_id, (i - 1) // 64 AS w,
        |    sum(unicode(substr(text, i, 1)) * unicode(substr(text, i, 1))) AS ss,
        |    count(*) AS wlen
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, len)) AS i FROM d) t
        |  GROUP BY doc_id, w)
        |SELECT doc_id, count(*) AS n_windows,
        |  CAST(sum(CASE WHEN ss < 10000 * wlen THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  CAST(max(ss) AS BIGINT) AS peak_ss, CAST(sum(ss) AS BIGINT) AS total_ss
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // mm05: ASCII payloads make the w×h grid SQL-reproducible
    // (unicode(char) = byte); integer cell sums/counts keep the means
    // exact under the shared rounding idiom
    "mm05_resize" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len
        |           FROM documents WHERE length(text) > 0),
        |px AS (
        |  SELECT doc_id, i - 1 AS idx, unicode(substr(text, i, 1)) AS v, len,
        |         CAST(ceil(sqrt(len)) AS BIGINT) AS w
        |  FROM (SELECT doc_id, text, len,
        |          unnest(generate_series(1, len)) AS i FROM d) t),
        |px2 AS (SELECT doc_id, idx, v, w, (len + w - 1) // w AS h FROM px)
        |SELECT doc_id, ((idx // w) * 8) // h AS r, ((idx % w) * 8) // w AS c,
        |       count(*) AS n_px,
        |       round((sum(v) * 1.0 / count(*)) * 10000) / 10000 AS px_mean
        |FROM px2 GROUP BY doc_id, r, c ORDER BY doc_id, r, c""".stripMargin)
}
