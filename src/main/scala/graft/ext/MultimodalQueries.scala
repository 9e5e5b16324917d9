package graft.ext

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One decoded media record — see [[MediaDecode]] for the tiered decode. */
final case class MediaMeta(
    doc_id: Long, byte_len: Long, magic_hex: String,
    width: Int, height: Int, n_frames: Int)

/** Fixed-width integer codecs shared by every container parser in
  * [[MediaDecode]] ([[ByteCodec.Reader]]) and every builder in
  * [[MediaFixtures]] (the writers here). */
private[ext] object ByteCodec {
  /** Big/little-endian reads at byte offsets of one payload. `be32` is the
    * SIGNED Int form — a PNG u32 with the top bit set reads negative, which
    * `decodeHeader`'s positivity check relies on to reject a corrupt
    * header; `be32u` is the unsigned Long form the ISO-BMFF walks need. */
  final class Reader(bytes: Array[Byte]) {
    def u8(i: Int): Int = bytes(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int): Int = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def be32u(i: Int): Long = be32(i) & 0xffffffffL
    def be64(i: Int): Long = (be32u(i) << 32) | be32u(i + 4)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def tag(i: Int): String = new String(bytes, i, 4, "US-ASCII")
  }

  def be32(v: Int): Array[Byte] = Array(
    (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  def be16(v: Int): Array[Byte] = Array((v >> 8).toByte, v.toByte)
  def be64(v: Long): Array[Byte] = be32((v >>> 32).toInt) ++ be32(v.toInt)
  def le32(v: Int): Array[Byte] = Array(
    v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
  def le16(v: Int): Array[Byte] = Array(v.toByte, (v >> 8).toByte)
}

/** Multimodal-column plumbing (SURVEY.md §2.9, builder-prompt multimodal
  * requirement): media as opaque `binary` columns + typed metadata.
  *
  * Container METADATA decode is REAL — pure-JVM header parsing for PNG
  * (IHDR), BMP (INFOHEADER/COREHEADER), GIF (logical screen) at fixed
  * offsets, a JPEG SOFn marker-segment scan, and an ImageIO header-read
  * fallback. Only full PIXEL decode is stubbed ([[MediaDecode.decodeStub]],
  * the deterministic fake non-image payloads fall through to) — the
  * container has no raster codecs. Everything around it is real Spark
  * plumbing: binary column handling, batched per-partition decode via
  * mapPartitions on a typed Dataset (the Scala analogue of mapInPandas
  * batches), stride-based frame sampling, and metadata extraction with
  * codegen'd built-ins.
  *
  * The `documents.text` bytes stand in for media payloads since the test
  * data has no binary table; at scale the binary column comes straight from
  * parquet BYTE_ARRAY with the same plan shape.
  */
object MediaDecode {
  /** STUB for unknown formats: a full implementation would invoke a codec
    * here. Deterministic fake: dimensions derived from byte length — this
    * is what the synthetic test corpus (text bytes) hits, and what the SQL
    * oracle mirrors. */
  def decodeStub(bytes: Array[Byte]): (Int, Int, Int) = {
    val n = bytes.length
    (64 + n % 640, 48 + (n * 7) % 480, 1 + n % 24)
  }

  /** REAL pure-JVM container-header parse — no codec needed, dimensions
    * live at fixed offsets: PNG IHDR (big-endian u32 at 16/20), BMP
    * BITMAPINFOHEADER (little-endian i32 at 18/22; height may be negative
    * for top-down rows), GIF logical screen (little-endian u16 at 6/8).
    * None for anything else. */
  def decodeHeader(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    val r = new ByteCodec.Reader(bytes); import r._
    val pngMagic = Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt,
      0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    // Dimensions must be strictly positive; a corrupt header (negative or
    // zero, or a PNG u32 overflowing Int) falls through to the next tier.
    def ok(w: Int, h: Int, f: Int): Option[(Int, Int, Int)] =
      if (w > 0 && h > 0) Some((w, h, f)) else None
    if (bytes.length >= 24 && bytes.startsWith(pngMagic))
      ok(be32(16), be32(20), 1)
    else if (bytes.length >= 26 && u8(0) == 'B' && u8(1) == 'M') {
      // Only trust offsets 18/22 for BITMAPINFOHEADER-or-later (DIB header
      // size >= 40); a legacy 12-byte BITMAPCOREHEADER stores u16 dims at
      // 18/20 instead.
      val dib = le32(14)
      if (dib >= 40) ok(le32(18), math.abs(le32(22)), 1)
      else if (dib == 12) ok(le16(18), le16(20), 1)
      else None
    } else if (bytes.length >= 10 &&
        (bytes.startsWith("GIF87a".getBytes("US-ASCII")) ||
          bytes.startsWith("GIF89a".getBytes("US-ASCII")))) {
      // frame count = number of image-separator blocks is a full-file walk;
      // header-level contract reports the logical screen + 1 frame
      ok(le16(6), le16(8), 1)
    } else None
  }

  /** REAL JPEG dimension scan — walks the marker-segment stream from SOI
    * (ITU T.81 B.2) looking for a frame header SOFn (0xC0–0xCF except the
    * non-frame DHT/JPG/DAC markers 0xC4/0xC8/0xCC) and reads the
    * big-endian height/width that sit at fixed offsets inside the SOF
    * payload (after the 2-byte length and 1-byte precision). Pure byte
    * arithmetic over the binary column — no codec, no pixel work, and
    * unlike the ImageIO tier no reader registry/stream allocation: the
    * per-row cost is the APPn/DQT/DHT segment lengths it skips. Returns
    * None on anything structurally non-JPEG (falls through to the next
    * decode tier). */
  def decodeJpegSof(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    val r = new ByteCodec.Reader(bytes); import r._
    if (bytes.length < 4 || u8(0) != 0xff || u8(1) != 0xd8) return None
    var i = 2
    while (i + 3 < bytes.length) {
      if (u8(i) != 0xff) return None
      val marker = u8(i + 1)
      if (marker == 0xff) { i += 1 } // fill byte before a marker
      else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd8)) {
        i += 2 // standalone marker: TEM / RSTn / (stray) SOI — no length
      } else if (marker == 0xd9) {
        return None // EOI reached without a frame header
      } else {
        val len = be16(i + 2)
        if (len < 2 || i + 2 + len > bytes.length) return None
        val isSof = marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc
        if (isSof) {
          if (len < 9) return None
          val h = be16(i + 5)
          val w = be16(i + 7)
          return if (w > 0 && h > 0) Some((w, h, 1)) else None
        }
        i += 2 + len
      }
    }
    None
  }

  /** JDK ImageIO dimension read — header-only, NOT a pixel decode: the
    * format reader's `getWidth/getHeight` parse just the container
    * metadata (for JPEG, the SOF segment), so a large payload costs
    * header bytes, not a full raster allocation. Disk caching is off
    * (`setUseCache(false)` in the static init) so nothing ever spools to
    * tmp in the executor hot path. Used when the fixed-offset header
    * parse doesn't recognize the container but ImageIO does (e.g. JPEG,
    * whose dimensions sit behind variable-length segments). Returns None
    * for non-image bytes. */
  def decodeImageIO(bytes: Array[Byte]): Option[(Int, Int, Int)] =
    withImageReader(bytes) { (r, iis) =>
      r.setInput(iis, true, true)
      val w = r.getWidth(0)
      val h = r.getHeight(0)
      if (w > 0 && h > 0) Some((w, h, 1)) else None
    }

  /** Run `f` on the first registered ImageIO reader that claims `bytes`
    * (with the stream it should read), disposing both after; None when no
    * reader claims the payload or the read throws. */
  private def withImageReader[A](bytes: Array[Byte])(
      f: (javax.imageio.ImageReader, javax.imageio.stream.ImageInputStream) => Option[A])
      : Option[A] =
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try f(r, iis) finally r.dispose()
        }
      } finally if (iis != null) iis.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Row-major luminance grid of a decoded image, read from the raster
    * bands directly: band 0 alone for single-band images, integer ITU-R
    * BT.601 weights over bands 0/1/2 for color. */
  private def grayGrid(img: java.awt.image.BufferedImage): Array[Array[Int]] = {
    val r = img.getRaster
    val bands = r.getNumBands
    Array.tabulate(img.getHeight, img.getWidth) { (y, x) =>
      if (bands >= 3)
        (r.getSample(x, y, 0) * 299 + r.getSample(x, y, 1) * 587 +
          r.getSample(x, y, 2) * 114) / 1000
      else r.getSample(x, y, 0)
    }
  }

  // one-time JVM-wide init: never spool ImageInputStreams to disk
  javax.imageio.ImageIO.setUseCache(false)

  /** Decode tiers: fixed-offset header parse (cheap, no pixel work) →
    * JPEG SOFn segment scan (pure byte arithmetic) → ImageIO header read
    * (any remaining registered format) → deterministic stub for non-image
    * payloads (what the synthetic text-bytes corpus hits). */
  def decode(bytes: Array[Byte]): (Int, Int, Int) =
    decodeHeader(bytes)
      .orElse(decodeJpegSof(bytes))
      .orElse(decodeImageIO(bytes))
      .getOrElse(decodeStub(bytes))

  /** REAL pixel decode for the one codec-free raster container: BMP
    * BI_RGB 24bpp (the pixel array is literal BGR bytes at a
    * header-declared offset — the format's public spec, no entropy coding
    * anywhere). Handles bottom-up (positive height) and top-down
    * (negative height) row order and the 4-byte row padding. Returns the
    * row-major LUMINANCE grid — integer ITU-R BT.601 weights
    * (299·R + 587·G + 114·B)/1000 — or None for anything that isn't an
    * uncompressed 24bpp BMP (other formats keep their header-only tiers;
    * this container has no codecs). */
  def decodeBmpGray(bytes: Array[Byte]): Option[Array[Array[Int]]] = {
    val r = new ByteCodec.Reader(bytes); import r._
    if (bytes.length < 54 || u8(0) != 'B' || u8(1) != 'M') return None
    val pixOff = le32(10)
    if (le32(14) < 40) return None // need BITMAPINFOHEADER-or-later
    val w = le32(18)
    val hRaw = le32(22)
    val h = math.abs(hRaw)
    if (w <= 0 || h == 0) return None
    // planes must be 1, 24 bits/pixel, BI_RGB (no compression)
    if (le16(26) != 1 || le16(28) != 24 || le32(30) != 0) return None
    val stride = ((w * 3 + 3) / 4) * 4
    if (pixOff < 54 || pixOff.toLong + stride.toLong * h > bytes.length) return None
    Some(Array.tabulate(h, w) { (y, x) =>
      val row = if (hRaw < 0) y else h - 1 - y
      val o = pixOff + row * stride + x * 3
      (u8(o + 2) * 299 + u8(o + 1) * 587 + u8(o) * 114) / 1000
    })
  }

  /** Full-raster decode via the JDK's registered entropy decoders
    * (PNG/JPEG/GIF — the formats a real crawl actually contains),
    * returning the row-major luminance grid. Samples are read from the
    * DECODED raster directly (`Raster.getSample`), NOT via `getRGB`:
    * `getRGB` routes through a ColorModel→sRGB color-space conversion
    * that is not identity even for grayscale images and would break
    * pixel-exactness. Band 0 alone for single-band images; the same
    * integer ITU-R BT.601 weights as the BMP tier over bands 0/1/2 for
    * color. None for payloads no registered reader decodes. */
  def decodeImageIOGray(bytes: Array[Byte]): Option[Array[Array[Int]]] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
      else Some(grayGrid(img))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Raster decode tiers: codec-free BMP byte parse (cheap, no reader
    * registry) → full ImageIO entropy decode (PNG/JPEG/GIF) → None for
    * genuinely undecodable payloads — callers keep their deterministic
    * stubs for those, so only the truly opaque tail is stubbed. */
  def decodeRasterGray(bytes: Array[Byte]): Option[Array[Array[Int]]] =
    decodeBmpGray(bytes).orElse(decodeImageIOGray(bytes))

  /** ALL frames of an (animated) image as luminance grids, via the
    * ImageIO reader API (`getNumImages` + per-index `read` — the same
    * raster-band discipline as [[decodeImageIOGray]]): the
    * frame-sampling primitive of the video-ish multimodal tier. None
    * when no registered reader claims the payload. */
  def decodeFramesGray(bytes: Array[Byte]): Option[Seq[Array[Array[Int]]]] =
    withImageReader(bytes) { (rd, iis) =>
      rd.setInput(iis)
      val n = rd.getNumImages(true)
      if (n <= 0) None
      else Some((0 until n).map(k => grayGrid(rd.read(k))))
    }

  /** RIFF/WAVE 16-bit PCM mono parse — the audio modality's codec-free
    * byte-arithmetic decode (the BMP tier's discipline applied to
    * sound): walk the RIFF chunk list (real WAVs carry LIST/fact chunks
    * before `data`, so the walk is a loop, not fixed offsets), read
    * `fmt `'s codec/channels/rate/width, then the little-endian signed
    * samples. Returns (sample_rate, samples); None unless the payload
    * is RIFF+WAVE with 16-bit mono integer PCM. */
  def decodeWavPcm16(bytes: Array[Byte]): Option[(Int, Array[Int])] = {
    val r = new ByteCodec.Reader(bytes); import r._
    if (bytes.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12
    var rate = -1
    var fmtOk = false
    var samples: Array[Int] = null
    while (off + 8 <= bytes.length && samples == null) {
      val id = tag(off)
      val len = le32(off + 4)
      if (len < 0 || off + 8 + len > bytes.length) return None
      if (id == "fmt " && len >= 16) {
        fmtOk = le16(off + 8) == 1 && le16(off + 10) == 1 &&
          le16(off + 22) == 16
        rate = le32(off + 12)
      } else if (id == "data" && fmtOk) {
        samples = Array.tabulate(len / 2) { t =>
          val v = le16(off + 8 + t * 2)
          if (v >= 0x8000) v - 0x10000 else v
        }
      }
      off += 8 + len + (len & 1) // chunks are word-aligned
    }
    if (fmtOk && samples != null && rate > 0) Some((rate, samples)) else None
  }

  /** One ISO-BMFF box header at `off` inside `[off, limit)`:
    * `(payloadStart, boxEnd, fourcc)`. Handles all three legal size
    * encodings — a plain 32-bit size, `size == 1` with a 64-bit
    * `largesize` following the fourcc (how real >4 GiB mdat boxes ship),
    * and `size == 0` meaning "to the end of the enclosing space" (legal
    * for a last box). None on a truncated/undersized header. */
  private def mp4Box(bytes: Array[Byte], off: Int,
      limit: Int): Option[(Int, Int, String)] = {
    val r = new ByteCodec.Reader(bytes); import r._
    if (off + 8 > limit) return None
    val size = be32u(off)
    val fourcc = tag(off + 4)
    if (size == 0) Some((off + 8, limit, fourcc)) // box runs to EOF/enclosure
    else if (size == 1) { // 64-bit largesize after the fourcc
      if (off + 16 > limit) return None
      val ls = be64(off + 8)
      if (ls < 16 || off + ls > limit) None
      else Some((off + 16, off + ls.toInt, fourcc))
    }
    else if (size < 8 || off + size > limit) None
    else Some((off + 8, (off + size).toInt, fourcc))
  }

  /** The first child box of type `want` inside `[from, to)`:
    * `(payloadStart, boxEnd)`. None when absent or on a malformed box. */
  private def mp4Child(bytes: Array[Byte], from: Int, to: Int,
      want: String): Option[(Int, Int)] = {
    var io = from
    while (io + 8 <= to) {
      val (ip, ie, itag) = mp4Box(bytes, io, to).getOrElse(return None)
      if (itag == want) return Some((ip, ie))
      io = ie
    }
    None
  }

  /** A trak's sample table: the `stbl` payload range `[sp, se)` and its
    * `stsz` sample count `n`, with either one `uniform` sample size or
    * (uniform = 0) the `listed` per-sample sizes. */
  private final case class Mp4SampleTable(sp: Int, se: Int, uniform: Long,
      n: Long, listed: Seq[Long])

  /** The sample table of the trak whose `mdia` payload is `mdia`
    * (`mdia → minf → stbl → stsz`); None when a box is missing or
    * `stsz` is short. */
  private def mp4SampleTable(bytes: Array[Byte],
      mdia: Option[(Int, Int)]): Option[Mp4SampleTable] = {
    val r = new ByteCodec.Reader(bytes); import r._
    val (sp, se) = (for {
      (mp, me) <- mdia
      (fp, fe) <- mp4Child(bytes, mp, me, "minf")
      s <- mp4Child(bytes, fp, fe, "stbl")
    } yield s).getOrElse(return None)
    val (zp, ze) = mp4Child(bytes, sp, se, "stsz").getOrElse(return None)
    if (ze - zp < 12) return None
    val uniform = be32u(zp + 4)
    val n = be32u(zp + 8)
    if (uniform != 0) Some(Mp4SampleTable(sp, se, uniform, n, Nil))
    else if (ze - zp < 12 + 4 * n) None
    else Some(Mp4SampleTable(sp, se, uniform, n,
      (0L until n).map(k => be32u(zp + 12 + 4 * k.toInt))))
  }

  /** Walk a real ISO-BMFF (MP4) box sequence — the VIDEO container
    * metadata decode: big-endian (size, fourcc) box headers at the top
    * level, `moov` entered one level (its `mvhd` v0 yields timescale +
    * duration, each `trak` child counted), `mdat` payload summed
    * byte-wise (proof the walk actually reads the media payload, without
    * pretending to run a codec — at 100 TB frame decode is the GPU
    * stage this metadata pass schedules). Unknown boxes at BOTH levels
    * are skipped by size — the robustness contract real files demand
    * (spec inserts a `free` box and a foreign moov child), and all three
    * legal size encodings walk ([[mp4Box]]: 32-bit, 64-bit `largesize`,
    * to-EOF `size == 0`). Returns (timescale, duration_units, n_tracks,
    * mdat_bytes, mdat_sum); None on any truncated/undersized box or a
    * missing moov/mvhd. */
  def decodeMp4Meta(bytes: Array[Byte]): Option[(Long, Long, Long, Long, Long)] = {
    val r = new ByteCodec.Reader(bytes); import r._
    var off = 0
    var ts = -1L; var dur = -1L; var traks = 0L
    var mdatB = 0L; var mdatSum = 0L
    while (off + 8 <= bytes.length) {
      val (payload, end, fourcc) = mp4Box(bytes, off, bytes.length)
        .getOrElse(return None)
      fourcc match {
        case "moov" =>
          var io = payload
          while (io + 8 <= end) {
            val (ip, ie, itag) = mp4Box(bytes, io, end).getOrElse(return None)
            itag match {
              case "mvhd" if ie - ip >= 24 =>
                ts = be32u(ip + 12); dur = be32u(ip + 16)
              case "trak" => traks += 1
              case _ => () // skip foreign children by size
            }
            io = ie
          }
        case "mdat" =>
          mdatB += end - payload
          var t = payload
          while (t < end) { mdatSum += u8(t); t += 1 }
        case _ => () // skip foreign top-level boxes by size
      }
      off = end
    }
    if (off != bytes.length || ts <= 0 || dur < 0) None
    else Some((ts, dur, traks, mdatB, mdatSum))
  }

  /** SAMPLE-TABLE walk — real per-frame METADATA without a codec: descend
    * `moov → trak → mdia → minf → stbl` (each level a by-size box walk,
    * foreign siblings skipped) and read each track's `stsz` (per-sample
    * byte sizes — v0, both the uniform `sample_size != 0` form and the
    * per-sample list) and `stts` (run-length (count, delta) decode
    * timeline). Emits one row per track:
    * (track_index, n_samples, sample_bytes, duration_units) — the
    * schedule a frame-extraction stage fans out over, produced from
    * metadata alone (the codec/GPU stage remains the declared stub).
    * None when any box is malformed or a trak lacks stsz/stts. */
  def decodeMp4Samples(bytes: Array[Byte]): Option[Seq[(Long, Long, Long, Long)]] = {
    val r = new ByteCodec.Reader(bytes); import r._
    val out = Seq.newBuilder[(Long, Long, Long, Long)]
    var trackIdx = 0L
    var off = 0
    while (off + 8 <= bytes.length) {
      val (payload, end, fourcc) = mp4Box(bytes, off, bytes.length)
        .getOrElse(return None)
      if (fourcc == "moov") {
        var io = payload
        while (io + 8 <= end) {
          val (ip, ie, itag) = mp4Box(bytes, io, end).getOrElse(return None)
          if (itag == "trak") {
            val Mp4SampleTable(sp, se, uniform, n, listed) =
              mp4SampleTable(bytes, mp4Child(bytes, ip, ie, "mdia"))
                .getOrElse(return None)
            val sampleBytes = if (uniform != 0) uniform * n else listed.sum
            val (tp, te) = mp4Child(bytes, sp, se, "stts").getOrElse(return None)
            if (te - tp < 8) return None
            val entries = be32u(tp + 4)
            if (te - tp < 8 + 8 * entries) return None
            var durU = 0L; var nTts = 0L
            (0L until entries).foreach { e =>
              val c = be32u(tp + 8 + 8 * e.toInt)
              val d = be32u(tp + 12 + 8 * e.toInt)
              durU += c * d; nTts += c
            }
            if (nTts != n) return None // stsz and stts must agree
            out += ((trackIdx, n, sampleBytes, durU))
            trackIdx += 1
          }
          io = ie
        }
      }
      off = end
    }
    val res = out.result()
    if (res.isEmpty) None else Some(res)
  }

  /** PER-FRAME payload slices of a motion-JPEG-style MP4: the r12 sample
    * table walked one step further, from sizes to the BYTES themselves —
    * the VIDEO track's stsz entries located in the media payload
    * (MJPEG's defining property: every sample is an independent JPEG,
    * no inter-frame state, so container walk + still-image decode IS
    * the video decode — the one video coding a JDK-only stack can take
    * to pixels).
    *
    * Track selection (r14): the first trak whose `mdia/hdlr` handler is
    * `vide` — or that carries no hdlr at all (the r13 single-track
    * fixtures) — is the video track; `soun`/`meta`/foreign-handler traks
    * are skipped, so a muxed audio+video file slices the right stream
    * regardless of trak order.
    *
    * Sample location (r14): when the track carries a chunk map
    * (`stsc` + `stco`/`co64` — how every real muxer lays out interleaved
    * tracks), samples are located through it: stco/co64 offsets are
    * FILE-ABSOLUTE, stsc's (first_chunk, samples_per_chunk) runs expand
    * over the chunk list, and samples within a chunk are contiguous in
    * stsz order — so chunked, interleaved, and moov-after-mdat layouts
    * all slice exactly. A track with no chunk map falls back to the
    * contiguous-first-mdat layout (the r13 fixture contract). Returns
    * one byte slice per sample, in order; None if there is no video
    * trak/stsz/payload, a malformed chunk map (first run not at chunk 1,
    * non-monotone runs, map covering fewer samples than stsz), or any
    * sample overrunning the file (a truncated file must fail loudly,
    * not yield short frames). */
  def decodeMp4FrameSlices(bytes: Array[Byte]): Option[Seq[Array[Byte]]] = {
    val r = new ByteCodec.Reader(bytes); import r._
    // (sizes, chunk map) of the selected video track; chunk map is
    // (stsc runs as (firstChunk, samplesPerChunk), absolute chunk offsets)
    var sizes: Option[Seq[Long]] = None
    var chunkMap: Option[(Seq[(Long, Long)], Seq[Long])] = None
    var mdat: Option[(Int, Int)] = None
    var off = 0
    while (off + 8 <= bytes.length) {
      val (payload, end, fourcc) = mp4Box(bytes, off, bytes.length)
        .getOrElse(return None)
      if (fourcc == "moov" && sizes.isEmpty) {
        var io = payload
        while (io + 8 <= end && sizes.isEmpty) {
          val (tp, te, itag) = mp4Box(bytes, io, end).getOrElse(return None)
          if (itag == "trak") {
            val mdia = mp4Child(bytes, tp, te, "mdia")
            val isVideo = mdia.exists { case (mp, me) =>
              mp4Child(bytes, mp, me, "hdlr") match {
                case Some((hp, he)) => // handler_type at payload offset 8
                  he - hp >= 12 &&
                    tag(hp + 8) == "vide"
                case None => true // legacy single-track fixture: no hdlr
              }
            }
            if (isVideo) {
              val Mp4SampleTable(sp, se, uniform, n, listed) =
                mp4SampleTable(bytes, mdia).getOrElse(return None)
              sizes = Some(if (uniform != 0) Seq.fill(n.toInt)(uniform) else listed)
              chunkMap = for {
                (cp, ce) <- mp4Child(bytes, sp, se, "stsc")
                offs <- mp4Child(bytes, sp, se, "stco").map { case (op, oe) =>
                  val m = be32u(op + 4)
                  if (oe - op < 8 + 4 * m) return None
                  (0L until m).map(c => be32u(op + 8 + 4 * c.toInt))
                }.orElse(mp4Child(bytes, sp, se, "co64").map { case (op, oe) =>
                  val m = be32u(op + 4)
                  if (oe - op < 8 + 8 * m) return None
                  (0L until m).map(c => be64(op + 8 + 8 * c.toInt))
                })
              } yield {
                val ne = be32u(cp + 4)
                if (ce - cp < 8 + 12 * ne) return None
                val runs = (0L until ne).map { e =>
                  (be32u(cp + 8 + 12 * e.toInt), be32u(cp + 12 + 12 * e.toInt))
                }
                (runs, offs)
              }
            }
          }
          io = te
        }
      }
      if (fourcc == "mdat" && mdat.isEmpty) mdat = Some((payload, end))
      off = end
    }
    val ss = sizes.getOrElse(return None)
    chunkMap match {
      case Some((runs, chunkOffs)) =>
        // stsc runs must start at chunk 1 and be strictly increasing
        if (runs.isEmpty || runs.head._1 != 1L ||
            runs.map(_._1).sliding(2).exists(p => p.length == 2 && p(0) >= p(1)))
          return None
        val out = Seq.newBuilder[Array[Byte]]
        var s = 0 // next sample (stsz index)
        var ri = 0
        var c = 0 // chunk index (0-based; stsc speaks 1-based)
        while (c < chunkOffs.length && s < ss.length) {
          while (ri + 1 < runs.length && runs(ri + 1)._1 <= c + 1) ri += 1
          var k = 0L
          var o = chunkOffs(c)
          while (k < runs(ri)._2 && s < ss.length) {
            val len = ss(s)
            if (o < 0 || o + len > bytes.length) return None
            out += java.util.Arrays.copyOfRange(bytes, o.toInt, (o + len).toInt)
            o += len; s += 1; k += 1
          }
          c += 1
        }
        if (s != ss.length) None else Some(out.result()) // map must cover stsz
      case None => // legacy contiguous layout: stsz indexes the first mdat
        val (mp, me) = mdat.getOrElse(return None)
        if (ss.sum > (me - mp).toLong) None
        else {
          val offs = ss.scanLeft(0L)(_ + _)
          Some(ss.indices.map(k => java.util.Arrays.copyOfRange(
            bytes, mp + offs(k).toInt, mp + offs(k + 1).toInt)))
        }
    }
  }

  /** Classic 9×8 difference hash over a luminance grid: nearest-neighbor
    * sample onto a 9-wide × 8-tall grid, bit j·8+i set when the sampled
    * pixel at column i outranks its right neighbor — 64 bits of coarse
    * gradient structure that survive re-encoding and small edits. Sampling
    * is integer-exact (`x = i·w div 9`, `y = j·h div 8`) so an oracle can
    * restate it as a formula. */
  /** Nearest-neighbor raster resize — the thumbnail/feature-downsample
    * step of an image pipeline, on the decoded grid: target pixel (i, j)
    * samples source (i·w div tw, j·h div th). Integer arithmetic only,
    * so the oracle can restate it as formula. */
  def resizeNN(g: Array[Array[Int]], tw: Int, th: Int): Array[Array[Int]] = {
    val h = g.length
    val w = g(0).length
    Array.tabulate(th, tw)((j, i) => g(j * h / th)(i * w / tw))
  }

  def dhash64(g: Array[Array[Int]]): Long = {
    val h = g.length
    val w = g(0).length
    var acc = 0L
    for (j <- 0 until 8; i <- 0 until 8) {
      val y = j * h / 8
      if (g(y)(i * w / 9) > g(y)((i + 1) * w / 9)) acc |= 1L << (j * 8 + i)
    }
    acc
  }

  /** Batched per-partition decode: one "decoder init" per partition (the
    * expensive part for real codecs), then record-at-a-time decode — the
    * shape a vectorized decode batch would take. */
  def decodePartitioned(media: Dataset[(Long, Array[Byte])]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition decoder initialization would go here
      it.map { case (id, bytes) =>
        val (w, h, f) = decode(bytes)
        val magic = bytes.take(4).map(b => f"${b & 0xff}%02x").mkString
        MediaMeta(id, bytes.length.toLong, magic, w, h, f)
      }
    }
  }
}

/** Deterministic, structurally valid media payloads built byte-for-byte to
  * each format's public spec — the binary-column analogue of the reference's
  * API contract fixtures (`tests/integration/test_cta_api_response.py:20-40`
  * pins the shape of what the pipeline consumes; these pin the container
  * formats the decode tier consumes). Every builder returns a FIXED length
  * for a given format, so an oracle can state byte_len without parsing. */
object MediaFixtures {
  private def crc32(bytes: Array[Byte]): Array[Byte] = {
    val c = new java.util.zip.CRC32
    c.update(bytes)
    val v = c.getValue
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  }
  import ByteCodec.{be16, be32, be64, le16, le32}

  /** One ISO-BMFF box: big-endian 32-bit size, fourcc, body. */
  private def box(tpe: String, body: Array[Byte]): Array[Byte] =
    be32(8 + body.length) ++ tpe.getBytes("US-ASCII") ++ body
  private val ftyp = box("ftyp",
    "isom".getBytes("US-ASCII") ++ be32(512) ++
      "isommp42".getBytes("US-ASCII"))
  /** mvhd v0: timescale + duration at their spec offsets. */
  private def mvhd(timescale: Int, duration: Int) = box("mvhd",
    Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++
      be32(timescale) ++ be32(duration) ++ Array.fill[Byte](80)(0))
  /** tkhd v0: track id + duration. */
  private def tkhd(id: Int, duration: Int) = box("tkhd",
    Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++ be32(id) ++
      be32(0) ++ be32(duration) ++ Array.fill[Byte](60)(0))

  /** 45 bytes: signature + IHDR (real CRC32) + IEND. */
  def png(w: Int, h: Int): Array[Byte] = {
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    val ihdrBody = "IHDR".getBytes("US-ASCII") ++ be32(w) ++ be32(h) ++
      Array[Byte](8, 2, 0, 0, 0)
    val iendBody = "IEND".getBytes("US-ASCII")
    sig ++ be32(13) ++ ihdrBody ++ crc32(ihdrBody) ++
      be32(0) ++ iendBody ++ crc32(iendBody)
  }

  /** 23 bytes: SOI + SOF0 (len 17: precision, dims, 3 components) + EOI. */
  def jpeg(w: Int, h: Int): Array[Byte] =
    Array(0xff, 0xd8, 0xff, 0xc0).map(_.toByte) ++ be16(17) ++
      Array[Byte](8) ++ be16(h) ++ be16(w) ++
      Array(3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1).map(_.toByte) ++
      Array(0xff, 0xd9).map(_.toByte)

  /** 14 bytes: GIF89a logical-screen descriptor + trailer. */
  def gif(w: Int, h: Int): Array[Byte] =
    "GIF89a".getBytes("US-ASCII") ++ le16(w) ++ le16(h) ++
      Array(0x70, 0, 0, 0x3b).map(_.toByte)

  /** 54 bytes: BITMAPFILEHEADER + BITMAPINFOHEADER (no pixel array). */
  def bmp(w: Int, h: Int): Array[Byte] =
    "BM".getBytes("US-ASCII") ++ le32(54) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
      Array.fill[Byte](24)(0)

  /** Complete BI_RGB 24bpp BMP WITH pixel data: headers + a bottom-up,
    * row-padded BGR pixel array where pixel (x, y) — y counted from the
    * TOP — is the grayscale byte `pix(x, y)` in all three channels.
    * 54 + rowstride·h bytes, every one placed by the public spec. */
  def bmpRaster(w: Int, h: Int, pix: (Int, Int) => Int): Array[Byte] = {
    val stride = ((w * 3 + 3) / 4) * 4
    val header =
      "BM".getBytes("US-ASCII") ++ le32(54 + stride * h) ++ le32(0) ++
        le32(54) ++ le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
        Array.fill[Byte](24)(0)
    val px = new Array[Byte](stride * h)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (pix(x, y) & 0xff).toByte
      val o = (h - 1 - y) * stride + x * 3
      px(o) = v; px(o + 1) = v; px(o + 2) = v
    }
    header ++ px
  }

  /** Complete GIF89a WITH pixel data: 256-entry identity-grayscale
    * global color table (entry i = (i,i,i), so the palette INDEX is the
    * gray value), image descriptor, and a REAL LZW-coded raster — so
    * reading it back is a true LZW entropy decode, closing the last
    * header-only container in the honest-raster tier. The encoder uses
    * the spec's fixed-width escape hatch: 8-bit min code size → 9-bit
    * codes, every pixel emitted as a LITERAL root code with a CLEAR
    * (256) re-issued every 254 pixels so the decoder's string table
    * tops out at 510 entries and the code width never leaves 9 bits —
    * a valid, decoder-agnostic LZW stream (sidesteps the early-change
    * width quirk) built byte-by-byte from the public spec, no codec
    * library on the WRITE side. Pixel (x, y), y from the top, is the
    * byte `pix(x, y)`. */
  def gifRaster(w: Int, h: Int, pix: (Int, Int) => Int): Array[Byte] =
    gifAnimRaster(w, h, 1, (x, y, _) => pix(x, y))

  /** Multi-frame GIF89a — the video stand-in of the multimodal tier:
    * `frames` full-size image blocks behind one logical screen, frame
    * f's pixel (x, y) = `pixF(x, y, f)`, each frame LZW-coded by the
    * same fixed-width encoder as [[gifRaster]]. Full-frame replacement
    * (position 0,0, no disposal tricks), so a reader's per-frame raster
    * IS the frame — no compositing ambiguity. */
  def gifAnimRaster(w: Int, h: Int, frames: Int,
      pixF: (Int, Int, Int) => Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(le16(w)); out.write(le16(h))
    out.write(0xf7) // GCT present, 8-bit color resolution, 256 entries
    out.write(0); out.write(0) // background index, aspect ratio
    for (i <- 0 until 256) { out.write(i); out.write(i); out.write(i) }
    for (f <- 0 until frames) {
      out.write(0x2c) // image separator
      out.write(le16(0)); out.write(le16(0)) // image position
      out.write(le16(w)); out.write(le16(h))
      out.write(0) // no local color table, not interlaced
      out.write(8) // LZW minimum code size
      val code = new java.io.ByteArrayOutputStream()
      var cur = 0; var nbits = 0
      def put(c: Int): Unit = { // 9-bit little-endian bit packing
        cur |= c << nbits; nbits += 9
        while (nbits >= 8) { code.write(cur & 0xff); cur >>= 8; nbits -= 8 }
      }
      put(256) // initial CLEAR
      var n = 0
      for (y <- 0 until h; x <- 0 until w) {
        put(pixF(x, y, f) & 0xff)
        n += 1
        if (n % 254 == 0) put(256) // keep the decoder table under 511
      }
      put(257) // end of information
      if (nbits > 0) code.write(cur & 0xff)
      val data = code.toByteArray
      var off = 0
      while (off < data.length) { // 255-byte sub-blocks
        val len = math.min(255, data.length - off)
        out.write(len); out.write(data, off, len); off += len
      }
      out.write(0) // block terminator
    }
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Complete RIFF/WAVE, 16-bit PCM mono, `n` samples at `sampleRate`:
    * the canonical 44-byte header + little-endian signed samples, every
    * byte from the public spec. Sample t (0-based) is `smp(t)` in
    * [-32768, 32767]. The audio twin of [[bmpRaster]]: a container a
    * real crawl actually contains, whose decode is pure byte
    * arithmetic. */
  /** Minimal but REAL ISO-BMFF (MP4) container: `ftyp`, a `free` box the
    * walker must skip by size, `moov` holding an mvhd v0 (timescale +
    * duration in its spec offsets, zero-filled 100-byte body) and
    * `nTracks` trak{tkhd v0} children, then an `mdat` payload of
    * `payload(t)` bytes. Every box header is the big-endian (size,
    * fourcc) pair the spec mandates, sizes exact — so the decode side is
    * a true box walk, not a fixed-offset read. */
  def mp4Container(timescale: Int, durationUnits: Int, nTracks: Int,
      mdatLen: Int, payload: Int => Int): Array[Byte] = {
    val free = box("free", Array.fill[Byte](6)(0))
    val traks = (1 to nTracks).map(i => box("trak", tkhd(i, durationUnits)))
    val moov = box("moov", mvhd(timescale, durationUnits) ++ traks.flatten)
    val mdat = box("mdat",
      Array.tabulate(mdatLen)(t => (payload(t) & 0xff).toByte))
    ftyp ++ free ++ moov ++ mdat
  }

  /** [[mp4Container]]'s full-depth sibling: each trak carries a real
    * sample table (`mdia{minf{stbl{stsz, stts}}}`), the `mdat` box ships
    * with `size == 1` + 64-bit largesize (the >4 GiB encoding real files
    * use), and the container ends with a `size == 0` to-EOF `skip` box —
    * so the walker's three size encodings and the stbl descent are all
    * exercised by construction. Track i (0-based) has `nSamples(i)`
    * samples; sample k has `sSize(i, k)` bytes (stsz v0 per-sample list)
    * and duration `sDelta(i, k)` units (stts as n single-count entries —
    * the worst-case run-length shape). */
  def mp4ContainerStbl(timescale: Int, durationUnits: Int, nTracks: Int,
      mdatLen: Int, payload: Int => Int, nSamples: Int => Int,
      sSize: (Int, Int) => Int, sDelta: (Int, Int) => Int): Array[Byte] = {
    val traks = (0 until nTracks).map { i =>
      val n = nSamples(i)
      val stsz = box("stsz",
        Array[Byte](0, 0, 0, 0) ++ be32(0) /* per-sample sizes */ ++
          be32(n) ++ (0 until n).flatMap(k => be32(sSize(i, k))).toArray)
      val stts = box("stts",
        Array[Byte](0, 0, 0, 0) ++ be32(n) ++
          (0 until n).flatMap(k => be32(1) ++ be32(sDelta(i, k))).toArray)
      box("trak", tkhd(i + 1, durationUnits) ++
        box("mdia", box("minf", box("stbl", stsz ++ stts))))
    }
    val moov = box("moov", mvhd(timescale, durationUnits) ++ traks.flatten.toArray)
    // mdat with size==1 + 64-bit largesize (header is 16 bytes)
    val mdatBody = Array.tabulate(mdatLen)(t => (payload(t) & 0xff).toByte)
    val mdat = be32(1) ++ "mdat".getBytes("US-ASCII") ++
      be32(0) ++ be32(16 + mdatLen) ++ mdatBody
    // trailing size==0 box: runs to EOF by definition
    val eofSkip = be32(0) ++ "skip".getBytes("US-ASCII") ++
      Array.fill[Byte](4)(0)
    ftyp ++ moov ++ mdat ++ eofSkip
  }

  /** Real grayscale JPEG bytes via the JDK encoder (TYPE_BYTE_GRAY →
    * `ImageIO.write("jpg")`): pixel (x, y) starts as `pix(x, y)`, then
    * survives a REAL lossy DCT round — so a consumer decoding these is
    * running an actual entropy+DCT decode, not a byte copy. Determinism
    * note: byte-identical inputs yield byte-identical JPEGs within a
    * JVM, which is the invariant the MJPEG near-dup fixture builds on
    * (shared frames are shared BYTES; pixel values after the lossy
    * round are NOT formula-restatable and no oracle pretends they
    * are). */
  def jpegGray(w: Int, h: Int, pix: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    for (y <- 0 until h; x <- 0 until w) r.setSample(x, y, 0, pix(x, y) & 0xff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** MOTION-JPEG-in-MP4: a single video track whose samples are whole
    * independent JPEGs laid back-to-back in `mdat`, with stsz carrying
    * the true per-frame byte sizes (and stts one unit per frame) — the
    * codec-free video container every JDK-only stack can take to
    * pixels. The moov precedes mdat, so the stsz offsets index straight
    * into the payload ([[MediaDecode.decodeMp4FrameSlices]]). */
  def mp4Mjpeg(timescale: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
    val n = frames.length
    val stsz = box("stsz",
      Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(n) ++
        frames.flatMap(f => be32(f.length)).toArray)
    val stts = box("stts",
      Array[Byte](0, 0, 0, 0) ++ be32(1) ++ be32(n) ++ be32(1))
    val trak = box("trak",
      tkhd(1, n) ++ box("mdia", box("minf", box("stbl", stsz ++ stts))))
    val moov = box("moov", mvhd(timescale, n) ++ trak)
    val mdat = box("mdat", frames.flatten.toArray)
    ftyp ++ moov ++ mdat
  }

  /** [[mp4Mjpeg]]'s CHUNKED, MUXED sibling — the layout every real muxer
    * writes: TWO tracks (a `soun` track of `aux` samples listed FIRST in
    * moov, the `vide` MJPEG track second — so a reader must select by
    * hdlr handler, not trak order), their samples INTERLEAVED in mdat as
    * four chunks `[v₀][a₀][v₁..][a₁..]`, each track locating its chunks
    * through a real chunk map: stsc runs (chunk 1 holds 1 sample, chunk
    * 2 the rest) + FILE-ABSOLUTE chunk offsets — co64 (the 64-bit form
    * >4 GiB files use) for video, stco for audio. moov comes AFTER mdat
    * (the non-faststart order most writers emit), so nothing about the
    * layout is inferable without the map. Same frames in, same pixels
    * out as [[mp4Mjpeg]] — which is exactly what the near-dup fixture
    * asserts by giving pair partners the two layouts. */
  def mp4MjpegChunked(timescale: Int, frames: Seq[Array[Byte]],
      aux: Seq[Array[Byte]]): Array[Byte] = {
    require(frames.length >= 2 && aux.length >= 2,
      "chunked layout needs >=2 samples per track")
    // mdat sits right after ftyp; chunk offsets are file-absolute
    val base = ftyp.length + 8L
    val vOff1 = base
    val aOff1 = vOff1 + frames.head.length
    val vOff2 = aOff1 + aux.head.length
    val aOff2 = vOff2 + frames.tail.map(_.length.toLong).sum
    val mdat = box("mdat",
      (frames.head ++ aux.head ++ frames.tail.flatten ++ aux.tail.flatten)
        .toArray)
    def hdlr(handler: String) = box("hdlr",
      Array[Byte](0, 0, 0, 0) ++ be32(0) ++
        handler.getBytes("US-ASCII") ++ Array.fill[Byte](13)(0))
    def stsz(ss: Seq[Array[Byte]]) = box("stsz",
      Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(ss.length) ++
        ss.flatMap(f => be32(f.length)).toArray)
    def stts(n: Int) = box("stts",
      Array[Byte](0, 0, 0, 0) ++ be32(1) ++ be32(n) ++ be32(1))
    def stsc(n: Int) = box("stsc",
      Array[Byte](0, 0, 0, 0) ++ be32(2) ++
        be32(1) ++ be32(1) ++ be32(1) ++ // chunk 1: one sample
        be32(2) ++ be32(n - 1) ++ be32(1)) // chunks 2..: the rest
    val co64V = box("co64",
      Array[Byte](0, 0, 0, 0) ++ be32(2) ++ be64(vOff1) ++ be64(vOff2))
    val stcoA = box("stco",
      Array[Byte](0, 0, 0, 0) ++ be32(2) ++
        be32(aOff1.toInt) ++ be32(aOff2.toInt))
    val trakA = box("trak", tkhd(1, aux.length) ++ box("mdia",
      hdlr("soun") ++ box("minf",
        box("stbl", stsz(aux) ++ stts(aux.length) ++
          stsc(aux.length) ++ stcoA))))
    val trakV = box("trak", tkhd(2, frames.length) ++ box("mdia",
      hdlr("vide") ++ box("minf",
        box("stbl", stsz(frames) ++ stts(frames.length) ++
          stsc(frames.length) ++ co64V))))
    val moov = box("moov", mvhd(timescale, frames.length) ++ trakA ++ trakV)
    ftyp ++ mdat ++ moov
  }

  def wavPcm16(sampleRate: Int, n: Int, smp: Int => Int): Array[Byte] = {
    val dataLen = n * 2
    val out = new java.io.ByteArrayOutputStream()
    out.write("RIFF".getBytes("US-ASCII")); out.write(le32(36 + dataLen))
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); out.write(le32(16))
    out.write(le16(1)) // PCM
    out.write(le16(1)) // mono
    out.write(le32(sampleRate))
    out.write(le32(sampleRate * 2)) // byte rate
    out.write(le16(2)) // block align
    out.write(le16(16)) // bits per sample
    out.write("data".getBytes("US-ASCII")); out.write(le32(dataLen))
    for (t <- 0 until n) {
      val v = smp(t)
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
    }
    out.toByteArray
  }

  /** Complete 8-bit GRAYSCALE PNG (color type 0) WITH pixel data: real
    * IHDR/IDAT/IEND chunks with spec CRC32s, scanlines prefixed with
    * filter byte 0 and zlib-deflated (`java.util.zip.Deflater`) — so
    * reading it back is a true entropy decode (inflate + defilter), not
    * a byte copy. Pixel (x, y), y from the top, is the gray byte
    * `pix(x, y)`. */
  def pngRaster(w: Int, h: Int, pix: (Int, Int) => Int): Array[Byte] = {
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    val ihdrBody = "IHDR".getBytes("US-ASCII") ++ be32(w) ++ be32(h) ++
      Array[Byte](8, 0, 0, 0, 0) // bit depth 8, color type 0 (grayscale)
    val raw = new Array[Byte]((w + 1) * h)
    for (y <- 0 until h) {
      raw(y * (w + 1)) = 0 // per-row filter: None
      for (x <- 0 until w)
        raw(y * (w + 1) + 1 + x) = (pix(x, y) & 0xff).toByte
    }
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val zip = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) zip.write(buf, 0, d.deflate(buf))
    d.end()
    val idatBody = "IDAT".getBytes("US-ASCII") ++ zip.toByteArray
    val iendBody = "IEND".getBytes("US-ASCII")
    sig ++ be32(13) ++ ihdrBody ++ crc32(ihdrBody) ++
      be32(idatBody.length - 4) ++ idatBody ++ crc32(idatBody) ++
      be32(0) ++ iendBody ++ crc32(iendBody)
  }
}

/** One per-doc raster perceptual hash — see [[MultimodalQueries.mediaPhashRaster]]. */
final case class RasterHash(
    doc_id: Long, width: Int, height: Int, dhash_hi: Long, dhash_lo: Long)

/** One per-doc 4×4 nearest-neighbor thumbnail, one long per thumbnail
  * row (4 gray bytes, little-endian) — see
  * [[MultimodalQueries.mediaResize]]. */
final case class RasterThumb(
    doc_id: Long, width: Int, height: Int,
    thumb_r0: Long, thumb_r1: Long, thumb_r2: Long, thumb_r3: Long,
    mean_px: Long)

/** Per-doc PCM audio features — see [[MultimodalQueries.mediaAudio]]. */
/** Per-doc MP4 container metadata — see [[MultimodalQueries.mediaVideo]]. */
final case class VideoMeta(
    doc_id: Long, timescale: Long, duration_units: Long, duration_ms: Long,
    n_tracks: Long, mdat_bytes: Long, mdat_sum: Long)

/** Per-(doc, track) sample-table schedule — see
  * [[MultimodalQueries.mediaVideoSamples]]. */
final case class TrackSample(
    doc_id: Long, track: Long, n_samples: Long, sample_bytes: Long,
    duration_units: Long, mdat_bytes: Long, mdat_sum: Long)

final case class AudioFeat(
    doc_id: Long, sample_rate: Long, n_samples: Long, duration_ms: Long,
    peak_abs: Long, mean_square: Long, zero_crossings: Long)

/** Per-doc animated-GIF frame sample — see
  * [[MultimodalQueries.mediaFrames]]. */
final case class FrameSample(
    doc_id: Long, width: Int, height: Int, n_frames: Long,
    mean_first: Long, mean_mid: Long, mean_last: Long)

object MultimodalQueries {

  /** Media records with binary payload + extracted metadata, all with
    * codegen'd built-ins (the oracle-checkable subset of the plumbing —
    * the mapPartitions path is exercised in the test suite). */
  def mediaMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bin = $"text".cast(BinaryType)
    val hexAll = hex(bin) // uppercase A-F in both Spark and DuckDB
    val byteLen = octet_length($"text").cast(LongType)
    Tables.documents(s, dir)
      .filter($"doc_id" < 200)
      .select(
        $"doc_id",
        byteLen.as("byte_len"),
        substring(hexAll, 1, 8).as("magic_hex"),
        // STUB decode metadata — deterministic fake, see MediaDecode
        (lit(64) + byteLen % 640).as("width"),
        (lit(48) + (byteLen * 7) % 480).as("height"),
        (lit(1) + byteLen % 24).as("n_frames"),
        // stride frame-sample: first byte of each quarter of the payload
        concat_ws("|",
          substring(hexAll, 1, 2),
          hexAll.substr(((byteLen / 4).cast(LongType) * 2 + 1).cast(IntegerType), lit(2)),
          hexAll.substr(((byteLen / 2).cast(LongType) * 2 + 1).cast(IntegerType), lit(2)),
          hexAll.substr(((byteLen * 3 / 4).cast(LongType) * 2 + 1).cast(IntegerType), lit(2)))
          .as("frame_sample"))
      .orderBy($"doc_id")
  }

  val mediaMetaSql: String =
    """SELECT doc_id,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
      |  substring(hex(CAST(text AS BLOB)), 1, 8) AS magic_hex,
      |  64 + CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) % 640 AS width,
      |  48 + (CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) * 7) % 480 AS height,
      |  1 + CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) % 24 AS n_frames,
      |  substring(hex(CAST(text AS BLOB)), 1, 2)
      |    || '|' || substring(hex(CAST(text AS BLOB)),
      |         CAST(octet_length(CAST(text AS BLOB)) // 4 * 2 + 1 AS INTEGER), 2)
      |    || '|' || substring(hex(CAST(text AS BLOB)),
      |         CAST(octet_length(CAST(text AS BLOB)) // 2 * 2 + 1 AS INTEGER), 2)
      |    || '|' || substring(hex(CAST(text AS BLOB)),
      |         CAST(octet_length(CAST(text AS BLOB)) * 3 // 4 * 2 + 1 AS INTEGER), 2)
      |    AS frame_sample
      |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin

  /** Byte-level feature extraction over the binary payload: a 16-bin
    * histogram of high nibbles (a real computation standing in for e.g. a
    * color histogram) and a stride-downsampled byte signature (the "resize"
    * shape: fixed-size output regardless of payload size). */
  def mediaFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hexChars = Seq("0", "1", "2", "3", "4", "5", "6", "7",
      "8", "9", "A", "B", "C", "D", "E", "F")
    Tables.documents(s, dir)
      .filter($"doc_id" < 200)
      .withColumn("hx", hex($"text".cast(BinaryType)))
      // high nibble of each byte = every odd hex char: collapse each hex
      // pair to its first char ONCE, then count each nibble value with
      // native length/replace — all codegen'd string ops. (The previous
      // form built a per-byte array and ran 16 interpreted HOF filters
      // over it: ~50k interpreted lambda calls per KB of payload.)
      .withColumn("nibs", regexp_replace($"hx", "(.).", "$1"))
      .select(
        $"doc_id",
        concat_ws(",", hexChars.map(c =>
          (length($"nibs") - length(replace($"nibs", lit(c), lit(""))))
            .cast("int")): _*).as("nib_hist"),
        expr("concat_ws('', transform(sequence(0, 15), k -> substring(hx, k*16+1, 2)))")
          .as("stride_sig"))
      .orderBy($"doc_id")
  }

  val mediaFeaturesSql: String =
    """WITH h AS (
      |  SELECT doc_id, hex(CAST(text AS BLOB)) AS hx
      |  FROM documents WHERE doc_id < 200),
      |n AS (
      |  SELECT doc_id, hx,
      |    list_transform(generate_series(1, length(hx) // 2),
      |      i -> substring(hx, i*2-1, 1)) AS nibs
      |  FROM h)
      |SELECT doc_id,
      |  array_to_string(list_transform(
      |    string_split('0,1,2,3,4,5,6,7,8,9,A,B,C,D,E,F', ','),
      |    c -> len(list_filter(nibs, x -> x = c))), ',') AS nib_hist,
      |  array_to_string(list_transform(generate_series(0, 15),
      |    k -> substring(hx, k*16+1, 2)), '') AS stride_sig
      |FROM n ORDER BY doc_id""".stripMargin

  /** X-multimodal dedup: perceptual GRADIENT hash (the dHash family) over
    * the binary payload — bit i is set when stride-sampled byte i exceeds
    * byte i+1, so the 15-bit hash captures the payload's coarse "shape"
    * and survives small edits (the property content hashes lack and
    * near-dup detection needs). Bytes come from the same 16-position
    * stride sample as the resize signature; byte values decode from hex
    * pairs through the instr/strpos alphabet polynomial (exact integers,
    * engine-identical). Output is the 16-band census with per-band
    * distinct-hash counts — collisions (n_docs > n_hashes) are the
    * near-dup candidates at corpus scale. Payloads under 128 bytes are
    * excluded (every stride position must exist: Spark's instr('', …)
    * and DuckDB's strpos diverge on empty needles).
    *
    * Scale: fully narrow per-row arithmetic + one 16-group aggregate —
    * the same zero-shuffle shape as the simhash tier. */
  def mediaPhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter($"doc_id" < 200 &&
        octet_length($"text".cast(BinaryType)) >= 128)
      .withColumn("hx", hex($"text".cast(BinaryType)))
      .withColumn("vals", expr(
        "transform(sequence(0, 15), k -> " +
          "(instr('0123456789ABCDEF', substring(hx, k*16+1, 1)) - 1) * 16 + " +
          "(instr('0123456789ABCDEF', substring(hx, k*16+2, 1)) - 1))"))
      .withColumn("phash", expr(
        "aggregate(sequence(0, 14), 0L, (acc, i) -> acc + " +
          "IF(element_at(vals, i+1) > element_at(vals, i+2), " +
          "shiftleft(cast(1 as bigint), i), 0L))"))
      .groupBy(expr("phash div 2048").as("band"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"phash").as("n_hashes"))
      .orderBy($"band")
  }

  val mediaPhashSql: String =
    """WITH h AS (
      |  SELECT doc_id, hex(CAST(text AS BLOB)) AS hx
      |  FROM documents
      |  WHERE doc_id < 200 AND octet_length(CAST(text AS BLOB)) >= 128),
      |v AS (
      |  SELECT doc_id, list_transform(range(0, 16), k ->
      |    (strpos('0123456789ABCDEF', substring(hx, k*16+1, 1)) - 1) * 16
      |    + (strpos('0123456789ABCDEF', substring(hx, k*16+2, 1)) - 1)) AS vals
      |  FROM h),
      |p AS (
      |  SELECT doc_id, CAST(list_sum(list_transform(range(1, 16), i ->
      |    CASE WHEN vals[i] > vals[i+1]
      |         THEN (CAST(1 AS BIGINT) << (i-1)) ELSE 0 END)) AS BIGINT)
      |    AS phash
      |  FROM v)
      |SELECT phash // 2048 AS band, COUNT(*) AS n_docs,
      |  CAST(COUNT(DISTINCT phash) AS BIGINT) AS n_hashes
      |FROM p GROUP BY 1 ORDER BY band""".stripMargin

  /** Real-format dimension census: structurally valid PNG/JPEG/GIF/BMP
    * payloads (built to spec by [[MediaFixtures]], dims a function of
    * doc_id) flow through the typed batched-decode path, and the REAL
    * header parsers — PNG IHDR / BMP INFOHEADER / GIF screen descriptor
    * fixed offsets, JPEG SOFn segment scan — extract width/height from the
    * bytes. The oracle states the generation formula directly, so the
    * hash match holds iff the decode tier read the right integers out of
    * every real header (the stub would emit byte-length-derived dims and
    * fail). This is the reference's contract-test discipline
    * (`tests/integration/test_cta_api_response.py:20-40`) applied to the
    * binary column.
    *
    * Scale: fixture synthesis stands in for reading a binary parquet
    * column; decode is the narrow per-partition batch map — zero shuffle
    * until the presentation sort. */
  def mediaDims(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir).filter($"doc_id" < 60)
      .select($"doc_id").as[Long]
      .map { id =>
        val w = 16 + (id % 7).toInt * 3
        val h = 9 + (id % 5).toInt * 2
        val bytes = (id % 4) match {
          case 0 => MediaFixtures.png(w, h)
          case 1 => MediaFixtures.jpeg(w, h)
          case 2 => MediaFixtures.gif(w, h)
          case _ => MediaFixtures.bmp(w, h)
        }
        (id, bytes)
      }
    MediaDecode.decodePartitioned(media)
      .toDF()
      .select($"doc_id", $"magic_hex", $"byte_len", $"width", $"height")
      .orderBy($"doc_id")
  }

  /** Oracle: the expected metadata as pure formula — magic bytes and fixed
    * container length per format, dims from the generator. Anything the
    * parsers misread diverges here. */
  val mediaDimsSql: String =
    """SELECT doc_id,
      |  CASE doc_id % 4 WHEN 0 THEN '89504e47' WHEN 1 THEN 'ffd8ffc0'
      |    WHEN 2 THEN '47494638' ELSE '424d3600' END AS magic_hex,
      |  CAST(CASE doc_id % 4 WHEN 0 THEN 45 WHEN 1 THEN 23
      |    WHEN 2 THEN 14 ELSE 54 END AS BIGINT) AS byte_len,
      |  CAST(16 + (doc_id % 7) * 3 AS INTEGER) AS width,
      |  CAST(9 + (doc_id % 5) * 2 AS INTEGER) AS height
      |FROM documents WHERE doc_id < 60 ORDER BY doc_id""".stripMargin

  /** Perceptual dHash over REAL PIXELS in THREE real containers: docs
    * rotate mod 3 through a complete 24bpp BMP, a complete
    * zlib-compressed grayscale PNG, and a complete LZW-coded indexed
    * GIF — all spec-built with the SAME deterministic per-doc gradient —
    * and all flow through [[MediaDecode.decodeRasterGray]]: the
    * codec-free BMP byte parse (header-declared pixel offset, bottom-up
    * rows, 4-byte padding, BGR, BT.601) or a full ImageIO entropy
    * decode (inflate + defilter for PNG; LZW string-table decode +
    * identity-gray palette for GIF). The classic 9×8
    * [[MediaDecode.dhash64]] runs over the decoded grid; the 64-bit hash
    * ships as two 32-bit halves (engines disagree on 1<<63 overflow).
    *
    * The oracle restates pixel generation + sampling + comparison as
    * pure formula — container-blind, since both containers encode the
    * identical raster — so the hash match holds iff every pixel byte was
    * recovered from its spec-mandated position THROUGH both decode
    * paths: a byte-stub, an off-by-one in stride/padding/channel order,
    * or a color-space-shifted PNG read flips bits. Stubs remain only for
    * payloads no registered reader decodes.
    *
    * Scale: same shape as the dims census — synthesis stands in for a
    * binary parquet column; decode + hash are the narrow batched
    * mapPartitions map; zero shuffle before the presentation sort. */
  /** Decoded-raster dHashes for docs with id < n — the mixed
    * BMP/PNG/GIF fixture synthesis + real container decode shared by the
    * phash census (n = 60) and the near-dup hash join (n = 120). */
  /** The synthetic raster corpus of docs `< n`: a (16+3·(id%7)) ×
    * (9+2·(id%5)) gradient `(7x + 13y + 31·id) % 256`, shipped as BMP, PNG
    * or GIF by `id % 3` — the pixel formula the raster oracles restate. */
  private def rasterMedia(s: SparkSession, dir: String,
      n: Long): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, dir).filter($"doc_id" < n)
      .select($"doc_id").as[Long]
      .map { id =>
        val w = 16 + (id % 7).toInt * 3
        val h = 9 + (id % 5).toInt * 2
        val pix = (x: Int, y: Int) => (x * 7 + y * 13 + id.toInt * 31) % 256
        (id, (id % 3) match {
          case 0 => MediaFixtures.bmpRaster(w, h, pix)
          case 1 => MediaFixtures.pngRaster(w, h, pix)
          case _ => MediaFixtures.gifRaster(w, h, pix)
        })
      }
  }

  private def rasterHashes(s: SparkSession, dir: String, n: Long): DataFrame = {
    import s.implicits._
    rasterMedia(s, dir, n).mapPartitions { it =>
      it.map { case (id, bytes) =>
        val g = MediaDecode.decodeRasterGray(bytes).getOrElse(
          sys.error(s"doc $id: fixture did not raster-decode"))
        val hash = MediaDecode.dhash64(g)
        RasterHash(id, g(0).length, g.length, hash >>> 32, hash & 0xffffffffL)
      }
    }.toDF()
  }

  def mediaPhashRaster(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    rasterHashes(s, dir, 60L).orderBy($"doc_id")
  }

  /** Oracle: the dHash bit condition as formula. Pixel (x, y) of doc d is
    * (x·7 + y·13 + d·31) mod 256 (gray in all channels ⇒ BT.601 luminance
    * is the value itself); sample x_i = i·w div 9, y_j = j·h div 8; bit
    * j·8+i set iff the sampled value outranks its right neighbor. */
  /** DuckDB restatement of the per-doc raster dHash (generation +
    * sampling + comparison as pure formula) for docs with id < n. */
  private def rasterHashesSql(n: Long): String = {
    val w = "(16 + (doc_id % 7) * 3)"
    val h = "(9 + (doc_id % 5) * 2)"
    def vAt(xExpr: String) =
      s"(($xExpr) * 7 + ((k // 8) * $h // 8) * 13 + doc_id * 31) % 256"
    val bit =
      s"CASE WHEN ${vAt(s"(k % 8) * $w // 9")} > ${vAt(s"((k % 8) + 1) * $w // 9")}" +
        " THEN CAST(1 AS BIGINT) << CAST(k % 32 AS INTEGER) ELSE CAST(0 AS BIGINT) END"
    s"""SELECT doc_id,
       |  CAST($w AS INTEGER) AS width,
       |  CAST($h AS INTEGER) AS height,
       |  CAST(list_sum(list_transform(range(32, 64), k -> $bit)) AS BIGINT) AS dhash_hi,
       |  CAST(list_sum(list_transform(range(0, 32), k -> $bit)) AS BIGINT) AS dhash_lo
       |FROM documents WHERE doc_id < $n""".stripMargin
  }

  val mediaPhashRasterSql: String =
    rasterHashesSql(60L) + "\nORDER BY doc_id"

  /** Max Hamming distance for [[mediaNearDup]] and its band count. With
    * T < BANDS the multi-index scheme is EXACT by pigeonhole: ≤T
    * differing bits spread over 4 disjoint 16-bit bands leave at least
    * one band identical, so every qualifying pair shares a bucket. */
  private[graft] val NEARDUP_N = 120L
  private[graft] val NEARDUP_T = 3L

  /** IMAGE near-dup detection over decoded rasters — the multimodal
    * completion of the X2 text-dedup family: every image pipeline dedups
    * by perceptual-hash distance, and the scalable form is multi-index
    * hashing (band the 64-bit dHash into 4 disjoint 16-bit keys; any two
    * hashes within Hamming ≤ [[NEARDUP_T]] MUST collide on ≥1 band by
    * pigeonhole, so candidates come only from equi-join buckets — never
    * an all-pairs scan — and recall is exactly 1, not probabilistic).
    * Candidates then verify by exact popcount on the hi/lo halves.
    * Output: the per-distance pair census (d = 0 are hash-identical
    * images, the exact-dup tier; 1..T the near-dups).
    *
    * The corpus is the raster-fixture family (BMP/PNG/GIF rotate, real
    * container decode), widened to 120 docs so band buckets genuinely
    * collide across size classes.
    *
    * Scale: band explode is ×4 narrow; the self-join is an equi-join on
    * (band, value) — bucket sizes are the 1/65536 hash marginals (skew
    * capped the X2 way if a degenerate corpus concentrates a bucket);
    * verification is O(candidates) integer popcounts. */
  def mediaNearDup(s: SparkSession, dir: String): DataFrame =
    mediaNearDupOf(nearDupIndex(s, dir))

  /** The candidate-join + verify + census over an arbitrary banded index
    * — factored so the pigeonhole-completeness pin can drive it on
    * generated hashes. */
  private[graft] def mediaNearDupOf(banded: DataFrame): DataFrame = {
    import banded.sparkSession.implicits._
    val a = banded.toDF("a_id", "a_hi", "a_lo", "band", "bv")
    val bb = banded.toDF("b_id", "b_hi", "b_lo", "band", "bv")
    val cands = a.join(bb, Seq("band", "bv"))
      .filter($"a_id" < $"b_id")
      .select($"a_id", $"b_id", $"a_hi", $"a_lo", $"b_hi", $"b_lo")
      .distinct()
    cands
      .withColumn("hamming",
        (bit_count($"a_hi".bitwiseXOR($"b_hi"))
          + bit_count($"a_lo".bitwiseXOR($"b_lo"))).cast("long"))
      .filter($"hamming" <= NEARDUP_T)
      .groupBy($"hamming")
      .agg(count(lit(1)).as("n_pairs"),
        min($"a_id").as("min_a"), max($"b_id").as("max_b"))
      .orderBy($"hamming")
  }

  val mediaNearDupSql: String =
    s"""WITH hashes AS (
       |${rasterHashesSql(NEARDUP_N)}),
       |banded AS (
       |  SELECT doc_id, dhash_hi, dhash_lo, b.band,
       |    CASE b.band WHEN 0 THEN dhash_lo & 65535
       |      WHEN 1 THEN (dhash_lo >> 16) & 65535
       |      WHEN 2 THEN dhash_hi & 65535
       |      ELSE (dhash_hi >> 16) & 65535 END AS bv
       |  FROM hashes, (SELECT unnest([0, 1, 2, 3]) AS band) b),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |    a.dhash_hi AS a_hi, a.dhash_lo AS a_lo,
       |    b.dhash_hi AS b_hi, b.dhash_lo AS b_lo
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT a_id, b_id,
       |    CAST(bit_count(xor(a_hi, b_hi)) + bit_count(xor(a_lo, b_lo))
       |      AS BIGINT) AS hamming
       |  FROM cands)
       |SELECT hamming, COUNT(*) AS n_pairs,
       |  MIN(a_id) AS min_a, MAX(b_id) AS max_b
       |FROM pairs WHERE hamming <= $NEARDUP_T
       |GROUP BY 1 ORDER BY hamming""".stripMargin

  /** The banded hash INDEX of [[mediaNearDup]]'s corpus — (band, bv,
    * doc_id, dhash_hi, dhash_lo), 4 rows per image: what a production
    * image-dedup service persists (via
    * [[graft.sources.ArtifactStore]]) and probes per arriving image.
    * Index-sized ×4, never pixel data. */
  private[graft] def nearDupIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bandHashes(rasterHashes(s, dir, NEARDUP_N)
      .select($"doc_id", $"dhash_hi", $"dhash_lo"))
  }

  /** Band a (doc_id, dhash_hi, dhash_lo) relation into the 4 disjoint
    * 16-bit multi-index keys. */
  private[graft] def bandHashes(h: DataFrame): DataFrame = {
    import h.sparkSession.implicits._
    val bandCols = Seq(
      (0, $"dhash_lo".bitwiseAND(lit(65535L))),
      (1, shiftright($"dhash_lo", 16).bitwiseAND(lit(65535L))),
      (2, $"dhash_hi".bitwiseAND(lit(65535L))),
      (3, shiftright($"dhash_hi", 16).bitwiseAND(lit(65535L))))
    h.select($"doc_id", $"dhash_hi", $"dhash_lo",
      explode(array(bandCols.map { case (i, c) =>
        struct(lit(i).as("band"), c.as("bv"))
      }: _*)).as("b"))
      .select($"doc_id", $"dhash_hi", $"dhash_lo", $"b.band", $"b.bv")
  }

  /** Decode + hash a batch of raw image payloads — the narrow map an
    * arriving image stream runs before probing the index. */
  private[graft] def hashImages(images: Dataset[(Long, Array[Byte])]): DataFrame = {
    import images.sparkSession.implicits._
    images.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val g = MediaDecode.decodeRasterGray(bytes).getOrElse(
          sys.error(s"image $id: payload did not raster-decode"))
        val hash = MediaDecode.dhash64(g)
        (id, hash >>> 32, hash & 0xffffffffL)
      }
    }.toDF("doc_id", "dhash_hi", "dhash_lo")
  }

  /** Probe arriving images against a published banded index: decode →
    * dHash → band → equi-join on (band, value) → exact popcount ≤
    * [[NEARDUP_T]] — emits (new_id, corpus_id, hamming), each match
    * once. Recall is exactly 1 by the same pigeonhole as
    * [[mediaNearDup]]. Shared by the batch path and
    * [[graft.streaming.StreamJobs.imageNearDupServeStream]]. */
  private[graft] def nearDupServe(images: Dataset[(Long, Array[Byte])],
      index: DataFrame): DataFrame = {
    import images.sparkSession.implicits._
    val probe = bandHashes(hashImages(images))
      .toDF("new_id", "n_hi", "n_lo", "band", "bv")
    val idx = index.toDF("corpus_id", "c_hi", "c_lo", "band", "bv")
    probe.join(idx, Seq("band", "bv"))
      .filter($"new_id" =!= $"corpus_id")
      .select($"new_id", $"corpus_id", $"n_hi", $"n_lo", $"c_hi", $"c_lo")
      .distinct()
      .withColumn("hamming",
        (bit_count($"n_hi".bitwiseXOR($"c_hi"))
          + bit_count($"n_lo".bitwiseXOR($"c_lo"))).cast("long"))
      .filter($"hamming" <= NEARDUP_T)
      .select($"new_id", $"corpus_id", $"hamming")
  }

  /** Resize over REAL PIXELS — the second honest raster op: the same
    * BMP/PNG/GIF mixed-container payloads decode through
    * [[MediaDecode.decodeRasterGray]] and downsample via
    * [[MediaDecode.resizeNN]] to a 4×4 thumbnail (the feature-extraction
    * shape every image pipeline runs before embedding / dedup). The 16
    * gray bytes ship packed 8-per-long plus the integer mean — all
    * integer arithmetic, so the oracle restates pixel generation + NN
    * sampling as a container-blind formula and the hash pins every
    * sampled byte's source coordinate through both decode paths.
    *
    * Scale: identical to the phash tier — narrow batched mapPartitions
    * decode+resize, zero shuffle before the presentation sort; at 100 TB
    * the same map emits a thumbnail column for a downstream embedding
    * model instead of packed longs. */
  def mediaResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    rasterMedia(s, dir, 60L).mapPartitions { it =>
      it.map { case (id, bytes) =>
        val g = MediaDecode.decodeRasterGray(bytes).getOrElse(
          sys.error(s"doc $id: fixture did not raster-decode"))
        val t = MediaDecode.resizeNN(g, 4, 4)
        def packRow(j: Int): Long =
          (0 until 4).map(i => t(j)(i).toLong << (8 * i)).sum
        RasterThumb(id, g(0).length, g.length,
          packRow(0), packRow(1), packRow(2), packRow(3),
          t.flatten.map(_.toLong).sum / 16)
      }
    }.toDF()
      .orderBy($"doc_id")
  }

  /** Oracle: thumbnail pixel (i, j) of doc d is the generator formula
    * evaluated at the NN source coordinate (i·w div 4, j·h div 4). */
  val mediaResizeSql: String = {
    val w = "(16 + (doc_id % 7) * 3)"
    val h = "(9 + (doc_id % 5) * 2)"
    def vAt(i: String, j: String) =
      s"((($i) * $w // 4) * 7 + (($j) * $h // 4) * 13 + doc_id * 31) % 256"
    def row(j: Int) =
      s"CAST(list_sum(list_transform(range(0, 4),\n" +
        s"    k -> CAST(${vAt("k", j.toString)} AS BIGINT) << CAST(8 * k AS INTEGER))) AS BIGINT) AS thumb_r$j"
    s"""SELECT doc_id,
       |  CAST($w AS INTEGER) AS width,
       |  CAST($h AS INTEGER) AS height,
       |  ${row(0)},
       |  ${row(1)},
       |  ${row(2)},
       |  ${row(3)},
       |  CAST(list_sum(list_transform(range(0, 16),
       |    k -> CAST(${vAt("k % 4", "k // 4")} AS BIGINT))) // 16 AS BIGINT) AS mean_px
       |FROM documents WHERE doc_id < 60 ORDER BY doc_id""".stripMargin
  }

  /** AUDIO features over REAL PCM — the audio modality done with the
    * BMP tier's honesty: every doc carries a complete spec-built
    * RIFF/WAVE (16-bit mono PCM, deterministic pseudo-noise samples),
    * decoded by [[MediaDecode.decodeWavPcm16]]'s chunk-walking byte
    * parse, and the features every audio curation pipeline computes —
    * duration, peak, mean-square energy, zero-crossing count (the
    * classic cheap voicing/noisiness signal) — come off the DECODED
    * sample array, integer-exact. The oracle restates sample generation
    * + every feature as formula, so the hash pins each sample byte's
    * little-endian signed decode through the chunk walk.
    *
    * Scale: same shape as the raster tiers — narrow batched
    * mapPartitions decode over an opaque binary column, zero shuffle
    * before the presentation sort; at 100 TB the same map feeds
    * sample-level features to a quality gate. */
  def mediaAudio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir).filter($"doc_id" < 60)
      .select($"doc_id").as[Long]
      .map { id =>
        val n = 400 + (id % 7).toInt * 160
        val smp = (t: Int) => ((t * 2917 + id.toInt * 5081) % 65536) - 32768
        (id, MediaFixtures.wavPcm16(8000, n, smp))
      }
    media.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val (rate, smp) = MediaDecode.decodeWavPcm16(bytes).getOrElse(
          sys.error(s"doc $id: WAV fixture did not decode"))
        val n = smp.length
        var sq = 0L; var peak = 0L; var zc = 0L
        var t = 0
        while (t < n) {
          val v = smp(t).toLong
          sq += v * v
          if (math.abs(v) > peak) peak = math.abs(v)
          if (t > 0 && (smp(t) >= 0) != (smp(t - 1) >= 0)) zc += 1
          t += 1
        }
        AudioFeat(id, rate.toLong, n.toLong, n.toLong * 1000 / rate,
          peak, sq / n, zc)
      }
    }.toDF()
      .orderBy($"doc_id")
  }

  /** Oracle: sample t of doc d is ((t·2917 + d·5081) mod 65536) − 32768;
    * every feature restated over `range(n)` lists. */
  val mediaAudioSql: String = {
    val n = "(400 + (doc_id % 7) * 160)"
    def v(t: String) = s"((($t) * 2917 + doc_id * 5081) % 65536 - 32768)"
    s"""SELECT doc_id,
       |  CAST(8000 AS BIGINT) AS sample_rate,
       |  CAST($n AS BIGINT) AS n_samples,
       |  CAST($n * 1000 // 8000 AS BIGINT) AS duration_ms,
       |  CAST(list_max(list_transform(range(0, $n), t -> abs(${v("t")}))) AS BIGINT) AS peak_abs,
       |  CAST(list_sum(list_transform(range(0, $n), t -> ${v("t")} * ${v("t")})) // $n AS BIGINT) AS mean_square,
       |  CAST(list_sum(list_transform(range(1, $n), t ->
       |    CASE WHEN (${v("t")} >= 0) <> (${v("t - 1")} >= 0) THEN 1 ELSE 0 END)) AS BIGINT) AS zero_crossings
       |FROM documents WHERE doc_id < 60 ORDER BY doc_id""".stripMargin
  }

  /** (timescale, duration units, track count) of doc `id`'s video
    * fixtures: 600·(1+id%3), ts·(2+id%7)+id%97, 1+id%3. */
  private def videoClock(id: Long): (Int, Int, Int) = {
    val ts = 600 * (1 + (id % 3).toInt)
    (ts, ts * (2 + (id % 7).toInt) + (id % 97).toInt, 1 + (id % 3).toInt)
  }

  /** VIDEO-container metadata decode over real ISO-BMFF (MP4) bytes —
    * the modality's honest tier: each doc carries a spec-built
    * [[MediaFixtures.mp4Container]] (true big-endian box framing: ftyp,
    * a free box the walker must skip, moov{mvhd, trak…}, mdat), and
    * [[MediaDecode.decodeMp4Meta]] WALKS the boxes — sizes, not fixed
    * offsets — to emit timescale, duration (units and ms), track count,
    * and the mdat byte count + sum (the payload is actually read; frame
    * decode itself is the codec stage this pass schedules, stubbed by
    * design on a JDK-only stack). Oracle restates every feature from
    * the fixture formulas, so the hash pins the real walk.
    *
    * Scale: narrow typed map + batched mapPartitions decode, zero
    * shuffle before the presentation sort — the schema/partitioning/
    * batch shape a 100-TB video ingest uses, with the GPU codec slotted
    * where decodeMp4Meta's mdat scan sits. */
  def mediaVideo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir).filter($"doc_id" < 60)
      .select($"doc_id").as[Long]
      .map { id =>
        val (ts, durU, nTr) = videoClock(id)
        val ml = 50 + (id % 11).toInt * 7
        (id, MediaFixtures.mp4Container(ts, durU, nTr, ml,
          t => (t * 31 + id.toInt * 17) % 256))
      }
    media.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val (ts, durU, nTr, mb, msum) = MediaDecode.decodeMp4Meta(bytes)
          .getOrElse(sys.error(s"doc $id: MP4 fixture did not walk"))
        VideoMeta(id, ts, durU, durU * 1000 / ts, nTr, mb, msum)
      }
    }.toDF()
      .orderBy($"doc_id")
  }

  /** Oracle: every feature restated from the fixture formulas (timescale
    * 600·(1+id%3), duration ts·(2+id%7)+id%97, tracks 1+id%3, mdat
    * payload byte t = (t·31+id·17)%256). */
  val mediaVideoSql: String = {
    val ts = "(600 * (1 + doc_id % 3))"
    val durU = s"($ts * (2 + doc_id % 7) + doc_id % 97)"
    val ml = "(50 + (doc_id % 11) * 7)"
    s"""SELECT doc_id,
       |  CAST($ts AS BIGINT) AS timescale,
       |  CAST($durU AS BIGINT) AS duration_units,
       |  CAST($durU * 1000 // $ts AS BIGINT) AS duration_ms,
       |  CAST(1 + doc_id % 3 AS BIGINT) AS n_tracks,
       |  CAST($ml AS BIGINT) AS mdat_bytes,
       |  CAST(list_sum(list_transform(range(0, $ml),
       |    t -> (t * 31 + doc_id * 17) % 256)) AS BIGINT) AS mdat_sum
       |FROM documents WHERE doc_id < 60 ORDER BY doc_id""".stripMargin
  }

  /** SAMPLE-TABLE schedule over full-depth ISO-BMFF — per-frame METADATA
    * without a codec: each doc carries a
    * [[MediaFixtures.mp4ContainerStbl]] container whose traks hold real
    * `stbl{stsz, stts}` tables, whose `mdat` ships with the 64-bit
    * `largesize` encoding, and which ends in a to-EOF `size == 0` box —
    * [[MediaDecode.decodeMp4Samples]] descends moov→trak→mdia→minf→stbl
    * and emits one row per track: sample count, total sample bytes
    * (per-sample stsz list), and run-length-decoded stts duration — the
    * schedule a frame-extraction stage fans out over. The mdat byte sum
    * rides along from [[MediaDecode.decodeMp4Meta]] so the largesize
    * payload OFFSET (16-byte header, not 8) is pinned by the hash gate
    * too. Oracle restates every value from the fixture formulas.
    *
    * Scale: narrow typed map + batched mapPartitions walk, zero shuffle
    * before the presentation sort; the codec/GPU frame decode remains
    * the declared stub this schedule feeds. */
  def mediaVideoSamples(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir).filter($"doc_id" < 60)
      .select($"doc_id").as[Long]
      .map { id =>
        val (ts, durU, nTr) = videoClock(id)
        val ml = 40 + (id % 7).toInt * 9
        (id, MediaFixtures.mp4ContainerStbl(ts, durU, nTr, ml,
          t => (t * 13 + id.toInt * 7) % 256,
          i => 3 + ((id.toInt + i) % 5),
          (i, k) => 10 + ((k * 7 + i * 3 + id.toInt) % 23),
          (i, k) => 1 + ((k + i + id.toInt) % 4)))
      }
    media.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        val (_, _, _, mb, msum) = MediaDecode.decodeMp4Meta(bytes)
          .getOrElse(sys.error(s"doc $id: largesize/to-EOF walk failed"))
        MediaDecode.decodeMp4Samples(bytes)
          .getOrElse(sys.error(s"doc $id: stbl walk failed"))
          .map { case (trk, n, sb, du) =>
            TrackSample(id, trk, n, sb, du, mb, msum) }
      }
    }.toDF().orderBy($"doc_id", $"track")
  }

  /** Oracle: tracks 0..doc_id%3, n = 3+(doc_id+track)%5, sample k is
    * 10+(k·7+track·3+doc_id)%23 bytes and 1+(k+track+doc_id)%4 units;
    * mdat payload byte t = (t·13+doc_id·7)%256 over 40+(doc_id%7)·9. */
  val mediaVideoSamplesSql: String = {
    val n = "(3 + (doc_id + track) % 5)"
    val ml = "(40 + (doc_id % 7) * 9)"
    s"""WITH tr AS (
       |  SELECT doc_id, unnest(range(0, 1 + doc_id % 3)) AS track
       |  FROM documents WHERE doc_id < 60)
       |SELECT doc_id, CAST(track AS BIGINT) AS track,
       |  CAST($n AS BIGINT) AS n_samples,
       |  CAST(list_sum(list_transform(range(0, $n),
       |    k -> 10 + (k * 7 + track * 3 + doc_id) % 23)) AS BIGINT)
       |    AS sample_bytes,
       |  CAST(list_sum(list_transform(range(0, $n),
       |    k -> 1 + (k + track + doc_id) % 4)) AS BIGINT)
       |    AS duration_units,
       |  CAST($ml AS BIGINT) AS mdat_bytes,
       |  CAST(list_sum(list_transform(range(0, $ml),
       |    t -> (t * 13 + doc_id * 7) % 256)) AS BIGINT) AS mdat_sum
       |FROM tr ORDER BY doc_id, track""".stripMargin
  }

  /** FRAME-SAMPLING over a REAL multi-frame container — the video-ish
    * op of the multimodal mandate, on animated GIF (the only multi-frame
    * format a JDK-only stack honestly decodes): each doc carries a
    * spec-built [[MediaFixtures.gifAnimRaster]] (2-5 full-size frames,
    * per-frame LZW streams), [[MediaDecode.decodeFramesGray]] walks the
    * reader's frame index, and the query emits the frame COUNT plus the
    * stride sample every video pipeline takes — integer mean luminance
    * of the first / middle / last frame (middle = `n_frames div 2`,
    * exactly the frame-sample stub's stride shape, now over real decoded
    * pixels). Oracle restates per-frame pixel generation as formula.
    *
    * Scale: narrow batched mapPartitions decode, zero shuffle before the
    * presentation sort; at 100 TB the same map emits sampled frames (not
    * means) into a downstream embedding decode. */
  def mediaFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir).filter($"doc_id" < 60)
      .select($"doc_id").as[Long]
      .map { id =>
        val w = 10 + (id % 4).toInt * 3
        val h = 8 + (id % 3).toInt * 2
        val f = 2 + (id % 4).toInt
        val pixF = (x: Int, y: Int, fr: Int) =>
          (x * 7 + y * 11 + fr * 29 + id.toInt * 13) % 256
        (id, MediaFixtures.gifAnimRaster(w, h, f, pixF))
      }
    media.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val frames = MediaDecode.decodeFramesGray(bytes).getOrElse(
          sys.error(s"doc $id: animated fixture did not decode"))
        def mean(g: Array[Array[Int]]): Long = {
          val px = g.flatten
          px.map(_.toLong).sum / px.length
        }
        val nf = frames.length
        FrameSample(id, frames.head(0).length, frames.head.length, nf.toLong,
          mean(frames.head), mean(frames(nf / 2)), mean(frames(nf - 1)))
      }
    }.toDF()
      .orderBy($"doc_id")
  }

  /** Oracle: frame f's pixel (x, y) of doc d is
    * (x·7 + y·11 + f·29 + d·13) mod 256, mean over the w×h grid (k%w,
    * k div w), frames sampled at 0, n div 2, n−1. */
  val mediaFramesSql: String = {
    val w = "(10 + (doc_id % 4) * 3)"
    val h = "(8 + (doc_id % 3) * 2)"
    val nf = "(2 + (doc_id % 4))"
    def mean(f: String) =
      s"CAST(list_sum(list_transform(range(0, $w * $h), k ->\n" +
        s"    ((k % $w) * 7 + (k // $w) * 11 + ($f) * 29 + doc_id * 13) % 256))" +
        s" // ($w * $h) AS BIGINT)"
    s"""SELECT doc_id,
       |  CAST($w AS INTEGER) AS width,
       |  CAST($h AS INTEGER) AS height,
       |  CAST($nf AS BIGINT) AS n_frames,
       |  ${mean("0")} AS mean_first,
       |  ${mean(s"$nf // 2")} AS mean_mid,
       |  ${mean(s"$nf - 1")} AS mean_last
       |FROM documents WHERE doc_id < 60 ORDER BY doc_id""".stripMargin
  }

  /** IMAGE-CAPTION pair-integrity audit — the label-noise census run
    * before caption-supervised (CLIP-style) training on (image, text)
    * pairs: treating each doc's decoded raster as the image and its text
    * as the caption, count (a) exact-duplicate image groups (identical
    * dHash bits) and how many of them carry CONFLICTING captions — the
    * same picture taught with two different labels, and (b) duplicate
    * caption groups and how many span DIFFERENT images — one label
    * weakly supervising unrelated pictures. Both directions are the
    * standard pair-corpus hygiene numbers; the four-row census is what a
    * cleaning step thresholds.
    *
    * Scale: the decode is the shared narrow raster pass; both group
    * families are hash aggregates on 16-byte keys — never pixel data
    * past the hash, never all-pairs. */
  def mediaPairAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val j = rasterHashes(s, dir, NEARDUP_N)
      .select($"doc_id", $"dhash_hi", $"dhash_lo")
      .join(Tables.documents(s, dir).filter($"doc_id" < NEARDUP_N)
        .select($"doc_id", md5($"text").as("cap_h")), Seq("doc_id"))
    val ig = j.groupBy($"dhash_hi", $"dhash_lo")
      .agg(count(lit(1)).as("n"), count_distinct($"cap_h").as("nc"))
      .filter($"n" >= 2)
    val cg = j.groupBy($"cap_h")
      .agg(count(lit(1)).as("n"),
        count_distinct(struct($"dhash_hi", $"dhash_lo")).as("ni"))
      .filter($"n" >= 2)
    Seq(
      ig.agg(count(lit(1)).as("n"))
        .select(lit("img_groups_multi").as("metric"), $"n"),
      ig.filter($"nc" >= 2).agg(count(lit(1)).as("n"))
        .select(lit("img_groups_caption_conflict").as("metric"), $"n"),
      cg.agg(count(lit(1)).as("n"))
        .select(lit("cap_groups_multi").as("metric"), $"n"),
      cg.filter($"ni" >= 2).agg(count(lit(1)).as("n"))
        .select(lit("cap_groups_image_conflict").as("metric"), $"n"))
      .reduce(_.unionByName(_))
      .orderBy($"metric")
  }

  val mediaPairAuditSql: String =
    s"""WITH hashes AS (
       |${rasterHashesSql(NEARDUP_N)}),
       |j AS (
       |  SELECT h.doc_id, dhash_hi, dhash_lo, md5(d.text) AS cap_h
       |  FROM hashes h JOIN documents d ON h.doc_id = d.doc_id),
       |ig AS (
       |  SELECT dhash_hi, dhash_lo, count(*) AS n,
       |    count(DISTINCT cap_h) AS nc
       |  FROM j GROUP BY 1, 2 HAVING count(*) >= 2),
       |cg AS (
       |  SELECT cap_h, count(*) AS n,
       |    count(DISTINCT (dhash_hi, dhash_lo)) AS ni
       |  FROM j GROUP BY 1 HAVING count(*) >= 2)
       |SELECT 'cap_groups_image_conflict' AS metric,
       |  CAST((SELECT count(*) FROM cg WHERE ni >= 2) AS BIGINT) AS n
       |UNION ALL SELECT 'cap_groups_multi',
       |  CAST((SELECT count(*) FROM cg) AS BIGINT)
       |UNION ALL SELECT 'img_groups_caption_conflict',
       |  CAST((SELECT count(*) FROM ig WHERE nc >= 2) AS BIGINT)
       |UNION ALL SELECT 'img_groups_multi',
       |  CAST((SELECT count(*) FROM ig) AS BIGINT)
       |ORDER BY metric""".stripMargin

  // --- M10: MJPEG video near-dup — the pixel-exact video tier ------------

  /** Videos under audit and the banded Hamming threshold (shared with the
    * image tier's pigeonhole guarantee). */
  private val MJPEG_N = 40L

  /** PIXEL-EXACT video near-dup (round 13 — the last modality stub
    * closed): each doc carries a spec-built MJPEG-in-MP4
    * ([[MediaFixtures.mp4Mjpeg]] wrapping REAL JDK-encoded JPEG frames),
    * and the pipeline runs the full honest chain — container walk → stsz
    * frame slicing ([[MediaDecode.decodeMp4FrameSlices]]) → per-frame
    * JPEG entropy+DCT decode (ImageIO) → dHash per frame → banded
    * 16-bit multi-index self-join → exact popcount — the video twin of
    * `q_multimodal_neardup`, with recall 1 for hamming ≤ [[NEARDUP_T]]
    * by the same pigeonhole. Construction: video 2k and 2k+1 embed
    * byte-identical frame sets (same content fingerprint ⇒ identical
    * decode ⇒ hamming 0), distinct fingerprints are pseudo-random, so
    * the TRUE near-dup relation is exactly the (2k, 2k+1) pairs — which
    * is what the oracle restates (JPEG's lossy pixels are not
    * formula-restatable; the RELATION the pipeline must recover is).
    * Each pair spans BOTH container layouts (even: single-track
    * contiguous; odd: muxed 2-track chunked/interleaved with co64 maps
    * and moov after mdat, [[MediaFixtures.mp4MjpegChunked]]), so the
    * recovered relation certifies the stsc/stco/co64 chunk walk and the
    * contiguous walk agree byte-for-byte.
    *
    * Scale: decode+hash is one narrow batched mapPartitions (the GPU
    * decode stage's schedule shape); the candidate join is band-bucketed
    * (4 exchanges of 16-bit keys), never all-pairs across frames. */
  def mediaMjpeg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir).filter($"doc_id" < MJPEG_N)
      .select($"doc_id").as[Long]
      .map { id =>
        val vid = (id / 2).toInt
        val frames = (0 until (2 + vid % 3)).map { k =>
          // Frame content is a dHash-grid-aligned block pattern encoding
          // a pseudo-random 64-bit signature per (vid, k): 9×8 cells of
          // 4×4 px whose brightness steps ±25 realize exactly the
          // signature's neighbor comparisons. Distinct videos thus sit
          // ~32 Hamming bits apart even AFTER the lossy JPEG round
          // (block steps of 25 survive DCT quantization; unstructured
          // noise does not — it blurs into near-identical hashes, which
          // is how the first cut of this fixture produced 76 false
          // pairs), while pair partners embed byte-identical JPEGs.
          val sig = { // splitmix64(vid * 97 + k)
            var z = (vid * 97L + k) + 0x9e3779b97f4a7c15L
            z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
            z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
            z ^ (z >>> 31)
          }
          val g = Array.tabulate(8, 9) { (j, i) => 0 } // filled below
          for (j <- 0 until 8) {
            g(j)(8) = 128
            for (i <- 7 to 0 by -1)
              g(j)(i) = g(j)(i + 1) +
                (if (((sig >>> (j * 8 + i)) & 1L) == 1L) 25 else -25)
          }
          MediaFixtures.jpegGray(36, 32,
            (x, y) => g(math.min(y / 4, 7))(math.min(x / 4, 8)))
        }
        // r14: pair partners carry the SAME frames in two DIFFERENT
        // container layouts — even docs the single-track contiguous
        // moov-first form, odd docs the muxed chunked form (soun track
        // listed first, interleaved chunks, co64 absolute offsets, moov
        // after mdat) — so a hamming-0 pair certifies the chunk-map walk
        // reproduces the contiguous walk's bytes exactly.
        val container =
          if (id % 2 == 0) MediaFixtures.mp4Mjpeg(600, frames)
          else {
            val aux = Seq.tabulate(2)(a =>
              Array.tabulate(6 + a)(t => ((id * 31 + a * 7 + t) & 0xff).toByte))
            MediaFixtures.mp4MjpegChunked(600, frames, aux)
          }
        (id, container)
      }
    val frameHashes = media.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        val frames = MediaDecode.decodeMp4FrameSlices(bytes)
          .getOrElse(sys.error(s"video $id: mdat frame slicing failed"))
        frames.zipWithIndex.map { case (jb, k) =>
          val g = MediaDecode.decodeImageIOGray(jb)
            .getOrElse(sys.error(s"video $id frame $k: JPEG decode failed"))
          val hh = MediaDecode.dhash64(g)
          (id, k.toLong, hh >>> 32, hh & 0xffffffffL)
        }
      }
    }.toDF("doc_id", "frame_idx", "dhash_hi", "dhash_lo")
    val banded = frameHashes.select($"doc_id", $"frame_idx",
      $"dhash_hi", $"dhash_lo",
      explode(array(
        struct(lit(0).as("band"), $"dhash_lo".bitwiseAND(lit(65535L)).as("bv")),
        struct(lit(1).as("band"), shiftright($"dhash_lo", 16).bitwiseAND(lit(65535L)).as("bv")),
        struct(lit(2).as("band"), $"dhash_hi".bitwiseAND(lit(65535L)).as("bv")),
        struct(lit(3).as("band"), shiftright($"dhash_hi", 16).bitwiseAND(lit(65535L)).as("bv")))).as("b"))
      .select($"doc_id", $"frame_idx", $"dhash_hi", $"dhash_lo",
        $"b.band".as("band"), $"b.bv".as("bv"))
    val a = banded.toDF("doc_a", "fa", "a_hi", "a_lo", "band", "bv")
    val bb = banded.toDF("doc_b", "fb", "b_hi", "b_lo", "band", "bv")
    a.join(bb, Seq("band", "bv"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b", $"fa", $"fb",
        $"a_hi", $"a_lo", $"b_hi", $"b_lo")
      .distinct()
      .withColumn("hamming",
        (bit_count($"a_hi".bitwiseXOR($"b_hi"))
          + bit_count($"a_lo".bitwiseXOR($"b_lo"))).cast("long"))
      .filter($"hamming" <= NEARDUP_T)
      .groupBy($"doc_a", $"doc_b")
      .agg(countDistinct($"fa").as("n_frames"),
        max($"hamming").as("max_hamming"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Oracle: the construction's true near-dup relation — pair (2k, 2k+1)
    * shares all 2+(k%3) frames byte-identically (max hamming 0); every
    * other video pair is pseudo-random-distinct and must NOT appear. */
  val mediaMjpegSql: String =
    s"""SELECT CAST(doc_id AS BIGINT) AS doc_a,
       |  CAST(doc_id + 1 AS BIGINT) AS doc_b,
       |  CAST(2 + (doc_id // 2) % 3 AS BIGINT) AS n_frames,
       |  CAST(0 AS BIGINT) AS max_hamming
       |FROM documents WHERE doc_id < $MJPEG_N AND doc_id % 2 = 0
       |ORDER BY doc_a""".stripMargin

  // --- M11: AUDIO near-dup via banded energy-delta fingerprints ----------

  /** Audio near-dup corpus size, Hamming threshold, frame layout. With
    * T < 4 bands the multi-index scheme is exact by pigeonhole (the
    * [[mediaNearDup]] argument on a 31-bit fingerprint split 8/8/8/7). */
  private val ADUP_N = 60L
  private val ADUP_T = 3L
  private val ADUP_FRAMES = 32
  private val ADUP_FLEN = 160

  /** Per-frame amplitude of doc d's square-wave fixture. Docs pair up by
    * g = d div 2: in every third group the odd member is the even
    * member's NEAR-DUP (one frame's amplitude bumped → ≤2 energy-delta
    * bits flip); in other groups the odd member gets an independent
    * envelope (uncorrelated bits, far in Hamming). Mirrored verbatim in
    * the oracle. */
  /** Nonlinear (g, f) mix — any LINEAR envelope `(αg + βf) mod m` is the
    * same 1-D sequence shifted per group, which made unrelated docs
    * collide at Hamming 0 (measured: 225 accidental identical
    * fingerprints); the xor-shift breaks the shift structure. Mirrored
    * operator-for-operator in the oracle. */
  private def audioMix(k: Long): Long =
    ((k ^ (k >> 7)) * 2654435761L % 2147483647L) % 5L

  private def audioAmp(d: Long, f: Int): Int = {
    val g = d / 2
    val base = (60 + 20 * audioMix(g * 1000003L + f)).toInt
    if (d % 2 == 0) base
    else if (g % 3 == 0) {
      val fx = (1 + (g * 7) % 30).toInt
      if (f == fx) base + 40 else base
    } else (60 + 20 * audioMix(g * 1000003L + f + 777777L)).toInt
  }

  /** AUDIO near-dup detection — the audio completion of the near-dup
    * family (text X2, image [[mediaNearDup]], video [[mediaMjpeg]]):
    * each doc carries a complete RIFF/WAVE 16-bit PCM fixture (square
    * wave, per-frame amplitude envelope), the chunk-walking byte parse
    * DECODES it, and the fingerprint is the classic cheap audio
    * signature — the sign of successive frame-ENERGY deltas (31 bits
    * over 32 × 160-sample frames), the Shazam/chromaprint family's
    * first stage. Banding the 31 bits into 4 disjoint keys makes
    * candidate generation an equi-join with recall exactly 1 for
    * Hamming ≤ [[ADUP_T]] (pigeonhole), never an all-pairs scan; exact
    * popcount verifies. Emits the per-distance pair census.
    *
    * The fixture's square wave makes frame energy EXACTLY 160·A² — the
    * energy-delta sign equals the amplitude-delta sign, which is how
    * the oracle pins every decoded sample byte through the energy fold
    * without restating 5120-element sums.
    *
    * Scale: decode + fingerprint is the narrow batched map every
    * modality tier uses; the index is 4 band rows per doc (what
    * `ArtifactStore` would persist); bucket join sizes are the band-key
    * marginals. */
  def audioNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir).filter($"doc_id" < ADUP_N)
      .select($"doc_id").as[Long]
      .map { id =>
        val amps = Array.tabulate(ADUP_FRAMES)(f => audioAmp(id, f))
        (id, MediaFixtures.wavPcm16(8000, ADUP_FRAMES * ADUP_FLEN,
          t => { val a = amps(t / ADUP_FLEN); if (t % 4 < 2) a else -a }))
      }
    val fps = media.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val (_, smp) = MediaDecode.decodeWavPcm16(bytes).getOrElse(
          sys.error(s"doc $id: WAV fixture did not decode"))
        val e = Array.tabulate(ADUP_FRAMES) { f =>
          var sq = 0L
          var t = f * ADUP_FLEN
          while (t < (f + 1) * ADUP_FLEN) {
            val v = smp(t).toLong; sq += v * v; t += 1
          }
          sq
        }
        var fp = 0L
        var f = 0
        while (f < ADUP_FRAMES - 1) {
          if (e(f + 1) > e(f)) fp |= 1L << f
          f += 1
        }
        (id, fp)
      }
    }.toDF("doc_id", "fp")
    val banded = fps.select($"doc_id", $"fp", explode(array(
        struct(lit(0).as("band"), $"fp".bitwiseAND(lit(255L)).as("bv")),
        struct(lit(1).as("band"),
          shiftright($"fp", 8).bitwiseAND(lit(255L)).as("bv")),
        struct(lit(2).as("band"),
          shiftright($"fp", 16).bitwiseAND(lit(255L)).as("bv")),
        struct(lit(3).as("band"),
          shiftright($"fp", 24).bitwiseAND(lit(127L)).as("bv")))).as("b"))
      .select($"doc_id", $"fp", $"b.band", $"b.bv")
    val a = banded.toDF("a_id", "a_fp", "band", "bv")
    val bb = banded.toDF("b_id", "b_fp", "band", "bv")
    a.join(bb, Seq("band", "bv"))
      .filter($"a_id" < $"b_id")
      .select($"a_id", $"b_id", $"a_fp", $"b_fp").distinct()
      .withColumn("hamming",
        bit_count($"a_fp".bitwiseXOR($"b_fp")).cast("long"))
      .filter($"hamming" <= ADUP_T)
      .groupBy($"hamming")
      .agg(count(lit(1)).as("n_pairs"),
        min($"a_id").as("min_a"), max($"b_id").as("max_b"))
      .orderBy($"hamming")
  }

  val audioNearDupSql: String = {
    def mix(k: String): String =
      s"((xor(($k), ($k) >> 7) * 2654435761 % 2147483647) % 5)"
    def amp(fv: String): String = {
      val base = s"(60 + 20 * ${mix(s"(doc_id // 2) * 1000003 + ($fv)")})"
      val pert =
        s"(60 + 20 * ${mix(s"(doc_id // 2) * 1000003 + ($fv) + 777777")})"
      val fx = "(1 + ((doc_id // 2) * 7) % 30)"
      s"""(CASE WHEN doc_id % 2 = 0 THEN $base
         |  WHEN (doc_id // 2) % 3 = 0 THEN
         |    (CASE WHEN ($fv) = $fx THEN $base + 40 ELSE $base END)
         |  ELSE $pert END)""".stripMargin
    }
    s"""WITH fp AS (
       |  SELECT doc_id, CAST(list_sum(list_transform(
       |    range(0, ${ADUP_FRAMES - 1}), f ->
       |      CASE WHEN ${amp("f + 1")} > ${amp("f")}
       |        THEN (CAST(1 AS BIGINT) << f) ELSE CAST(0 AS BIGINT) END))
       |    AS BIGINT) AS fp
       |  FROM documents WHERE doc_id < $ADUP_N),
       |banded AS (
       |  SELECT doc_id, fp, b.band,
       |    CASE b.band WHEN 0 THEN fp & 255
       |      WHEN 1 THEN (fp >> 8) & 255
       |      WHEN 2 THEN (fp >> 16) & 255
       |      ELSE (fp >> 24) & 127 END AS bv
       |  FROM fp, (SELECT unnest([0, 1, 2, 3]) AS band) b),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |    a.fp AS a_fp, b.fp AS b_fp
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT a_id, b_id,
       |    CAST(bit_count(xor(a_fp, b_fp)) AS BIGINT) AS hamming
       |  FROM cands)
       |SELECT hamming, COUNT(*) AS n_pairs,
       |  MIN(a_id) AS min_a, MAX(b_id) AS max_b
       |FROM pairs WHERE hamming <= $ADUP_T
       |GROUP BY 1 ORDER BY hamming""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_multimodal_audiodup", audioNearDup, Some(audioNearDupSql),
      "M11 audio near-dup: real WAV decode -> frame-energy-delta fingerprint -> banded multi-index, pigeonhole-exact"),
    QueryDef("q_multimodal_mjpeg", mediaMjpeg, Some(mediaMjpegSql),
      "M10 MJPEG video near-dup: stsz frame slice -> real JPEG decode -> per-frame dHash -> banded index"),
    QueryDef("q_multimodal_pairs", mediaPairAudit, Some(mediaPairAuditSql),
      "image-caption pair-integrity census: duplicate-image caption conflicts and duplicate-caption image conflicts"),
    QueryDef("q_multimodal_audio", mediaAudio, Some(mediaAudioSql),
      "REAL PCM audio features: RIFF chunk-walk decode, duration/peak/energy/zero-crossings"),
    QueryDef("q_multimodal_video", mediaVideo, Some(mediaVideoSql),
      "REAL MP4/ISO-BMFF box-walk metadata: timescale/duration/tracks + mdat payload checksum"),
    QueryDef("q_multimodal_video_samples", mediaVideoSamples,
      Some(mediaVideoSamplesSql),
      "MP4 stbl walk: per-track stsz/stts sample schedule + largesize/to-EOF box handling"),
    QueryDef("q_multimodal_frames", mediaFrames, Some(mediaFramesSql),
      "frame-sampling over REAL animated GIF: per-frame LZW decode, first/mid/last frame means"),
    QueryDef("q_multimodal_resize", mediaResize, Some(mediaResizeSql),
      "NN thumbnail over REAL decoded BMP+PNG rasters: 4x4 downsample, packed gray bytes + mean"),
    QueryDef("q_multimodal_phash_raster", mediaPhashRaster, Some(mediaPhashRasterSql),
      "dHash over REAL decoded rasters, BMP byte-parse + PNG ImageIO inflate: pixel-exact + 9x8 gradient hash"),
    QueryDef("q_multimodal_neardup", mediaNearDup, Some(mediaNearDupSql),
      "image near-dup join: multi-index dHash banding (exact by pigeonhole) + popcount verify"),
    QueryDef("q_multimodal_dims", mediaDims, Some(mediaDimsSql),
      "real-format dims census: PNG IHDR/BMP/GIF fixed offsets + JPEG SOFn scan over spec-built fixtures"),
    QueryDef("q_multimodal_phash", mediaPhash, Some(mediaPhashSql),
      "X-multimodal perceptual gradient-hash (dHash) banding census"),
    QueryDef("q_multimodal_meta", mediaMeta, Some(mediaMetaSql),
      "binary media column + metadata/frame-sample plumbing (decode stubbed)"),
    QueryDef("q_multimodal_features", mediaFeatures, Some(mediaFeaturesSql),
      "byte-level feature extraction: nibble histogram + stride signature"))
}
