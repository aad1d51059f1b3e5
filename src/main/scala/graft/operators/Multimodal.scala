package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed by typed batch
  * functions.
  *
  * Dimension decode is real for the formats a dependency-free JVM parser
  * can handle (BMP and the PNM P1–P6 family — see [[decodeDims]]); for
  * formats whose codecs are not in this environment (JPEG etc.) it falls
  * back to a clearly-marked deterministic stand-in derived from the
  * payload. Everything around it is real and tested: the binary column
  * schema, the typed `Dataset` encoding, the `mapPartitions` batch shape
  * (one iterator per partition — the JVM analog of a batched
  * `mapInPandas`), frame sampling, and per-frame hashing. Swapping in
  * further codecs changes no plan shape.
  *
  * Scale: feature extraction is a narrow per-partition map over the blob
  * column — no shuffle; the blob column never routes through a join or
  * aggregate key.
  */
object Multimodal {

  case class MediaRecord(doc_id: Long, media_type: String, blob: Array[Byte])
  case class MediaFeatures(doc_id: Long, media_type: String, byte_len: Int,
    width: Int, height: Int, mean_byte: Double, n_frames: Int,
    frame_hashes: Seq[Long])

  /** Binary media table: the documents' UTF-8 bytes stand in for encoded
    * media payloads; media_type assignment is deterministic.
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("media_type"),
      col("text").cast("binary").as("blob"))

  /** Decode (width, height) from the payload header for the formats a
    * dependency-free JVM parser can handle — BMP (both the 12-byte
    * BITMAPCOREHEADER and the 40+-byte BITMAPINFOHEADER families), PNG
    * (IHDR), GIF (logical screen descriptor), JPEG (SOF marker walk),
    * and the PNM text/binary family (P1–P6: PBM/PGM/PPM, ASCII dims
    * with `#` comments) — falling back to the deterministic stand-in
    * for payloads that are none of these (raw video frames etc.). The
    * fallback is clearly fake (derived from byte length) but stable,
    * keeping the plumbing testable end to end.
    */
  private[operators] def decodeDims(blob: Array[Byte]): (Int, Int) =
    decodeBmp(blob).orElse(decodePng(blob)).orElse(decodeGif(blob))
      .orElse(decodeJpeg(blob)).orElse(decodePnm(blob))
      .getOrElse(
        (64 + blob.length % 577, 64 + (blob.length * 31) % 431))

  /** PNG header parse: the fixed 8-byte signature, then the IHDR chunk
    * is REQUIRED to come first (PNG spec §5.6), so width/height sit at
    * fixed offsets 16/20 as big-endian 32-bit ints. No codec needed —
    * dimensions live entirely in the uncompressed header.
    */
  private[operators] def decodePng(b: Array[Byte]): Option[(Int, Int)] = {
    val sig = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    def beInt(off: Int): Int =
      ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
        ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
    if (b.length < 24 || sig.indices.exists(i => (b(i) & 0xff) != sig(i)))
      None
    else if (new String(b, 12, 4, "US-ASCII") != "IHDR") None
    else Some((beInt(16), beInt(20)))
  }

  private def leInt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def leShort(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  /** BMP header parse: "BM" magic, then the DIB header size at offset 14
    * selects the dimension encoding — 16-bit in BITMAPCOREHEADER (size
    * 12), 32-bit signed in the BITMAPINFOHEADER family (size ≥ 40, where
    * negative height means top-down row order, so |height|).
    */
  private[operators] def decodeBmp(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 26 || b(0) != 'B' || b(1) != 'M') None
    else leInt(b, 14) match {
      case 12 => Some((leShort(b, 18), leShort(b, 20)))
      case sz if sz >= 40 => Some((leInt(b, 18), math.abs(leInt(b, 22))))
      case _ => None
    }
  }

  /** PNM header parse: "P1".."P6" magic, then width and height as ASCII
    * integers separated by whitespace, with `#`-to-end-of-line comments
    * allowed anywhere whitespace is.
    */
  private[operators] def decodePnm(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 2 || b(0) != 'P' || b(1) < '1' || b(1) > '6') None
    else {
      var i = 2
      def nextInt(): Option[Int] = {
        var skipping = true
        while (skipping && i < b.length) {
          if (b(i) == '#') { while (i < b.length && b(i) != '\n') i += 1 }
          else if (b(i).toChar.isWhitespace) i += 1
          else skipping = false
        }
        val start = i
        while (i < b.length && b(i) >= '0' && b(i) <= '9') i += 1
        if (i > start && i - start <= 9)
          Some(new String(b, start, i - start, "US-ASCII").toInt)
        else None
      }
      for (w <- nextInt(); h <- nextInt()) yield (w, h)
    }
  }

  /** GIF header parse: "GIF87a"/"GIF89a" magic, then the logical screen
    * descriptor's width/height as little-endian 16-bit at offsets 6/8.
    */
  private[operators] def decodeGif(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 10) None
    else {
      val magic = new String(b, 0, 6, "US-ASCII")
      if (magic == "GIF87a" || magic == "GIF89a")
        Some((leShort(b, 6), leShort(b, 8)))
      else None
    }
  }

  /** JPEG header parse: SOI then a marker-segment walk to the first
    * start-of-frame (SOF0–SOF15 minus DHT/JPG/DAC, covering baseline and
    * progressive), whose payload carries height/width as big-endian
    * 16-bit after the 1-byte sample precision. Fill bytes (repeated FF)
    * and standalone markers (TEM, RST0–7) have no length field and are
    * skipped; the walk stops at start-of-scan or end-of-image — entropy-
    * coded data never needs decoding, so dimensions cost a few dozen
    * header bytes even on a multi-megabyte payload.
    */
  private[operators] def decodeJpeg(b: Array[Byte]): Option[(Int, Int)] = {
    def u8(i: Int): Int = b(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    if (b.length < 4 || u8(0) != 0xff || u8(1) != 0xd8) None
    else {
      var i = 2
      while (i + 3 < b.length) {
        if (u8(i) != 0xff) return None // desynced: not a marker boundary
        var j = i
        while (j + 1 < b.length && u8(j + 1) == 0xff) j += 1 // fill bytes
        val m = u8(j + 1)
        if ((m >= 0xc0 && m <= 0xcf) && m != 0xc4 && m != 0xc8 && m != 0xcc) {
          return if (j + 8 < b.length) Some((be16(j + 7), be16(j + 5)))
          else None
        } else if (m == 0xda || m == 0xd9) return None // SOS/EOI: no SOF seen
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i = j + 2
        else if (j + 3 < b.length) i = j + 2 + be16(j + 2)
        else return None
      }
      None
    }
  }

  /** Audio header metadata from a RIFF/WAVE payload: walk the chunk list
    * to `fmt ` (format code, channels, sample rate, bits) and `data`
    * (payload size → frame count → duration). Pure header arithmetic —
    * no codec, no sample decode — so audio metadata extraction at corpus
    * scale is a few dozen bytes per file, like the image dimension
    * parsers. Returns (format, channels, sample_rate, bits, n_frames,
    * duration_ms); None for non-WAV payloads or truncated headers.
    */
  private[operators] def decodeWav(b: Array[Byte])
      : Option[(Int, Int, Int, Int, Long, Long)] = {
    def tag(off: Int) = if (off + 4 <= b.length)
      new String(b, off, 4, "US-ASCII") else ""
    if (b.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") None
    else {
      // Offsets advance in LONG arithmetic: a corrupt/hostile 32-bit
      // chunk size near 0xFFFFFFFF would wrap an Int accumulator
      // negative — a stuck or backwards walk is an executor hang on a
      // single bad file, the one failure mode a 100 TB ingest can't
      // absorb. With Long offsets, `next = i + 8 + sz + pad` is
      // strictly increasing (sz ≥ 0), so the walk always terminates.
      var i = 12L
      var fmt: Option[(Int, Int, Int, Int)] = None
      var dataLen: Option[Long] = None
      while (i + 8 <= b.length && (fmt.isEmpty || dataLen.isEmpty)) {
        val o = i.toInt
        val id = tag(o)
        val sz = leInt(b, o + 4).toLong & 0xffffffffL
        if (id == "fmt " && i + 24 <= b.length)
          fmt = Some((leShort(b, o + 8), leShort(b, o + 10),
            leInt(b, o + 12), leShort(b, o + 22)))
        // clamp a declared size past EOF to the bytes actually present,
        // so a corrupt length yields a truncated-file duration, not a
        // fantasy one
        else if (id == "data") dataLen = Some(sz.min(b.length - i - 8))
        // chunks are word-aligned: odd sizes carry a pad byte
        i += 8L + sz + (sz & 1L)
      }
      for ((code, ch, rate, bits) <- fmt; dl <- dataLen
           if ch > 0 && rate > 0 && bits > 0) yield {
        val frameBytes = ch.toLong * (bits / 8).max(1)
        val frames = dl / frameBytes
        (code, ch, rate, bits, frames, frames * 1000L / rate)
      }
    }
  }

  /** Audio metadata table over ingested media records: one row per
    * payload [[decodeWav]] recognizes (format code, channels, sample
    * rate, bit depth, frame count, duration). Same typed narrow-map
    * batch shape as [[extractFeaturesOn]] — header bytes only, so the
    * per-file cost is independent of payload size; non-WAV records
    * simply emit nothing (compressed codecs aren't in this
    * environment — their parsers slot in beside decodeWav exactly like
    * the image family's).
    */
  def audioMeta(records: Dataset[MediaRecord]): DataFrame = {
    import records.sparkSession.implicits._
    records.flatMap(r => decodeWav(r.blob).map {
      case (code, ch, rate, bits, frames, ms) =>
        (r.doc_id, code, ch, rate, bits, frames, ms)
    }).toDF("doc_id", "format_code", "channels", "sample_rate",
      "bits_per_sample", "n_audio_frames", "duration_ms")
  }

  /** FNV-1a 64-bit over a byte range — dependency-free frame hash. */
  private[operators] def fnv1a(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) { h ^= (bytes(i) & 0xff).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** REAL container frame walk: the byte extents of each frame's data
    * inside the encoded payload, parsed from the container structure —
    * GIF image-descriptor blocks (0x2C + local color table + LZW code
    * byte + data sub-blocks, one frame per descriptor) and PNG IDAT
    * chunks (one range per chunk's data). None when the payload is
    * neither container, so callers can fall back to spaced byte windows
    * for raw/unknown payloads. No pixel decode anywhere — the walk reads
    * length fields only, so per-file cost is header-arithmetic-sized
    * like [[decodeDims]]; offsets advance in LONG arithmetic and every
    * declared length clamps to the bytes actually present (the
    * [[decodeWav]] hostile-length discipline), so a corrupt file yields
    * a truncated frame list, never a stuck walk.
    */
  private[operators] def frameRanges(b: Array[Byte]): Option[Vector[(Int, Int)]] =
    gifFrameRanges(b).orElse(pngFrameRanges(b)).orElse(mp4FrameRanges(b))
      .orElse(mkvFrameRanges(b))

  /** EBML/Matroska walk (mkv AND webm — WebM is Matroska with a
    * restricted codec set, so one walk serves both extensions
    * [[fromBinaryFiles]] maps): the container is a varint
    * length-prefixed tree — each element is (id: vint, marker bit
    * kept; size: vint, marker masked; payload) — the fourth and last
    * container family, closing the gif→png→mp4 fallthrough. Frame
    * byte extents come from `Segment → Cluster → SimpleBlock` (and
    * the `BlockGroup → Block` variant): a block's payload after its
    * (track vint, 16-bit timestamp, flags byte) header is frame
    * data. Laced blocks (flags & 0x06) yield TRUE per-lace frame
    * extents — all three lace table forms are length-prefix walks
    * (Xiph 255-continuation sums, fixed-size equal split, EBML
    * unsigned-first + signed-delta vints), the house specialty; a
    * malformed lace table degrades that block to its merged
    * post-header extent rather than aborting the file. Hostile-length
    * discipline as everywhere: Long offsets, a zero-leading-byte vint
    * (invalid: width > 8) aborts, an unknown-size vint (all data bits
    * set) extends a CONTAINER to its parent's end (the
    * streaming-Matroska convention for Segment and Cluster) but
    * aborts on a leaf, every extent clamps to the bytes present, a
    * non-advancing element terminates the walk, and nesting deeper
    * than 64 containers aborts (a hostile file of 2-byte BlockGroup
    * headers would otherwise drive recursion depth ~len/2 into a
    * StackOverflowError; legitimate Matroska nests 4-5 deep).
    */
  private[operators] def mkvFrameRanges(b: Array[Byte]): Option[Vector[(Int, Int)]] = {
    if (b.length < 4 || (b(0) & 0xff) != 0x1a || (b(1) & 0xff) != 0x45 ||
        (b(2) & 0xff) != 0xdf || (b(3) & 0xff) != 0xa3) return None
    // vint at `off`: (value, width, allDataBitsSet). IDs keep the
    // marker bit (the spec's canonical id form); sizes mask it.
    def vint(off: Long, keepMarker: Boolean): Option[(Long, Int, Boolean)] = {
      if (off >= b.length) return None
      val first = b(off.toInt) & 0xff
      if (first == 0) return None // width > 8: not a valid vint
      val width = java.lang.Integer.numberOfLeadingZeros(first) - 23
      if (off + width > b.length) return None
      val mask = if (keepMarker) 0xff else 0xff >>> width
      var v = (first & mask).toLong
      var dataMax = (mask & (0xff >>> width)).toLong
      var k = 1
      while (k < width) {
        v = (v << 8) | (b(off.toInt + k) & 0xff)
        dataMax = (dataMax << 8) | 0xff
        k += 1
      }
      Some((v, width, !keepMarker && v == dataMax))
    }
    val Segment = 0x18538067L
    val Cluster = 0x1f43b675L
    val BlockGroup = 0xa0L
    val SimpleBlock = 0xa3L
    val Block = 0xa1L
    val frames = Vector.newBuilder[(Int, Int)]
    // per-lace frame sizes for the first (count) frames of a laced
    // block whose lace table starts at `hdr` (the lace-count byte);
    // returns None on a malformed table → caller degrades to the
    // merged extent. The last frame is always the remainder, so only
    // count = (lace byte) sizes are read.
    def laceExtents(hdr: Long, until: Long, mode: Int)
        : Option[Vector[(Int, Int)]] = {
      if (hdr >= until) return None
      val count = b(hdr.toInt) & 0xff // frames - 1
      var p = hdr + 1
      val sizes = new Array[Long](count)
      mode match {
        case 1 => // Xiph: 255-continuation byte sums
          var f = 0
          while (f < count) {
            var sz = 0L
            var cont = true
            while (cont) {
              if (p >= until) return None
              val v = b(p.toInt) & 0xff
              sz += v; p += 1
              cont = v == 255
            }
            sizes(f) = sz; f += 1
          }
        case 2 => // fixed-size: remainder must split evenly
          val total = until - p
          if (total < 0 || total % (count + 1) != 0) return None
          val each = total / (count + 1)
          var f = 0
          while (f < count) { sizes(f) = each; f += 1 }
        case 3 => // EBML: unsigned first size, signed vint deltas
          var f = 0
          var prev = 0L
          while (f < count) {
            vint(p, keepMarker = false) match {
              // the vint itself must sit inside THIS block (`vint`
              // only bounds against the file end)
              case Some((v, w, _)) if p + w <= until =>
                prev =
                  if (f == 0) v
                  else prev + (v - ((1L << (7 * w - 1)) - 1))
                if (prev < 0) return None
                sizes(f) = prev; p += w; f += 1
              case _ => return None
            }
          }
        case _ => return None
      }
      val out = Vector.newBuilder[(Int, Int)]
      var a = p
      var f = 0
      while (f < count) {
        val e = math.min(a + sizes(f), until)
        if (e > a) out += ((a.toInt, e.toInt))
        a = e; f += 1
      }
      if (a < until) out += ((a.toInt, until.toInt))
      Some(out.result())
    }
    def walk(from: Long, until: Long, depth: Int): Boolean = {
      if (depth > 64) return false // hostile nesting, not Matroska
      var i = from
      while (i < until) {
        val id = vint(i, keepMarker = true) match {
          case Some((v, w, _)) => (v, w)
          case None => return false
        }
        val sz = vint(i + id._2, keepMarker = false) match {
          case Some((v, w, unknown)) => (v, w, unknown)
          case None => return false
        }
        val bodyStart = i + id._2 + sz._2
        val container = id._1 == Segment || id._1 == Cluster ||
          id._1 == BlockGroup
        val end =
          if (sz._3) { if (container) until else return false }
          else math.min(bodyStart + sz._1, until)
        if (container) {
          if (!walk(bodyStart, end, depth + 1)) return false
        } else if (id._1 == SimpleBlock || id._1 == Block) {
          vint(bodyStart, keepMarker = false).foreach { case (_, tw, _) =>
            val flagsOff = bodyStart + tw + 2 // track vint + s16 ts
            val fs = flagsOff + 1
            if (flagsOff < end) {
              val lacing = ((b(flagsOff.toInt) & 0xff) >> 1) & 0x3
              val ext =
                if (lacing == 0) None
                else laceExtents(fs, end, lacing)
              ext match {
                case Some(rs) => frames ++= rs
                case None => if (fs < end) frames += ((fs.toInt, end.toInt))
              }
            }
          }
        }
        if (end <= i) return false // non-advancing: malformed size
        i = end
      }
      true
    }
    walk(0L, b.length.toLong, 0)
    Some(frames.result())
  }

  /** ISO-BMFF (MP4) box walk: the container is a length-prefixed box
    * tree — each box is (size: BE32, type: 4cc, payload), with size 1
    * meaning a 64-bit `largesize` follows and size 0 meaning
    * to-end-of-file. Frame byte extents come from the sample tables
    * under `moov/trak/mdia/minf/stbl`: `stsz` gives per-sample sizes
    * (or one fixed size), `stco`/`co64` gives chunk offsets, and
    * `stsc` maps samples onto chunks as (first_chunk,
    * samples_per_chunk) runs — the full interpretation real encoder
    * output needs (samples interleaved several per chunk): each
    * chunk's samples are consecutive from its stored offset, with the
    * run table resolved by a bounded prefix walk. A malformed stsc
    * (first run not at chunk 1, non-increasing first_chunk, zero
    * samples_per_chunk) is ignored, falling back to the two
    * stsc-free layouts: one chunk per sample (offsets.length ==
    * samples) and the single-chunk file (one offset — samples
    * consecutive from it). Same hostile-length discipline as
    * [[decodeWav]]/[[gifFrameRanges]]: offsets advance in
    * LONG arithmetic, a declared size below the 8-byte header aborts
    * the walk (a size-0-loop would otherwise never terminate), and
    * every extent clamps to the bytes actually present.
    */
  private[operators] def mp4FrameRanges(b: Array[Byte]): Option[Vector[(Int, Int)]] = {
    if (b.length < 12) return None
    def beInt(off: Long): Long =
      if (off + 4 > b.length) -1L
      else (((b(off.toInt) & 0xff).toLong << 24)
        | ((b(off.toInt + 1) & 0xff).toLong << 16)
        | ((b(off.toInt + 2) & 0xff).toLong << 8)
        | (b(off.toInt + 3) & 0xff).toLong)
    def beLong(off: Long): Long =
      if (off + 8 > b.length) -1L
      else (beInt(off) << 32) | beInt(off + 4)
    def tag(off: Long): String =
      new String(b, off.toInt + 4, 4, "US-ASCII")
    if (tag(0) != "ftyp") return None
    val Containers = Set("moov", "trak", "mdia", "minf", "stbl")
    var sizes: Option[Array[Long]] = None
    var offsets: Option[Array[Long]] = None
    // (first_chunk, samples_per_chunk) runs; description index unused
    var chunkRuns: Option[Array[(Long, Long)]] = None
    // walk [from, until) at one nesting level, descending into the
    // known container boxes; stops on truncation or malformed sizes
    def walk(from: Long, until: Long): Unit = {
      var i = from
      while (i + 8 <= until &&
          (sizes.isEmpty || offsets.isEmpty || chunkRuns.isEmpty)) {
        val declared = beInt(i)
        val typ = tag(i)
        val (sz, hdr) =
          if (declared == 1L) (beLong(i + 8), 16L)
          else if (declared == 0L) (until - i, 8L)
          else (declared, 8L)
        if (sz < hdr) return // malformed: a non-advancing size
        val end = math.min(i + sz, until)
        if (Containers(typ)) walk(i + hdr, end)
        else if (typ == "stsz" && i + hdr + 12 <= until) {
          val fixed = beInt(i + hdr + 4)
          val n = beInt(i + hdr + 8)
          if (n >= 0 && n <= (until - i - hdr - 12) / 4 + 1) {
            if (fixed != 0) sizes = Some(Array.fill(n.toInt)(fixed))
            else if (i + hdr + 12 + 4L * n <= until)
              sizes = Some(Array.tabulate(n.toInt)(k =>
                beInt(i + hdr + 12 + 4L * k)))
          }
        } else if (typ == "stco" && i + hdr + 8 <= until) {
          val n = beInt(i + hdr + 4)
          if (n >= 0 && i + hdr + 8 + 4L * n <= until)
            offsets = Some(Array.tabulate(n.toInt)(k =>
              beInt(i + hdr + 8 + 4L * k)))
        } else if (typ == "co64" && i + hdr + 8 <= until) {
          val n = beInt(i + hdr + 4)
          if (n >= 0 && i + hdr + 8 + 8L * n <= until)
            offsets = Some(Array.tabulate(n.toInt)(k =>
              beLong(i + hdr + 8 + 8L * k)))
        } else if (typ == "stsc" && i + hdr + 8 <= until) {
          val n = beInt(i + hdr + 4)
          if (n >= 0 && i + hdr + 8 + 12L * n <= until) {
            val runs = Array.tabulate(n.toInt)(k =>
              (beInt(i + hdr + 8 + 12L * k),
                beInt(i + hdr + 8 + 12L * k + 4)))
            // validity: first run at chunk 1, strictly increasing
            // first_chunk, positive samples_per_chunk — anything else
            // is ignored (fall back to the stsc-free layouts)
            val ok = runs.nonEmpty && runs(0)._1 == 1L &&
              runs.forall(_._2 > 0L) &&
              runs.iterator.zip(runs.iterator.drop(1))
                .forall { case (a, c) => a._1 < c._1 }
            if (ok) chunkRuns = Some(runs)
          }
        }
        i += sz
      }
    }
    walk(0L, b.length.toLong)
    for (sz <- sizes; off <- offsets if sz.nonEmpty && off.nonEmpty) yield {
      val frames = Vector.newBuilder[(Int, Int)]
      chunkRuns match {
        case Some(runs) =>
          // full stsc interpretation: chunk c (1-based) holds
          // samples_per_chunk consecutive samples from offsets(c-1),
          // where samples_per_chunk comes from the run with the
          // largest first_chunk <= c; sample indices advance globally
          var s = 0 // next sample
          var run = 0
          var c = 1
          while (c <= off.length && s < sz.length) {
            while (run + 1 < runs.length && runs(run + 1)._1 <= c)
              run += 1
            var a = math.min(math.max(off(c - 1), 0L), b.length.toLong)
            var j = 0L
            while (j < runs(run)._2 && s < sz.length) {
              val e = math.min(a + math.max(sz(s), 0L), b.length.toLong)
              if (e > a) frames += ((a.toInt, e.toInt))
              a = e; s += 1; j += 1
            }
            c += 1
          }
        case None if off.length == sz.length =>
          // one chunk per sample: each sample at its own stored offset
          var k = 0
          while (k < sz.length) {
            val a = math.min(math.max(off(k), 0L), b.length.toLong)
            val e = math.min(a + math.max(sz(k), 0L), b.length.toLong)
            if (e > a) frames += ((a.toInt, e.toInt))
            k += 1
          }
        case None if off.length == 1 =>
          // single chunk: samples consecutive from its offset
          var a = math.min(math.max(off(0), 0L), b.length.toLong)
          var k = 0
          while (k < sz.length) {
            val e = math.min(a + math.max(sz(k), 0L), b.length.toLong)
            if (e > a) frames += ((a.toInt, e.toInt))
            a = e
            k += 1
          }
        case None => // ambiguous multi-chunk layout with no stsc
      }
      frames.result()
    }
  }

  /** GIF block walk: logical screen descriptor (+ global color table if
    * flagged), then extensions (0x21: label + sub-blocks) are skipped
    * and each image descriptor (0x2C) contributes one frame range
    * spanning the separator byte through its data sub-block terminator.
    */
  private[operators] def gifFrameRanges(b: Array[Byte]): Option[Vector[(Int, Int)]] = {
    if (decodeGif(b).isEmpty || b.length < 13) return None
    val frames = Vector.newBuilder[(Int, Int)]
    // skip the sub-block chain at `i`, returning the offset past its
    // 0x00 terminator (or EOF on truncation)
    def skipSubBlocks(start: Long): Long = {
      var i = start
      while (i < b.length && (b(i.toInt) & 0xff) != 0)
        i += 1L + (b(i.toInt) & 0xff)
      i + 1L
    }
    val packed = b(10) & 0xff
    var i = 13L + (if ((packed & 0x80) != 0) 3L << ((packed & 7) + 1) else 0L)
    var done = false
    while (!done && i < b.length) {
      (b(i.toInt) & 0xff) match {
        case 0x21 => i = skipSubBlocks(i + 2) // extension: label, then sub-blocks
        case 0x2c =>
          val start = i
          if (i + 10 > b.length) { done = true }
          else {
            val lp = b(i.toInt + 9) & 0xff
            val lct = if ((lp & 0x80) != 0) 3L << ((lp & 7) + 1) else 0L
            val end = skipSubBlocks(i + 10 + lct + 1) // +1: LZW min code byte
            if (end <= b.length)
              frames += ((start.toInt, end.toInt))
            i = end
          }
        case 0x3b => done = true // trailer
        case _ => done = true // desynced: stop with what parsed cleanly
      }
    }
    Some(frames.result())
  }

  /** PNG chunk walk: one frame range per IDAT chunk's data bytes (the
    * natural frame analog — an APNG's fdAT frames slot in beside it).
    */
  private[operators] def pngFrameRanges(b: Array[Byte]): Option[Vector[(Int, Int)]] = {
    if (decodePng(b).isEmpty) return None
    def beInt(off: Int): Long =
      (((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
        ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)).toLong & 0xffffffffL
    val frames = Vector.newBuilder[(Int, Int)]
    var i = 8L
    var done = false
    while (!done && i + 8 <= b.length) {
      val len = beInt(i.toInt)
      val typ = new String(b, i.toInt + 4, 4, "US-ASCII")
      if (typ == "IEND") done = true
      else {
        if (typ == "IDAT") {
          val dataEnd = math.min((i + 8 + len), b.length.toLong)
          frames += (((i + 8).toInt, dataEnd.toInt))
        }
        i += 12L + len // len + type + data + crc
      }
    }
    Some(frames.result())
  }

  /** A REAL, deterministic GIF89a container around an arbitrary payload:
    * header + logical screen descriptor, then `frames` image-descriptor
    * blocks whose data sub-blocks carry consecutive payload slices, then
    * the trailer. Structure-level real — [[decodeGif]] reads its
    * dimensions and [[gifFrameRanges]] walks its frames exactly as they
    * were laid out; the sub-block bytes are the raw payload rather than
    * an LZW stream (the walk never decompresses — documented stand-in,
    * the codec boundary this environment draws). This is how a text-only
    * test corpus exercises the container decoder end to end; production
    * payloads arrive already encoded via [[fromBinaryFiles]].
    */
  private[graft] def gifWrap(payload: Array[Byte], frames: Int,
      w: Int = 64, h: Int = 48): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(payload.length + 64)
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16(w); le16(h)
    out.write(0x00); out.write(0); out.write(0) // no global color table
    val n = math.max(1, frames)
    val per = math.max(1, (payload.length + n - 1) / n)
    var off = 0
    for (_ <- 0 until n) {
      val end = math.min(payload.length, off + per)
      out.write(0x2c)
      le16(0); le16(0); le16(w); le16(h)
      out.write(0x00) // no local color table
      out.write(8) // LZW minimum code size (structural; see scaladoc)
      var p = off
      while (p < end) {
        val len = math.min(255, end - p)
        out.write(len); out.write(payload, p, len); p += len
      }
      out.write(0) // sub-block terminator
      off = end
    }
    out.write(0x3b)
    out.toByteArray
  }

  /** A REAL, deterministic ISO-BMFF (MP4) container around an arbitrary
    * payload — the video sibling of [[gifWrap]]: `ftyp`, then a `moov`
    * with the full `trak/mdia/minf/stbl` nesting holding a real `stsz`
    * (per-sample sizes = consecutive payload slice lengths) and a real
    * `stco` whose single chunk offset points into the `mdat` payload.
    * Structure-level real — [[mp4FrameRanges]] walks the box tree and
    * recovers exactly the slices this laid out; the mdat bytes are the
    * raw payload rather than encoded video (the walk never runs a
    * codec — the same documented stand-in boundary as gifWrap). Box
    * sizes are computed bottom-up so every length field is exact.
    */
  private[graft] def mp4Wrap(payload: Array[Byte], frames: Int,
      chunks: Int = 1): Array[Byte] = {
    val n = math.max(1, frames)
    val per = math.max(1, (payload.length + n - 1) / n)
    val sizes = (0 until n).map { f =>
      val a = math.min(payload.length, f * per)
      math.min(payload.length, a + per) - a
    }.filter(_ > 0)
    def box(typ: String, payloadBytes: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(8 + payloadBytes.length)
      out.putInt(8 + payloadBytes.length)
      out.put(typ.getBytes("US-ASCII"))
      out.put(payloadBytes)
      out.array()
    }
    def beInts(vs: Seq[Int]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 * vs.length)
      vs.foreach(bb.putInt)
      bb.array()
    }
    // stsz: version/flags 0, sample_size 0 (per-sample table), count, sizes
    val stsz = box("stsz", beInts(Seq(0, 0, sizes.length) ++ sizes))
    // sample→chunk grouping: chunks==1 reproduces the original
    // single-chunk stsc-free layout byte-for-byte; chunks>1 spreads
    // the samples over min(chunks, samples) chunks (first `rem`
    // chunks hold one extra sample) and writes the REAL stsc run
    // table such a layout needs — chunk payloads stay back-to-back in
    // mdat, so frame extents are the same consecutive payload slices
    // either way (container-invariance, like mp4-vs-mkv).
    val nChunks = math.min(math.max(1, chunks), sizes.length)
    val full = sizes.length / nChunks
    val rem = sizes.length % nChunks
    val perChunk = (0 until nChunks).map(c => if (c < rem) full + 1 else full)
    // moov size is deterministic: 5 nested box headers of 8 bytes
    // around stsz (+ stsc when chunked) + stco
    val stscBody: Seq[Int] =
      if (nChunks == 1) Seq.empty
      else if (rem == 0) Seq(0, 1, 1, full, 1)
      else Seq(0, 2, 1, full + 1, 1, rem + 1, full, 1)
    val stscLen = if (nChunks == 1) 0 else 8 + 4 * stscBody.length
    val stcoLen = 8 + 4 * (2 + nChunks)
    val moovLen = 8 * 4 + 8 + stsz.length + stscLen + stcoLen
    val ftyp = box("ftyp", "isomgrft".getBytes("US-ASCII"))
    val mdatOff = ftyp.length + moovLen + 8
    // every sample is exactly `per` bytes except possibly the final
    // one, which sits in the final chunk — so prior-chunk sums (the
    // only ones an offset needs) are spc * per
    val chunkOffsets = perChunk.scanLeft(mdatOff)(_ + _ * per)
      .take(nChunks)
    val stco = box("stco", beInts(Seq(0, nChunks) ++ chunkOffsets))
    val stsc =
      if (nChunks == 1) Array.emptyByteArray
      else box("stsc", beInts(stscBody))
    val stbl = box("stbl", stsz ++ stsc ++ stco)
    val moov = box("moov", box("trak", box("mdia", box("minf", stbl))))
    val mdat = box("mdat", payload)
    assert(moov.length == moovLen, s"moov size drifted: ${moov.length} vs $moovLen")
    ftyp ++ moov ++ mdat
  }

  /** A REAL, deterministic EBML/Matroska container around an arbitrary
    * payload — the mkv/webm sibling of [[gifWrap]]/[[mp4Wrap]]: an EBML
    * header carrying a DocType, then a Segment holding one Cluster
    * with a Timestamp element and `frames` SimpleBlocks whose
    * post-header bytes are consecutive payload slices (track 1, block
    * timestamp 0, flags 0 = no lacing). Every size is an 8-byte vint
    * (always canonical, never the unknown-size pattern), so the tree
    * is exact bottom-up like mp4Wrap's box sizes. Structure-level
    * real — [[mkvFrameRanges]] recovers exactly the slices this lays
    * out; the block bytes are raw payload rather than encoded video
    * (the same documented codec boundary as the other wraps).
    */
  // EBML building blocks shared by [[mkvWrap]]/[[mkvWrapLaced]]: every
  // size is an 8-byte vint (always canonical, never unknown-size)
  private def ebmlVint8(v: Long): Array[Byte] = {
    val a = new Array[Byte](8)
    a(0) = 0x01 // width-8 marker, zero data bits in the lead byte
    var i = 7
    var x = v
    while (i >= 1) { a(i) = (x & 0xff).toByte; x >>= 8; i -= 1 }
    a
  }
  private def ebmlBytes(vs: Int*): Array[Byte] = vs.map(_.toByte).toArray
  private def ebmlElem(id: Array[Byte], body: Array[Byte]): Array[Byte] =
    id ++ ebmlVint8(body.length.toLong) ++ body
  // EBML header + Segment around pre-built Cluster contents
  private def mkvShell(clusterBody: Array[Byte]): Array[Byte] = {
    val timestamp = ebmlElem(ebmlBytes(0xe7), ebmlBytes(0x00))
    val cluster = ebmlElem(ebmlBytes(0x1f, 0x43, 0xb6, 0x75),
      timestamp ++ clusterBody)
    val segment = ebmlElem(ebmlBytes(0x18, 0x53, 0x80, 0x67), cluster)
    val docType = ebmlElem(ebmlBytes(0x42, 0x82),
      "matroska".getBytes("US-ASCII"))
    ebmlElem(ebmlBytes(0x1a, 0x45, 0xdf, 0xa3), docType) ++ segment
  }
  // the ceil-partition slice sizes both wraps lay out: all `per`
  // except the final remainder, empties dropped
  private def mkvSliceSizes(len: Int, frames: Int): Vector[Int] = {
    val n = math.max(1, frames)
    val per = math.max(1, (len + n - 1) / n)
    (0 until n).map { f =>
      val a = math.min(len, f * per)
      math.min(len, a + per) - a
    }.filter(_ > 0).toVector
  }

  private[graft] def mkvWrap(payload: Array[Byte], frames: Int): Array[Byte] = {
    val n = math.max(1, frames)
    val per = math.max(1, (payload.length + n - 1) / n)
    val blocks = (0 until n).flatMap { f =>
      val a = math.min(payload.length, f * per)
      val e = math.min(payload.length, a + per)
      if (e <= a && f > 0) None
      else Some(ebmlElem(ebmlBytes(0xa3), // SimpleBlock
        ebmlBytes(0x81, 0x00, 0x00, 0x00) ++ // track 1, ts 0, no lacing
          java.util.Arrays.copyOfRange(payload, a, e)))
    }
    mkvShell(blocks.flatten.toArray)
  }

  /** [[mkvWrap]]'s laced sibling: the SAME ceil-partition payload
    * slices, but packed as ONE SimpleBlock carrying a real lace table
    * — Xiph (mode 1, 255-continuation sums), fixed-size (mode 2,
    * equal split; the payload length must divide by the frame count
    * since the format stores no sizes), or EBML (mode 3, unsigned
    * first size then signed vint deltas). Because the slices are
    * identical to mkvWrap's, [[mkvFrameRanges]] recovers the same
    * frame extents from either container — the per-lace walk is what
    * the invariance exercises.
    */
  private[graft] def mkvWrapLaced(payload: Array[Byte], frames: Int,
      mode: Int): Array[Byte] = {
    require(mode >= 1 && mode <= 3, s"lacing mode 1..3, got $mode")
    val sizes = mkvSliceSizes(payload.length, frames)
    if (sizes.isEmpty) return mkvWrap(payload, frames) // empty payload
    if (mode == 2)
      require(sizes.distinct.length <= 1,
        "fixed-size lacing needs equal frames: payload length must " +
          s"divide by the frame count (sizes: $sizes)")
    // Xiph coding of one size: 255-continuation bytes then the final
    // byte < 255 (v = 255q + r → q 0xFF bytes then r)
    def xiph(v: Int): Array[Byte] =
      Array.fill(v / 255)(0xff.toByte) :+ (v % 255).toByte
    val laceTable: Array[Byte] = mode match {
      case 1 => sizes.init.toArray.flatMap(xiph)
      case 2 => Array.emptyByteArray // sizes implied by the count
      case 3 => // first size unsigned; then deltas, signed with the
        // width-8 bias 2^55 - 1 (all deltas are 0 here: equal slices
        // until the final remainder, which is never in the table)
        sizes.init.zipWithIndex.toArray.flatMap { case (s, i) =>
          if (i == 0) ebmlVint8(s.toLong)
          else ebmlVint8((s - sizes(i - 1)).toLong + ((1L << 55) - 1))
        }
    }
    val flags = (mode << 1) & 0x06
    val block = ebmlElem(ebmlBytes(0xa3),
      ebmlBytes(0x81, 0x00, 0x00, flags) ++
        ebmlBytes(sizes.length - 1) ++ laceTable ++ payload)
    mkvShell(block)
  }

  /** Raw media-file ingestion via Spark's built-in `binaryFile` source:
    * one row per file with (path, modificationTime, length, content),
    * mapped onto the engine's MediaRecord shape — doc_id from the path
    * hash (stable across re-ingests), media_type from the file
    * extension, blob = the encoded payload.
    *
    * Scale notes: `pathGlobFilter` prunes at listing time (files that
    * don't match are never opened), and the source splits the LISTING
    * across the cluster while keeping each file whole in one row — the
    * right contract for encoded media, which can't be byte-split. Files
    * larger than `spark.sql.sources.binaryFile.maxLength` (2 GB default)
    * fail loudly rather than truncate.
    */
  def fromBinaryFiles(spark: SparkSession, path: String,
      glob: String = "*"): DataFrame = {
    val ext = lower(element_at(split(col("path"), "\\."), -1))
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(path)
      .select(
        xxhash64(col("path")).as("doc_id"),
        when(ext.isin("jpg", "jpeg", "png", "gif", "bmp", "ppm", "pgm",
            "pbm"), "image")
          .when(ext.isin("wav", "mp3", "flac", "ogg"), "audio")
          .when(ext.isin("mp4", "mkv", "avi", "webm"), "video")
          .otherwise("bin").as("media_type"),
        col("content").as("blob"),
        col("path"))
  }

  /** Typed batch feature extraction: decode-stub + per-byte stats + evenly
    * spaced frame sampling with per-frame hashes, as `mapPartitions` over
    * `Dataset[MediaRecord]`.
    */
  def extractFeatures(spark: SparkSession, dir: String,
      nFrames: Int = 4): Dataset[MediaFeatures] = {
    import spark.implicits._
    extractFeaturesOn(mediaTable(spark, dir).as[MediaRecord], nFrames)
  }

  /** [[extractFeatures]] over any MediaRecord source — the same operator
    * runs on the synthetic media table and on [[fromBinaryFiles]] output.
    *
    * Frame sampling is container-driven where the payload IS a container
    * ([[frameRanges]]: GIF image-descriptor blocks, PNG IDAT chunks):
    * up to `nFrames` frames are selected evenly spaced across the
    * parsed frame list and each hash covers that frame's ACTUAL byte
    * extent — so two files with identical frame content but different
    * inter-frame metadata hash frame-for-frame equal, which spaced raw
    * byte windows can never guarantee. Raw/unknown payloads keep the
    * evenly spaced byte-window fallback (clearly a stand-in — there is
    * no frame structure to walk).
    */
  def extractFeaturesOn(records: Dataset[MediaRecord],
      nFrames: Int = 4): Dataset[MediaFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { r =>
        val len = r.blob.length
        val (w, h) = decodeDims(r.blob)
        var sum = 0L
        var i = 0
        while (i < len) { sum += (r.blob(i) & 0xff); i += 1 }
        val mean = if (len == 0) 0.0 else sum.toDouble / len
        val frames = frameRanges(r.blob) match {
          case Some(rs) if rs.nonEmpty =>
            val take = math.min(nFrames, rs.length)
            (0 until take).map { f =>
              val (a, b) = rs((rs.length.toLong * f / take).toInt)
              fnv1a(r.blob, a, b)
            }
          case _ =>
            (0 until nFrames).map { f =>
              fnv1a(r.blob, (len.toLong * f / nFrames).toInt,
                (len.toLong * (f + 1) / nFrames).toInt)
            }
        }
        MediaFeatures(r.doc_id, r.media_type, len, w, h, mean,
          frames.length, frames)
      }
    }
  }

  /** Metadata slice of the features — the oracle-checkable part (the
    * payloads are ASCII text, so byte stats are SQL-reproducible).
    */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(spark, dir)
      .select(col("doc_id"), col("media_type"), col("byte_len"),
        col("width"), col("height"), col("mean_byte"))
      .orderBy(col("doc_id"))

  /** The media table with image payloads wrapped in REAL multi-frame
    * GIF89a containers ([[gifWrap]]), video payloads alternating
    * between REAL ISO-BMFF boxes ([[mp4Wrap]]) and REAL EBML/Matroska
    * trees ([[mkvWrap]] — since round 14, closing the last container
    * family without a walk), and audio payloads left raw — frame
    * counts 1–7 deterministic from payload length. The fixture lets
    * [[mediaFrames]]' golden cover all THREE container walks
    * ([[gifFrameRanges]] descriptor chain, [[mp4FrameRanges]]
    * stsz/stco sample extents, [[mkvFrameRanges]] Cluster/SimpleBlock
    * extents) AND the raw fallback in one query, in an environment
    * with no encoded media on disk.
    */
  def encodedMediaTable(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    mediaTable(spark, dir).as[MediaRecord].map { r =>
      val frames = 1 + (r.blob.length % 7)
      r.media_type match {
        case "audio" => r
        case "video" =>
          // alternate container within the video family: doc_id ≡ 2
          // (mod 3) are video, so (doc_id div 3) parity splits them
          // deterministically and evenly between the two walks.
          // Within each family, (doc_id div 6) further cycles the
          // layout variants — single-chunk vs stsc-chunked mp4,
          // unlaced vs Xiph/EBML-laced mkv — all of which resolve to
          // the SAME payload slices, so the mediaFrames golden pins
          // container-invariance across every layout the walks read
          // (fixed-size lacing is spec-only: it cannot represent the
          // ceil-partition's short final slice)
          val wrapped =
            if ((r.doc_id / 3) % 2 == 0)
              mp4Wrap(r.blob, frames,
                chunks = 1 + ((r.doc_id / 6) % 2).toInt)
            else ((r.doc_id / 6) % 3).toInt match {
              case 0 => mkvWrap(r.blob, frames)
              case 1 => mkvWrapLaced(r.blob, frames, 1) // Xiph
              case _ => mkvWrapLaced(r.blob, frames, 3) // EBML
            }
          MediaRecord(r.doc_id, r.media_type, wrapped)
        case _ =>
          MediaRecord(r.doc_id, r.media_type, gifWrap(r.blob, frames))
      }
    }
  }

  /** Frame-sample output over [[encodedMediaTable]] — per-frame rows
    * from the REAL container frame offsets for the GIF-wrapped image
    * and MP4-boxed / Matroska-wrapped video payloads, spaced byte
    * windows for the raw audio ones (hashes have no SQL equivalent —
    * rows-only/golden).
    */
  def mediaFrames(spark: SparkSession, dir: String): DataFrame =
    extractFeaturesOn(encodedMediaTable(spark, dir))
      .select(col("doc_id"), posexplode(col("frame_hashes"))
        .as(Seq("frame_idx", "frame_hash")))
      .orderBy(col("doc_id"), col("frame_idx"))

  /** Cross-engine TWIN slice of [[mediaFrames]]: the raw-audio family
    * only (doc_id ≡ 1 mod 3 — payload = the ASCII text bytes, no
    * container), where BOTH halves of the frame row are replayable by
    * a second engine: the fallback window rule
    * [len·f/4, len·(f+1)/4) is integer arithmetic, and the
    * [[fnv1a]] frame hash is a 64-bit wrapping fold DuckDB replays in
    * HUGEINT arithmetic mod 2⁶⁴ — the first byte-level hash kernel of
    * the engine under the hash gate. The GIF/PNG/MP4 container walks
    * keep their goldens (byte-exact container emulation in SQL is the
    * remaining gap, not the hash or the windowing).
    */
  def mediaFramesAudio(spark: SparkSession, dir: String): DataFrame =
    mediaFrames(spark, dir).filter(col("doc_id") % 3 === 1)

  /** The one extractFeatures→resizeMeta composition shared by
    * [[mediaResize]] and [[patchGrid]], so out_width/out_height can
    * never drift between the two query surfaces.
    */
  private def resized(spark: SparkSession, dir: String,
      maxDim: Int): DataFrame =
    resizeMeta(extractFeatures(spark, dir), maxDim)

  /** Query form of [[resizeMeta]] over the synthetic media table. */
  def mediaResize(spark: SparkSession, dir: String,
      maxDim: Int = 256): DataFrame =
    resized(spark, dir, maxDim).orderBy(col("doc_id"))

  /** ViT-style patch-grid planning over the resized dimensions: how many
    * `patch`×`patch` tiles each image yields, and the right/bottom
    * padding the tiler must add to reach whole-patch bounds — the
    * sequence-length budgeting input a vision-training pipeline needs
    * BEFORE decoding anything (a media corpus plans its packing from
    * metadata alone; the codec runs later, only on admitted items —
    * the image-side analog of [[graft.operators.Sampling.tokenPack]]'s
    * token budgeting). Integer ceil-division arithmetic on metadata
    * columns: narrow, shuffle-free, oracle-exact.
    */
  def patchGrid(spark: SparkSession, dir: String, maxDim: Int = 256,
      patch: Int = 16): DataFrame =
    resized(spark, dir, maxDim)
      .withColumn("grid_w", expr(s"(out_width + $patch - 1) div $patch").cast("int"))
      .withColumn("grid_h", expr(s"(out_height + $patch - 1) div $patch").cast("int"))
      .select(col("doc_id"), col("out_width"), col("out_height"),
        col("grid_w"), col("grid_h"),
        (col("grid_w") * col("grid_h")).as("n_patches"),
        (col("grid_w") * patch - col("out_width")).as("pad_w"),
        (col("grid_h") * patch - col("out_height")).as("pad_h"))
      .orderBy(col("doc_id"))

  /** Perceptual-hash near-duplicate detection over the image payloads —
    * the media twin of [[Dedup.simhashNearDup]]: one codegen'd
    * [[graft.functions.AHash64]] kernel call per payload (64-bit
    * average-hash, division-free so the bit vector is ANSI-SQL-exact),
    * candidates blocked on the hash's 8 byte-bands, exact `bit_count`
    * Hamming verify on the candidates.
    *
    * Recall contract: by pigeonhole a pair at Hamming ≤ 7 ALWAYS
    * collides on one of the 8 bands, so for maxHamming ≤ 7 the banded
    * output IS the all-pairs answer (spec-pinned against a brute-force
    * popcount). The default maxHamming = 16 is the perceptual-match
    * regime, where banding is the standard LSH recall trade: distant
    * pairs must still share one full byte-band to surface. Both engines
    * run the SAME banding — the oracle twin mirrors the candidate join,
    * not an all-pairs scan — so the output is deterministic and exact,
    * with the recall boundary documented rather than hidden. Scale: the
    * shuffle carries (band, key, doc) rows — 8 per image, never
    * payloads; candidate volume is Σ|bucket|², bounded by true near-dup
    * volume on real corpora (a skewed byte distribution concentrates
    * buckets — at corpus scale widen the bands, SimHash notes apply).
    */
  def mediaPhashDup(spark: SparkSession, dir: String,
      maxHamming: Int = 16): DataFrame =
    mediaPhashDupOn(mediaTable(spark, dir)
      .filter(col("media_type") === "image"), maxHamming)

  /** The (doc_id, ahash, band, bh) frame every phash consumer shares —
    * one ahash64 kernel call per payload, 8 byte-band keys. ONE
    * definition keeps the in-query pair join, the stored index layout,
    * the append path, and the streaming gate on identical banding.
    */
  private[operators] def phashBands(media: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val ah = ColumnBridge.column(
      graft.functions.AHash64(ColumnBridge.expression(col("blob"))))
    media.select(col("doc_id"), ah.as("ahash"))
      .select(col("doc_id"), col("ahash"),
        posexplode(array((0 until 8).map(i =>
          shiftrightunsigned(col("ahash"), i * 8).bitwiseAND(lit(0xFFL))): _*))
          .as(Seq("band", "bh")))
  }

  /** [[mediaPhashDup]] over any (doc_id, blob) frame. */
  def mediaPhashDupOn(media: DataFrame, maxHamming: Int = 16): DataFrame = {
    val bands = phashBands(media)
    val a = bands.select(col("band"), col("bh"),
      col("doc_id").as("da"), col("ahash").as("ha"))
    val b = bands.select(col("band"), col("bh"),
      col("doc_id").as("db"), col("ahash").as("hb"))
    a.join(b, Seq("band", "bh"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("da"), col("db"))
  }

  /** Materialize the phash admission index: the corpus's band keys
    * written band-partitioned and sorted by `bh` within each file, so
    * a probe's (band, bh) lookups ride parquet row-group min/max
    * instead of scanning the band — the media counterpart of
    * [[Dedup.writeMinhashIndex]], whose band keys are stored flat
    * instead. Payloads are NOT stored;
    * the 64-bit hash is the whole retained state per (doc, band).
    */
  def writePhashIndex(media: DataFrame, path: String): Unit =
    phashBands(media)
      .repartition(col("band"))
      .sortWithinPartitions(col("bh"))
      .write.mode("overwrite").partitionBy("band").parquet(path)

  /** Partition-scoped append of a batch into a [[writePhashIndex]]
    * layout — new files land inside the existing band directories, no
    * existing file is rewritten, nothing reads the prior corpus (the
    * [[Dedup.appendToMinhashIndex]] admission contract; append ≡
    * rebuild because the banding is a pure function of the payload).
    */
  def appendToPhashIndex(batch: DataFrame, path: String): Unit =
    phashBands(batch)
      .write.mode("append").partitionBy("band").parquet(path)

  /** Probe a stored [[writePhashIndex]] layout with a batch of new
    * payloads: the batch's 8 band keys (computed fresh, broadcast-sized)
    * join the index buckets, exact `bit_count` verify on candidates —
    * (batch_id, corpus_id, hamming) pairs at or under the threshold.
    * The batch never touches corpus payloads, only stored hashes.
    */
  def phashJoinFromIndex(spark: SparkSession, batch: DataFrame,
      indexPath: String, maxHamming: Int = 16): DataFrame = {
    val b = phashBands(batch).select(col("band"), col("bh"),
      col("doc_id").as("batch_id"), col("ahash").as("hb"))
    val idx = spark.read.parquet(indexPath)
      .select(col("band"), col("bh"), col("doc_id").as("corpus_id"),
        col("ahash").as("ha"))
    idx.join(broadcast(b), Seq("band", "bh"))
      .select(col("batch_id"), col("corpus_id"),
        bit_count(col("hb").bitwiseXOR(col("ha"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  /** Resize stub: metadata-only aspect-preserving downscale — the plan
    * shape of a real resample without the codec.
    */
  def resizeMeta(features: Dataset[MediaFeatures], maxDim: Int): DataFrame = {
    val scale = least(lit(1.0),
      lit(maxDim) / greatest(col("width"), col("height")))
    features.toDF()
      .withColumn("out_width", floor(col("width") * scale).cast("int"))
      .withColumn("out_height", floor(col("height") * scale).cast("int"))
      .select(col("doc_id"), col("width"), col("height"),
        col("out_width"), col("out_height"))
  }

  // -----------------------------------------------------------------
  // WebDataset-style tar shard export
  // -----------------------------------------------------------------

  /** Tar shard manifest — the byte-layout plan of a WebDataset-style
    * export (tar shards of (name, payload) members are how multimodal
    * training corpora ship to data loaders; webdataset.github.io). The
    * manifest is pure integer arithmetic on the POSIX ustar layout —
    * every member occupies a 512-byte header plus its payload padded
    * to the next 512-byte boundary — so a loader can seek straight to
    * `data_offset` without walking the archive, and the whole plan is
    * oracle-exact.
    *
    * Shard assignment is `doc_id % nShards`: deterministic and
    * STATELESS, so the plan needs no global running sum. (A
    * size-capped sequential packing would order the whole corpus
    * under one cumulative-sum window — the single-task global-window
    * trap; hash placement balances shards to ±O(√members) of each
    * other, which is what scalable shard writers accept.) Offsets are
    * per-shard cumulative sums — a window PARTITIONED by shard, so
    * the work parallelizes across shards and each window is bounded
    * by one shard's member count, never the corpus.
    */
  def tarManifest(spark: SparkSession, dir: String,
      nShards: Int = 4): DataFrame =
    tarManifestOn(mediaTable(spark, dir), nShards)

  /** [[tarManifest]] over any (doc_id, media_type, blob) frame. */
  def tarManifestOn(media: DataFrame, nShards: Int = 4): DataFrame = {
    require(nShards > 0, s"tarManifest: nShards must be positive, $nShards")
    import org.apache.spark.sql.expressions.Window
    val m = media.select(
      (col("doc_id") % nShards).cast("int").as("shard"),
      col("doc_id"),
      concat(col("doc_id").cast("string"), lit("."),
        col("media_type")).as("name"),
      length(col("blob")).cast("long").as("size"))
      .withColumn("padded", expr("((size + 511) div 512) * 512"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    m.withColumn("hdr_offset",
        coalesce(sum(lit(512L) + col("padded")).over(w), lit(0L)))
      .withColumn("data_offset", col("hdr_offset") + 512L)
      .select(col("shard"), col("doc_id"), col("name"), col("size"),
        col("padded"), col("hdr_offset"), col("data_offset"))
      .orderBy(col("shard"), col("doc_id"))
  }

  /** Per-shard rollup of [[tarManifest]]: member count, payload bytes,
    * and the on-disk tar size (headers + padded payloads + the two
    * 512-byte zero blocks that terminate a tar archive).
    */
  def tarShardSummary(spark: SparkSession, dir: String,
      nShards: Int = 4): DataFrame =
    tarManifestOn(mediaTable(spark, dir), nShards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("size")).as("data_bytes"),
        (sum(lit(512L) + col("padded")) + 1024L).as("tar_bytes"))
      .orderBy(col("shard"))

  /** One POSIX ustar header block (512 bytes) with every
    * non-structural field pinned to a deterministic constant (mode
    * 0644, uid/gid 0, mtime 0, empty uname/gname) so the same corpus
    * always produces byte-identical shards. The checksum is the
    * spec's: the byte sum of the header with the chksum field read as
    * eight spaces, written as six octal digits, NUL, space.
    */
  private[operators] def tarHeaderBytes(name: String,
      size: Long): Array[Byte] = {
    require(name.getBytes("UTF-8").length <= 100,
      s"tar member name exceeds the ustar 100-byte field: $name")
    require(size >= 0 && size <= 0x1ffffffffL, // 8^11 - 1: 11 octal digits
      s"tar member size out of the 11-octal-digit range: $size")
    val h = new Array[Byte](512)
    def put(off: Int, s: String): Unit = {
      val b = s.getBytes("UTF-8")
      System.arraycopy(b, 0, h, off, b.length)
    }
    put(0, name)
    put(100, "0000644" + "\u0000")          // mode
    put(108, "0000000" + "\u0000")          // uid
    put(116, "0000000" + "\u0000")          // gid
    put(124, f"$size%011o" + "\u0000")      // size, octal
    put(136, "00000000000" + "\u0000")      // mtime: epoch 0
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum as spaces
    h(156) = '0'                            // typeflag: regular file
    put(257, "ustar\u0000" + "00")          // magic + version
    put(329, "0000000" + "\u0000")          // devmajor
    put(337, "0000000" + "\u0000")          // devminor
    var sum = 0L
    var i = 0
    while (i < 512) { sum += (h(i) & 0xff); i += 1 }
    put(148, f"$sum%06o" + "\u0000" + " ")
    h
  }

  /** Write REAL tar shards: one `shard-NNNNN.tar` per shard under
    * `outPath`, members laid out exactly as [[tarManifest]] plans
    * (spec-proved by re-walking the produced bytes). Payload rows
    * shuffle ONCE to their shard writer — the minimum any export does
    * — and each task streams its shards member by member through the
    * Hadoop FileSystem API (object store / HDFS / local alike), never
    * buffering more than one payload. Task retries AND speculative
    * duplicate attempts are both safe: each attempt streams to its own
    * temp file under `outPath/_tmp/` (named by the task attempt id)
    * and COMMITS by renaming onto the final shard path when the shard
    * closes — rename is atomic on HDFS and local filesystems, and
    * every attempt's bytes are identical by construction, so whichever
    * attempt commits last leaves the same valid shard (spec-proved by
    * running a simulated double attempt and re-walking the winner).
    * Object-store caveat: stores whose rename is copy+delete (S3A
    * without a committer) narrow but don't eliminate the overlap
    * window — prefer an HDFS/consistent-rename target or single
    * attempts there. The `_tmp/` staging dir is cleared before and
    * after the job; a killed attempt can't leak a partial final shard.
    */
  def writeTarShards(spark: SparkSession, dir: String, outPath: String,
      nShards: Int = 4): Unit = {
    // shard/name/size are row-local expressions — computing them inline
    // (instead of joining the manifest back on doc_id) keeps the blob
    // column to ONE shuffle; the manifest's window offsets are implied
    // by the write order, not needed by the writer
    val rows = mediaTable(spark, dir).select(
      (col("doc_id") % nShards).cast("int").as("shard"),
      col("doc_id"),
      concat(col("doc_id").cast("string"), lit("."),
        col("media_type")).as("name"),
      length(col("blob")).cast("long").as("size"),
      col("blob"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
    streamTarMembers(spark, rows, outPath)
  }

  /** The streaming tar-writer core shared by [[writeTarShards]] and
    * [[writeWdsShards]]: `rows` must carry (shard, name, size, blob),
    * already repartitioned by shard and sorted into the exact member
    * order to be written. Commit protocol and scale properties are
    * documented on [[writeTarShards]] (per-attempt temp + atomic
    * rename; one payload shuffle, paid by the CALLER's repartition).
    */
  private def streamTarMembers(spark: SparkSession,
      rows: org.apache.spark.sql.DataFrame, outPath: String): Unit = {
    // the session's Hadoop config (incl. spark.hadoop.* overrides:
    // fs.defaultFS, object-store credentials), broadcast serializably —
    // a fresh Configuration() on an executor would silently resolve
    // scheme-less paths against file:/// with no credentials
    val confB = org.apache.spark.graft.HadoopConfBridge
      .broadcast(spark.sparkContext, spark.sparkContext.hadoopConfiguration)
    val tmpDir = new org.apache.hadoop.fs.Path(s"$outPath/_tmp")
    val driverFs =
      tmpDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    driverFs.delete(tmpDir, true) // stale staging from a crashed run
    rows.foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        val conf = org.apache.spark.graft.HadoopConfBridge.value(confB)
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId.toString).getOrElse("driver")
        var out: java.io.OutputStream = null
        var tmp: org.apache.hadoop.fs.Path = null
        var dest: org.apache.hadoop.fs.Path = null
        var current = -1
        def close(): Unit = if (out != null) {
          out.write(new Array[Byte](1024)) // two zero end blocks
          out.close(); out = null
          // commit: atomic rename onto the final shard path. A
          // concurrent attempt may have committed already — its bytes
          // are identical, so replacing it changes nothing; rename
          // itself is atomic, so readers never see a partial shard.
          val fs = dest.getFileSystem(conf)
          if (fs.exists(dest)) fs.delete(dest, false)
          if (!fs.rename(tmp, dest))
            throw new java.io.IOException(
              s"writeTarShards: commit rename failed: $tmp -> $dest")
        }
        it.foreach { r =>
          val shard = r.getAs[Int]("shard")
          if (shard != current) {
            close()
            dest = new org.apache.hadoop.fs.Path(
              f"$outPath/shard-$shard%05d.tar")
            tmp = new org.apache.hadoop.fs.Path(
              f"$outPath/_tmp/shard-$shard%05d.tar.$attempt%s")
            out = tmp.getFileSystem(conf).create(tmp, true)
            current = shard
          }
          val blob = r.getAs[Array[Byte]]("blob")
          out.write(tarHeaderBytes(r.getAs[String]("name"),
            r.getAs[Long]("size")))
          out.write(blob)
          val pad = ((blob.length + 511) / 512) * 512 - blob.length
          if (pad > 0) out.write(new Array[Byte](pad))
        }
        close()
    }
    // best-effort cleanup: Spark kills speculative/zombie attempts
    // asynchronously, so a still-running loser can in principle
    // recreate files under _tmp/ after this delete. Harmless to
    // readers (the glob excludes *.tar.<attempt>); the pre-job delete
    // above clears any leftovers on the next write
    driverFs.delete(tmpDir, true)
  }

  /** Walk one tar archive's bytes to its members: (name, size,
    * data_offset) per valid checksummed header, in archive order. The
    * READ half of the WebDataset lifecycle, shared by
    * [[readTarShards]] and the shard specs. Beyond plain ustar (what
    * [[writeTarShards]] emits), the walk understands the two
    * metadata-member conventions real-world WebDataset shards carry —
    * WebDataset is an interchange format, and HuggingFace exports /
    * GNU tar defaults routinely produce both:
    *
    *   - PAX extended headers (typeflag 'x' per-file, 'g' global):
    *     the payload is `"%d %s=%s\n"` records; a `path` record
    *     overrides the next regular member's name ('x') or the
    *     default for all following members ('g'), and a `size` record
    *     overrides the next member's size (how PAX stores >8 GiB
    *     files whose size can't fit 11 octal digits);
    *   - GNU longname/longlink (typeflag 'L'/'K'): the payload is the
    *     NUL-terminated full name for the next member ('L'; 'K' is
    *     the link-target variant, consumed and ignored).
    *
    * Non-regular members (directories '5', links '1'/'2', devices…)
    * are consumed but not yielded — WebDataset members are regular
    * files. The ustar `prefix` field (155 bytes at offset 345) is
    * honored — plain ustar's own long-name mechanism for paths whose
    * components split under 100/155. Octal fields accept leading
    * spaces/NULs (common writer padding). Same hostile-input discipline as the container walks
    * ([[decodeWav]]/[[mp4FrameRanges]]): offsets advance in LONG
    * arithmetic (a hostile PAX size record or 11-octal-digit field
    * can exceed Int range), the walk STOPS at the first block that is
    * neither a valid checksummed header nor the zero terminator (a
    * desynced archive yields the members that parsed cleanly, never
    * garbage extents), and a declared size past EOF clamps to the
    * bytes present.
    */
  private[operators] def tarWalk(b: Array[Byte])
      : Vector[(String, Long, Long)] = {
    def octal(off: Int, len: Int): Long = {
      var v = 0L
      var i = off
      val end = off + len
      // leading space/NUL padding before the digits (GNU and BSD tar
      // both space-pad numeric fields)
      while (i < end && (b(i) == ' ' || b(i) == 0)) i += 1
      while (i < end && b(i) >= '0' && b(i) <= '7') {
        v = v * 8 + (b(i) - '0'); i += 1
      }
      v
    }
    // parse PAX "%d %s=%s\n" records from a payload slice, returning
    // the wanted keys that parse cleanly; a malformed record length
    // (non-advancing, out of range) stops the record scan — the
    // archive walk itself continues, treating the rest as opaque
    def paxRecords(from: Long, len: Long): Map[String, String] = {
      val out = Map.newBuilder[String, String]
      var i = from
      val end = math.min(from + len, b.length.toLong)
      var ok = true
      while (ok && i < end) {
        var j = i
        var recLen = 0L
        while (j < end && b(j.toInt) >= '0' && b(j.toInt) <= '9') {
          recLen = recLen * 10 + (b(j.toInt) - '0'); j += 1
        }
        val recEnd = i + recLen
        if (recLen <= 0 || j >= end || b(j.toInt) != ' ' ||
            recEnd > end || b((recEnd - 1).toInt) != '\n') ok = false
        else {
          var eq = j + 1
          while (eq < recEnd - 1 && b(eq.toInt) != '=') eq += 1
          if (eq < recEnd - 1) {
            val key = new String(b, (j + 1).toInt, (eq - j - 1).toInt,
              "UTF-8")
            val value = new String(b, (eq + 1).toInt,
              (recEnd - 1 - eq - 1).toInt, "UTF-8")
            out += key -> value
          }
          i = recEnd
        }
      }
      out.result()
    }
    val members = Vector.newBuilder[(String, Long, Long)]
    var i = 0L
    var done = false
    // pending per-member overrides from a preceding 'x'/'L' member,
    // and archive-wide defaults from a 'g' member
    var nextName: Option[String] = None
    var nextSize: Option[Long] = None
    var globalName: Option[String] = None
    while (!done && i + 512 <= b.length) {
      val o = i.toInt
      var zero = true
      var k = o
      while (zero && k < o + 512) { if (b(k) != 0) zero = false; k += 1 }
      if (zero) done = true // first terminator block: end of archive
      else {
        // header validity: ustar magic (POSIX "ustar" + NUL and GNU
        // "ustar  " both carry "ustar" at 257) + checksum over the
        // block with the chksum field read as spaces
        val magicOk = o + 262 < b.length &&
          new String(b, o + 257, 5, "US-ASCII") == "ustar"
        var sum = 0L
        var j = o
        while (j < o + 512) {
          sum += (if (j >= o + 148 && j < o + 156) ' '.toInt
            else b(j) & 0xff)
          j += 1
        }
        if (!magicOk || sum != octal(o + 148, 8)) done = true
        else {
          var nameEnd = o
          while (nameEnd < o + 100 && b(nameEnd) != 0) nameEnd += 1
          // the ustar prefix field (155 bytes at 345) prepends a path
          // head — how plain ustar stores names over 100 chars whose
          // components split under 100/155
          var preEnd = o + 345
          while (preEnd < o + 500 && b(preEnd) != 0) preEnd += 1
          val headerName = {
            val base = new String(b, o, nameEnd - o, "UTF-8")
            if (preEnd > o + 345)
              new String(b, o + 345, preEnd - (o + 345), "UTF-8") + "/" +
                base
            else base
          }
          val size = octal(o + 124, 12)
          val typeflag = b(o + 156).toChar
          val dataOff = i + 512
          typeflag match {
            case 'x' => // PAX per-file: overrides for the NEXT member
              val recs = paxRecords(dataOff, size)
              nextName = recs.get("path").orElse(nextName)
              nextSize = recs.get("size")
                .flatMap(s => scala.util.Try(s.toLong).toOption)
                .filter(_ >= 0).orElse(nextSize)
            case 'g' => // PAX global: defaults for ALL following
              paxRecords(dataOff, size).get("path")
                .foreach(p => globalName = Some(p))
            case 'L' => // GNU longname: NUL-terminated next-member name
              val nEnd0 = math.min(dataOff + size, b.length.toLong)
              var nEnd = dataOff
              while (nEnd < nEnd0 && b(nEnd.toInt) != 0) nEnd += 1
              nextName =
                Some(new String(b, dataOff.toInt, (nEnd - dataOff).toInt,
                  "UTF-8"))
            case 'K' => // GNU longlink: consumed, link targets unused
            case '0' | '\u0000' => // regular file: a real member
              val mName =
                nextName.orElse(globalName).getOrElse(headerName)
              val mSize = nextSize.getOrElse(size)
              members += ((mName,
                math.min(mSize, b.length - i - 512), dataOff))
              nextName = None; nextSize = None
            case _ => // dirs/links/devices: consumed, never yielded
              nextName = None; nextSize = None
          }
          // advance by the HEADER's octal size field: PAX size
          // overrides change the member's logical size, not how the
          // writer padded this archive region (a >8 GiB PAX file
          // stores 0 in the header size and its payload under the
          // override — such a member's data extent clamps to the
          // bytes present, as documented)
          i += 512L + ((size + 511) / 512) * 512
        }
      }
    }
    members.result()
  }

  /** Ingest WebDataset tar shards back to (shard, name, size, blob)
    * rows — the read half [[writeTarShards]] writes, making the tar
    * layout a real interchange surface rather than export-only. One
    * `binaryFile` row per shard (shards are sized to be single-task
    * units — the same whole-file contract encoded media needs), then a
    * narrow per-partition walk slices each member's payload out of the
    * shard bytes; nothing shuffles. `shard` parses from the
    * `shard-NNNNN.tar` filename (−1 for foreign tar names, which still
    * walk fine). Round-trip (write → read ≡ source media table, blob
    * bytes included) is spec-proved, and the `q_tar_roundtrip` oracle
    * hash-checks names, sizes, and payload digests against the source
    * table cross-engine.
    */
  def readTarShards(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.tar")
      .load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        // Invariant the Int slices below depend on: a shard arrives as
        // ONE byte array (binaryFile contract, <= 2 GiB), so every
        // member offset fits an Int. A future streaming-read refactor
        // that lifts the single-array framing must widen the slicing.
        require(bytes.length <= Int.MaxValue - 512,
          s"readTarShards: shard $p exceeds the single-array framing " +
            s"(${bytes.length} bytes); member offsets assume Int range")
        val shard = "shard-(\\d+)\\.tar$".r.findFirstMatchIn(p)
          .map(_.group(1).toInt).getOrElse(-1)
        tarWalk(bytes).map { case (name, size, off) =>
          (shard, name, size,
            java.util.Arrays.copyOfRange(bytes, off.toInt,
              (off + size).toInt))
        }
      }
      .toDF("shard", "name", "size", "blob")
  }

  /** The full WebDataset lifecycle under the hash gate: write the
    * media table to real tar shards ([[writeTarShards]]), walk the
    * produced BYTES back ([[readTarShards]]), and emit each recovered
    * member with its payload digest — which the oracle recomputes from
    * the source table directly, so shard placement, member naming,
    * size fields, and payload fidelity are all cross-engine-checked
    * through an actual on-disk round trip. Session-memoized like the
    * stored-index reports: the export runs once, re-reads are
    * artifact-sized IO.
    */
  def tarRoundtrip(spark: SparkSession, dir: String,
      nShards: Int = 4): DataFrame =
    graft.ArtifactMemo.cached(spark, s"tar_rt:$dir") {
      val path = graft.Materialize.artifactDir(spark, s"tar_rt:$dir")
      writeTarShards(spark, dir, path, nShards)
      readTarShards(spark, path)
        .select(col("shard"), col("name"), col("size"),
          md5(col("blob")).as("payload_md5"))
        .orderBy(col("name"))
    }

  /** Write WebDataset-convention SAMPLE shards: where
    * [[writeTarShards]] exports one member per document, a real
    * WebDataset sample is a GROUP of members sharing a basename key
    * with one extension per field (`00042.jpg` + `00042.json`, stored
    * adjacent so a sequential reader materializes a sample from
    * consecutive members). Per document this writes two members under
    * the `doc_id` key — `<doc_id>.<media_type>` (the payload) and
    * `<doc_id>.json` (canonical metadata: doc_id, media_type, byte
    * size; field order and spacing fixed so the same corpus always
    * produces byte-identical shards) — payload first, metadata second,
    * samples in doc_id order within their shard. Same single payload
    * shuffle and speculation-safe commit as [[writeTarShards]]
    * (shared [[streamTarMembers]] core).
    */
  def writeWdsShards(spark: SparkSession, dir: String, outPath: String,
      nShards: Int = 4): Unit = {
    val docs = mediaTable(spark, dir).select(
      (col("doc_id") % nShards).cast("int").as("shard"),
      col("doc_id"), col("media_type"), col("blob"))
    val payload = docs.select(
      col("shard"), col("doc_id"), lit(0).as("rank"),
      concat(col("doc_id").cast("string"), lit("."),
        col("media_type")).as("name"),
      length(col("blob")).cast("long").as("size"),
      col("blob"))
    // metadata JSON from row-local expressions — byte length (not
    // char count) so the declared size survives multi-byte text
    val meta = docs.select(
      col("shard"), col("doc_id"), lit(1).as("rank"),
      concat(col("doc_id").cast("string"), lit(".json")).as("name"),
      concat(lit("{\"doc_id\":"), col("doc_id").cast("string"),
        lit(",\"media_type\":\""), col("media_type"),
        lit("\",\"size\":"), length(col("blob")).cast("string"),
        lit("}")).cast("binary").as("blob"))
      .withColumn("size", length(col("blob")).cast("long"))
      .select(col("shard"), col("doc_id"), col("rank"), col("name"),
        col("size"), col("blob"))
    streamTarMembers(spark,
      payload.unionByName(meta)
        .repartition(col("shard"))
        .sortWithinPartitions(col("shard"), col("doc_id"), col("rank")),
      outPath)
  }

  /** Group a shard directory's members back into WebDataset SAMPLES:
    * key = the member basename up to its FIRST dot, extension = the
    * remainder (the WebDataset convention — `00042.seg.png` is field
    * `seg.png` of sample `00042`), one row per (shard, key) with an
    * ext→bytes map of its fields. Foreign shards walk through the same
    * path as engine-written ones ([[readTarShards]] handles PAX/GNU
    * conventions), so a sample split across conventions still groups.
    *
    * Scale: ONE shuffle, keyed by (shard, key); each group is
    * sample-sized (a handful of fields), so the aggregation state is
    * bounded by the largest sample, never the corpus — the exact shape
    * a 100 TB shard archive needs. The map is built from a sorted
    * entry array so field order is deterministic under any task
    * schedule.
    */
  def wdsSamples(spark: SparkSession, path: String): DataFrame =
    readTarShards(spark, path)
      .withColumn("key", substring_index(col("name"), ".", 1))
      .withColumn("ext", expr(
        "substring(name, length(substring_index(name, '.', 1)) + 2)"))
      .groupBy(col("shard"), col("key"))
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("ext"), col("blob"))))).as("fields"))

  /** The WDS lifecycle under the oracle gate: export the corpus as
    * sample shards ([[writeWdsShards]]), group the bytes back into
    * samples ([[wdsSamples]]), and emit one deterministic row per
    * sample — field count, payload digest, metadata digest, and the
    * size the metadata CLAIMS (parsed back out of the json field) —
    * so the DuckDB twin re-deriving every value from the source table
    * checks the whole write→walk→group→parse chain byte-for-byte.
    */
  def wdsRoundtrip(spark: SparkSession, dir: String,
      nShards: Int = 4): DataFrame =
    graft.ArtifactMemo.cached(spark, s"wds_rt:$dir") {
      val path = graft.Materialize.artifactDir(spark, s"wds_rt:$dir")
      writeWdsShards(spark, dir, path, nShards)
      wdsSamples(spark, path)
        .select(
          col("key").cast("long").as("doc_id"),
          col("shard"),
          size(map_keys(col("fields"))).as("n_fields"),
          expr("filter(map_keys(fields), k -> k != 'json')[0]")
            .as("media_ext"),
          expr("md5(fields[filter(map_keys(fields), " +
            "k -> k != 'json')[0]])").as("payload_md5"),
          expr("md5(fields['json'])").as("meta_md5"),
          get_json_object(expr("cast(fields['json'] as string)"),
            "$.size").cast("long").as("meta_size"))
        .orderBy(col("doc_id"))
    }
}
