package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Multimodal-column plumbing (SURVEY.md §2): treat media payloads as
  * opaque binary columns with typed metadata, decoded in batched
  * per-partition passes.
  *
  * The container has no image/audio codecs, so the "decode" is a
  * deterministic stub (dimensions derived from the first payload
  * bytes); everything around it — binary column, partition-local
  * batch iteration via mapPartitions with a typed Encoder, metadata
  * schema — is the real production shape. mapPartitions is the
  * documented last-resort tier (SURVEY.md §4): a codec call is opaque
  * to Catalyst, so the only job of the plan is to keep it
  * partition-local and column-pruned, which this is.
  */
/** Encoder-visible row types (codegen'd (de)serializers need public
  * classes). */
case class MediaPayload(doc_id: Long, bytes: Array[Byte])
case class MediaMeta(doc_id: Long, n_bytes: Long, digest: String,
    width: Long, height: Long)
case class MediaThumb(doc_id: Long, width: Long, height: Long,
    thumb_w: Long, thumb_h: Long)
case class MediaFrames(doc_id: Long, n_frames: Long, frame0_digest: String)
case class MediaVec(doc_id: Long, vec: Array[Float])
case class ImageMeta(doc_id: Long, format: String, width: Long,
    height: Long, thumb_w: Long, thumb_h: Long)
case class VideoSample(doc_id: Long, sample_idx: Long, chunk_idx: Long,
    s_off: Long, s_size: Long, digest: String)
case class AudioWindow(doc_id: Long, win_idx: Long, byte_off: Long,
    win_frames: Long, win_bytes: Long, digest: String)
case class AudioFeatures(doc_id: Long, win_idx: Long, n_frames: Long,
    sum_amp: Long, energy: Long, peak_abs: Long, min_amp: Long)
case class ImageBlock(doc_id: Long, bx: Long, by: Long, level_idx: Long)

/** REAL byte-level image header parsers — public format knowledge
  * only: PNG (ISO/IEC 15948 §5.3/11.2.2: 8-byte signature, IHDR is
  * the first chunk, big-endian u32 width/height at byte offsets
  * 16/20), JPEG (ITU-T T.81 §B: a marker-segment stream; dimensions
  * live in the first SOFn frame header, so the parser must WALK the
  * variable-length segments — APP0/COM/DQT/... — to find it), and
  * GIF (GIF89a spec §17: little-endian u16 logical screen size at
  * offsets 6/8). This is the part of "decode" an engine can own with
  * no codec library: sniff + header parse for routing, validation,
  * and metadata extraction; pixel decode stays behind the batched
  * mapPartitions boundary. */
private[graft] object ImageHeaders {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) |
      (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def be16(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 8) | u8(b, i + 1)
  private def le16(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8)

  /** (format, width, height), or None when the bytes are not a
    * recognized image (never throws on truncated/garbage input). */
  def parse(b: Array[Byte]): Option[(String, Long, Long)] = {
    if (b.length >= 24 && u8(b, 0) == 0x89 && b(1) == 'P' &&
        b(2) == 'N' && b(3) == 'G' && u8(b, 4) == 0x0d &&
        u8(b, 5) == 0x0a && u8(b, 6) == 0x1a && u8(b, 7) == 0x0a &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
      Some(("png", be32(b, 16), be32(b, 20)))
    else if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' &&
        b(2) == 'F' && b(3) == '8' && (b(4) == '7' || b(4) == '9') &&
        b(5) == 'a')
      Some(("gif", le16(b, 6).toLong, le16(b, 8).toLong))
    else if (b.length >= 4 && u8(b, 0) == 0xff && u8(b, 1) == 0xd8)
      parseJpeg(b)
    else None
  }

  // SQL entry points — GraftExtensions registers these through
  // StaticInvoke, so whole-stage codegen calls the static forwarders
  // directly (native expression speed, no UDF wrapper, null-safe).
  def imageFormat(b: Array[Byte]): org.apache.spark.unsafe.types.UTF8String =
    if (b == null) null
    else parse(b).map(t =>
      org.apache.spark.unsafe.types.UTF8String.fromString(t._1)).orNull
  def imageWidth(b: Array[Byte]): java.lang.Long =
    if (b == null) null
    else parse(b).map(t => java.lang.Long.valueOf(t._2)).orNull
  def imageHeight(b: Array[Byte]): java.lang.Long =
    if (b == null) null
    else parse(b).map(t => java.lang.Long.valueOf(t._3)).orNull

  private def parseJpeg(b: Array[Byte]): Option[(String, Long, Long)] = {
    var i = 2
    while (i + 3 < b.length) {
      if (u8(b, i) != 0xff) return None // desynced marker stream
      val marker = u8(b, i + 1)
      if (marker == 0xff) i += 1 // fill byte
      else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7))
        i += 2 // standalone markers carry no length
      else if (marker == 0xd9 || marker == 0xda)
        return None // EOI / entropy-coded data reached before any SOF
      else {
        val len = be16(b, i + 2)
        if (len < 2 || i + 2 + len > b.length) return None
        val isSof = marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc
        if (isSof) {
          if (len < 7) return None
          // frame header: precision u8, height u16, width u16
          return Some(("jpeg", be16(b, i + 7).toLong, be16(b, i + 5).toLong))
        }
        i += 2 + len
      }
    }
    None
  }
}

/** Deterministic minimal-but-VALID image payloads for the parser's
  * oracle-backed query and specs: real signatures, real chunk/segment
  * framing (a PNG IHDR chunk; a JPEG with APP0 + COM segments before
  * the SOF0, so segment-walking is actually exercised). */
private[graft] object ImageSynth {
  // in-memory ImageIO streams (see DHash): the synth side encodes
  // through the same JDK writers and pays the same scratch files
  javax.imageio.ImageIO.setUseCache(false)

  def png(w: Int, h: Int): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(33)
    out.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte))
    out.putInt(13) // IHDR data length
    out.put("IHDR".getBytes(StandardCharsets.US_ASCII))
    out.putInt(w).putInt(h)
    out.put(8.toByte).put(6.toByte) // bit depth, color type RGBA
    out.put(0.toByte).put(0.toByte).put(0.toByte) // compress/filter/interlace
    out.putInt(0) // CRC (not validated by header parse)
    out.array()
  }

  def jpeg(w: Int, h: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def seg(marker: Int, payload: Array[Byte]): Unit = {
      bos.write(0xff); bos.write(marker)
      val len = payload.length + 2
      bos.write((len >> 8) & 0xff); bos.write(len & 0xff)
      bos.write(payload)
    }
    bos.write(0xff); bos.write(0xd8) // SOI
    seg(0xe0, "JFIF".getBytes(StandardCharsets.US_ASCII) ++
      Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0)) // APP0
    seg(0xfe, "graft".getBytes(StandardCharsets.US_ASCII)) // COM
    seg(0xc0, Array[Byte](8, // precision
      ((h >> 8) & 0xff).toByte, (h & 0xff).toByte,
      ((w >> 8) & 0xff).toByte, (w & 0xff).toByte,
      1, 1, 0x11, 0)) // one component
    bos.write(0xff); bos.write(0xd9) // EOI
    bos.toByteArray
  }

  /** splitmix64 finalizer (public-domain mixing constants) — the
    * deterministic brightness field behind [[realPng]]. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** A COMPLETE, pixel-decodable PNG (unlike [[png]]'s header-only
    * frame): 32×32 gray image of 8×8 brightness blocks, encoded by
    * the JDK's own PNG writer. Content is deterministic per id:
    * base pattern = id mod 40 fixes the block field; variant =
    * id div 40 perturbs exactly ONE block's brightness by
    * {−8, 0, +8} — so ids sharing a base are perceptual near-dups
    * (identical when the perturbation is 0) while distinct bases are
    * perceptually independent. */
  def realPng(id: Long): Array[Byte] = {
    val base = id % 40
    val variant = id / 40
    val tweakBlock = (variant % 64).toInt
    val delta = ((variant % 3) - 1).toInt * 8
    val img = new java.awt.image.BufferedImage(32, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        val v = (mix(base * 1000003L + by * 31L + bx) & 0xffL).toInt
        val c0 = if (by * 8 + bx == tweakBlock) v + delta else v
        val c = math.max(0, math.min(255, c0))
        val rgb = (c << 16) | (c << 8) | c
        var py = 0
        while (py < 4) {
          var px = 0
          while (px < 4) {
            img.setRGB(bx * 4 + px, by * 4 + py, rgb); px += 1
          }
          py += 1
        }
        bx += 1
      }
      by += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Planted 9×8 block field behind [[realImage]] — 5-level gray
    * palette indexed by (offset + h·bx + v·by) mod 5 with
    * base-derived (offset, h, v). Parameters are chosen so EVERY
    * horizontally adjacent block pair lands on different palette
    * levels (h ∈ {2,3} and the +1 perturbation keep all deltas
    * nonzero mod 5): a ≥55-gray-level margin on every dHash
    * comparison, which is what makes the hash survive JPEG's lossy
    * round-trip bit-exactly. Variant d=1 bumps exactly one block one
    * palette step — a 0–2-bit perceptual near-dup of d=0. */
  def fieldIdx(base: Long, d: Long, bx: Int, by: Int): Int = {
    val o = (base % 5).toInt
    val q = base / 5
    val h = 2 + (q % 2).toInt
    val v = (q % 5).toInt
    val raw = (o + h * bx + v * by) % 5
    if (d == 1 && bx == (base % 9).toInt && by == ((base * 3) % 8).toInt)
      (raw + 1) % 5
    else raw
  }

  /** A COMPLETE, pixel-decodable image in the codec chosen by the
    * id: 36×32 gray of 4×4 blocks over the [[fieldIdx]] field,
    * encoded by the JDK's own PNG writer for (id/40) even and its
    * JPEG writer for (id/40) odd — the SAME pixel field lands in
    * BOTH codecs, so perceptual identity must survive a genuinely
    * lossy round-trip. 36 wide so dHash's 9-column grid aligns
    * 1:1 with the planted blocks (every grid cell IS one block,
    * margins stay at full palette distance). base = id mod 40 picks
    * the field; d = (id/80) mod 2 picks the one-block perturbation. */
  def realImage(id: Long): Array[Byte] = {
    val base = id % 40
    val d = (id / 80) % 2
    val img = new java.awt.image.BufferedImage(36, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 9) {
        val c = 15 + 55 * fieldIdx(base, d, bx, by)
        val rgb = (c << 16) | (c << 8) | c
        var py = 0
        while (py < 4) {
          var px = 0
          while (px < 4) {
            img.setRGB(bx * 4 + px, by * 4 + py, rgb); px += 1
          }
          py += 1
        }
        bx += 1
      }
      by += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img,
      if ((id / 40) % 2 == 0) "png" else "jpg", bos)
    bos.toByteArray
  }

  /** The dHash [[realImage]] MUST decode to, computed from the
    * planted field alone (grid cells align 1:1 with blocks, palette
    * is monotone, so each hash bit is just an index comparison) —
    * the arithmetic the DuckDB oracle mirrors. */
  def plantedHash(id: Long): Long = {
    val base = id % 40
    val d = (id / 80) % 2
    var hash = 0L
    var bit = 0
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        if (fieldIdx(base, d, gx, gy) > fieldIdx(base, d, gx + 1, gy))
          hash |= 1L << bit
        bit += 1; gx += 1
      }
      gy += 1
    }
    hash
  }
}

/** 64-bit difference hash (dHash — the public perceptual-hash
  * technique: downsample, then hash the SIGN of adjacent-pixel
  * gradients, robust to brightness/scale changes). All-integer: luma
  * via the 299/587/114 fixed-point weights, 9×8 box-filter
  * downsample kept as (sum, count) pairs, and each gradient compared
  * cross-multiplied (sumA·cntB > sumB·cntA ⇔ avgA > avgB) so no
  * division ever rounds — the same hash on any platform. */
private[graft] object DHash {
  // ImageIO defaults to a DISK-backed stream cache: every encode and
  // decode creates (and deletes) a scratch file under java.io.tmpdir
  // — 2 filesystem round-trips per image, pure overhead for the
  // small in-memory payloads this engine hashes. Keep it in memory.
  javax.imageio.ImageIO.setUseCache(false)

  /** StaticInvoke target (the image_dhash SQL function): REAL pixel
    * decode through the JDK's registered codecs, then [[of]]. NULL
    * for anything the platform cannot decode — garbage, truncated
    * payloads, header-only frames, or formats without a JDK codec —
    * so the function is total over arbitrary binary columns. */
  def ofBytes(b: Array[Byte]): java.lang.Long = {
    if (b == null) return null
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(b))
      if (img == null) null else java.lang.Long.valueOf(of(img))
    } catch { case scala.util.control.NonFatal(_) => null }
  }

  def of(img: java.awt.image.BufferedImage): Long = {
    val gw = 9; val gh = 8
    val w = img.getWidth; val h = img.getHeight
    val sum = Array.ofDim[Long](gh, gw)
    val cnt = Array.ofDim[Long](gh, gw)
    var y = 0
    while (y < h) {
      val gy = math.min(y * gh / h, gh - 1)
      var x = 0
      while (x < w) {
        val gx = math.min(x * gw / w, gw - 1)
        val rgb = img.getRGB(x, y)
        val luma = (299 * ((rgb >> 16) & 0xff) +
          587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
        sum(gy)(gx) += luma; cnt(gy)(gx) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L; var bit = 0
    var gy = 0
    while (gy < gh) {
      var gx = 0
      while (gx < gw - 1) {
        if (sum(gy)(gx) * cnt(gy)(gx + 1) >
            sum(gy)(gx + 1) * cnt(gy)(gx)) hash |= 1L << bit
        bit += 1; gx += 1
      }
      gy += 1
    }
    hash
  }
}

/** WAV/RIFF header parsing from the public spec (RIFF container,
  * Microsoft/IBM WAVE format: little-endian chunk walk — "RIFF"
  * magic, "WAVE" form type, then 8-byte chunk headers with
  * even-padded payloads; the PCM parameters live in the "fmt " chunk
  * and the sample payload length in "data"). The audio member of the
  * [[ImageHeaders]] family: sniff + header parse is the part of
  * "decode" the engine owns; sample decode stays stubbed. Never
  * throws on garbage/truncation — returns None/NULL. */
private[graft] object AudioHeaders {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)
  private def tag(b: Array[Byte], i: Int, t: String): Boolean =
    b(i) == t.charAt(0).toByte && b(i + 1) == t.charAt(1).toByte &&
      b(i + 2) == t.charAt(2).toByte && b(i + 3) == t.charAt(3).toByte

  /** (channels, sampleRate, bitsPerSample, dataBytes) from a WAV
    * payload, or None when it isn't one (bad magic, truncated fmt,
    * desynced chunk walk, or no fmt/data chunk found). */
  def parse(b: Array[Byte]): Option[(Long, Long, Long, Long)] = {
    if (b.length < 12 || !tag(b, 0, "RIFF") || !tag(b, 8, "WAVE"))
      return None
    var i = 12
    var fmt: Option[(Long, Long, Long)] = None
    var dataBytes: Option[Long] = None
    while (i + 8 <= b.length && (fmt.isEmpty || dataBytes.isEmpty)) {
      val size = le32(b, i + 4)
      if (size < 0 || i + 8 + size > b.length) return None
      if (tag(b, i, "fmt ")) {
        if (size < 16) return None
        fmt = Some((le16(b, i + 10).toLong,      // numChannels
          le32(b, i + 12),                        // sampleRate
          le16(b, i + 22).toLong))                // bitsPerSample
      } else if (tag(b, i, "data")) {
        dataBytes = Some(size)
      }
      i += 8 + size.toInt + (size.toInt & 1)      // chunks even-padded
    }
    for (f <- fmt; d <- dataBytes) yield (f._1, f._2, f._3, d)
  }

  /** (dataOffset, dataBytes, blockAlign) of the PCM payload — the
    * byte-range view an audio clipper slices without decoding, the
    * WAV twin of VideoHeaders.parseSamples. Same chunk walk as
    * [[parse]]; None when the file isn't a WAV, fmt is malformed,
    * blockAlign would be zero, or the data range falls outside the
    * buffer. Never throws. */
  def dataRange(b: Array[Byte]): Option[(Long, Long, Long)] = {
    if (b.length < 12 || !tag(b, 0, "RIFF") || !tag(b, 8, "WAVE"))
      return None
    var i = 12
    var align: Option[Long] = None
    var data: Option[(Long, Long)] = None
    while (i + 8 <= b.length && (align.isEmpty || data.isEmpty)) {
      val size = le32(b, i + 4)
      if (size < 0 || i + 8 + size > b.length) return None
      if (tag(b, i, "fmt ")) {
        if (size < 16) return None
        val ch = le16(b, i + 10).toLong
        val bits = le16(b, i + 22).toLong
        if (ch < 1 || bits < 8 || bits % 8 != 0) return None
        align = Some(ch * bits / 8)
      } else if (tag(b, i, "data")) {
        data = Some(((i + 8).toLong, size))
      }
      i += 8 + size.toInt + (size.toInt & 1)
    }
    for (a <- align; (off, len) <- data
         if off + len <= b.length) yield (off, len, a)
  }

  // SQL entry points (StaticInvoke forwarders, like ImageHeaders)
  def wavChannels(b: Array[Byte]): java.lang.Long =
    if (b == null) null
    else parse(b).map(t => java.lang.Long.valueOf(t._1)).orNull
  def wavSampleRate(b: Array[Byte]): java.lang.Long =
    if (b == null) null
    else parse(b).map(t => java.lang.Long.valueOf(t._2)).orNull
  def wavBits(b: Array[Byte]): java.lang.Long =
    if (b == null) null
    else parse(b).map(t => java.lang.Long.valueOf(t._3)).orNull
  def wavDataBytes(b: Array[Byte]): java.lang.Long =
    if (b == null) null
    else parse(b).map(t => java.lang.Long.valueOf(t._4)).orNull
}

/** Deterministic minimal-but-VALID WAV payloads: real RIFF framing,
  * real chunk sizes; `extraChunk` inserts a LIST chunk before fmt so
  * the chunk WALK is actually exercised (a fixed-offset reader gets
  * those files wrong). */
private[graft] object AudioSynth {
  def wav(ch: Int, rate: Int, bits: Int, nSamples: Int,
      extraChunk: Boolean): Array[Byte] =
    build(ch, rate, bits, nSamples, extraChunk,
      _ => new Array[Byte](0)) // zero-filled below when fill is empty

  /** Same framing with REAL deterministic PCM content: data byte j
    * is the printable ASCII 32 + ((id + 7·j) mod 95) — single-byte
    * UTF-8, so a SQL oracle can rebuild any byte range with
    * chr()/string_agg and md5 it, while the Spark side genuinely
    * walks the chunks and SLICES. */
  def wavPcm(id: Long, ch: Int, rate: Int, bits: Int, nSamples: Int,
      extraChunk: Boolean): Array[Byte] =
    build(ch, rate, bits, nSamples, extraChunk, { dataLen =>
      Array.tabulate[Byte](dataLen)(j => (32 + ((id + 7L * j) % 95)).toByte)
    })

  private def build(ch: Int, rate: Int, bits: Int, nSamples: Int,
      extraChunk: Boolean, fill: Int => Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def le32(v: Int): Unit = {
      bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
      bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff)
    }
    val blockAlign = ch * bits / 8
    val dataLen = nSamples * blockAlign
    val listLen = 10 // "INFO" + "graft!"
    val riffLen = 4 + (8 + 16) + (8 + dataLen) +
      (if (extraChunk) 8 + listLen else 0)
    bos.write("RIFF".getBytes(StandardCharsets.US_ASCII)); le32(riffLen)
    bos.write("WAVE".getBytes(StandardCharsets.US_ASCII))
    if (extraChunk) {
      bos.write("LIST".getBytes(StandardCharsets.US_ASCII)); le32(listLen)
      bos.write("INFOgraft!".getBytes(StandardCharsets.US_ASCII))
    }
    bos.write("fmt ".getBytes(StandardCharsets.US_ASCII)); le32(16)
    le16(1) // PCM
    le16(ch); le32(rate); le32(rate * blockAlign)
    le16(blockAlign); le16(bits)
    bos.write("data".getBytes(StandardCharsets.US_ASCII)); le32(dataLen)
    val payload = fill(dataLen)
    if (payload.length == dataLen) bos.write(payload)
    else bos.write(new Array[Byte](dataLen))
    bos.toByteArray
  }
}

/** ISO-BMFF (MP4) container parsing from the public spec (ISO/IEC
  * 14496-12 §4.2 box framing, §8.2.2 movie header): big-endian
  * [u32 size][4cc type] box headers where size INCLUDES the header,
  * size==1 → a u64 largesize follows, size==0 → the box runs to the
  * end of the enclosing container. The movie metadata lives one
  * level down: `moov` is a pure container whose children include
  * `mvhd` (version 0 → u32 timescale/duration at payload offsets
  * 12/16; version 1 → u32 timescale at 20, u64 duration at 24) and
  * one `trak` box per track. The VIDEO member of the
  * ImageHeaders/AudioHeaders family: sniff + header walk is the part
  * of "decode" the engine owns; sample decode stays behind the
  * batched boundary. Never throws on truncated or garbage bytes. */
private[graft] object VideoHeaders {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1).toLong << 16) |
      (u8(b, i + 2).toLong << 8) | u8(b, i + 3).toLong
  private def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i) << 32) | be32(b, i + 4)
  private def fourcc(b: Array[Byte], i: Int): String =
    new String(b, i, 4, StandardCharsets.US_ASCII)

  /** Box header at `i` bounded by `end`: (headerLen, boxLen), or None
    * when the header is truncated or the size lies outside bounds. */
  private def boxHeader(b: Array[Byte], i: Int,
      end: Int): Option[(Int, Long)] = {
    if (i + 8 > end) return None
    val size0 = be32(b, i)
    var hdr = 8
    var size = size0
    if (size0 == 1L) {
      if (i + 16 > end) return None
      size = be64(b, i + 8); hdr = 16
    } else if (size0 == 0L) size = (end - i).toLong
    if (size < hdr || i + size > end) None else Some((hdr, size))
  }

  /** (timescale, durationTicks, nTracks) from moov's children. */
  private def walkMoov(b: Array[Byte], start: Int,
      end: Int): Option[(Long, Long, Long)] = {
    var j = start
    var header = Option.empty[(Long, Long)]
    var tracks = 0L
    while (j + 8 <= end) {
      val h = boxHeader(b, j, end)
      if (h.isEmpty) return None
      val (hdr, size) = h.get
      fourcc(b, j + 4) match {
        case "mvhd" =>
          val p = j + hdr
          if (p + 4 > end) return None
          if (u8(b, p) == 0) { // version 0: u32 fields
            if (p + 20 > end) return None
            header = Some((be32(b, p + 12), be32(b, p + 16)))
          } else { // version 1: u64 creation/modification, u64 duration
            if (p + 32 > end) return None
            header = Some((be32(b, p + 20), be64(b, p + 24)))
          }
        case "trak" => tracks += 1
        case _ => ()
      }
      j += size.toInt
    }
    header.map { case (ts, dur) => (ts, dur, tracks) }
  }

  /** (majorBrand, timescale, durationTicks, nTracks), or None when
    * the bytes aren't a well-formed ISO-BMFF movie (no leading ftyp,
    * truncated box, desynced walk, or moov without mvhd). */
  def parse(b: Array[Byte]): Option[(String, Long, Long, Long)] = {
    if (b.length < 16 || fourcc(b, 4) != "ftyp") return None
    val brand = fourcc(b, 8)
    var i = 0
    while (i + 8 <= b.length) {
      val h = boxHeader(b, i, b.length)
      if (h.isEmpty) return None
      val (hdr, size) = h.get
      if (fourcc(b, i + 4) == "moov")
        return walkMoov(b, i + hdr, (i + size).toInt)
          .map { case (ts, dur, tr) => (brand, ts, dur, tr) }
      i += size.toInt
    }
    None
  }

  /** Payload bounds of the FIRST child box of `typ` inside
    * [start, end), or None. */
  private def firstChild(b: Array[Byte], start: Int, end: Int,
      typ: String): Option[(Int, Int)] = {
    var j = start
    while (j + 8 <= end) {
      val h = boxHeader(b, j, end)
      if (h.isEmpty) return None
      val (hdr, size) = h.get
      if (fourcc(b, j + 4) == typ) return Some((j + hdr, (j + size).toInt))
      j += size.toInt
    }
    None
  }

  /** Per-sample (chunkIdx, absoluteOffset, size) for EVERY sample of
    * the first track, from the full sample-table triple (ISO/IEC
    * 14496-12 §8.7.3 stsz, §8.7.4 stsc, §8.7.5 stco):
    * trak→mdia→minf→stbl walked as plain containers; stsz read in
    * both its fixed-size (sample_size != 0) and per-sample-table
    * forms; stsc's run-length (first_chunk, samples_per_chunk)
    * entries expanded against stco's chunk offsets, so multi-chunk
    * layouts (chunks scattered through mdat with gaps between them)
    * resolve to exact byte ranges — samples are contiguous only
    * WITHIN a chunk, never across chunks. A missing stsc degrades to
    * the single-chunk contiguous run (the pre-stsc behavior) so
    * one-chunk writers without the box still parse.
    * This is the byte-range slice of "frame sampling" an engine owns
    * with no codec: WHERE each sample's bytes live, so a clipper or
    * shard writer can extract them all without decoding.
    * None on any truncation/desync — and, so the never-throws
    * contract survives legal-but-unplanted files, None whenever the
    * table is empty, a sample count is absurd, samples outlast the
    * chunk list, or any resolved (offset, offset+size) range falls
    * outside [0, b.length] or past Int range. Never throws. */
  def parseSamples(b: Array[Byte]): Option[Seq[(Int, Long, Long)]] = {
    if (b.length < 16 || fourcc(b, 4) != "ftyp") return None
    var i = 0
    var moov = Option.empty[(Int, Int)]
    while (i + 8 <= b.length && moov.isEmpty) {
      val h = boxHeader(b, i, b.length)
      if (h.isEmpty) return None
      val (hdr, size) = h.get
      if (fourcc(b, i + 4) == "moov") moov = Some((i + hdr, (i + size).toInt))
      i += size.toInt
    }
    for {
      (ms, me) <- moov
      (ts, te) <- firstChild(b, ms, me, "trak")
      (ds, de) <- firstChild(b, ts, te, "mdia")
      (fs, fe) <- firstChild(b, ds, de, "minf")
      (ss, se) <- firstChild(b, fs, fe, "stbl")
      (zs, ze) <- firstChild(b, ss, se, "stsz")
      (cs, ce) <- firstChild(b, ss, se, "stco")
      sizes <- {
        if (zs + 12 > ze) None
        else {
          val fixed = be32(b, zs + 4)
          val n = be32(b, zs + 8)
          if (n < 1 || n > (1 << 20)) None // empty table ⇒ no samples
          else if (fixed != 0L) Some(Seq.fill(n.toInt)(fixed))
          else if (zs + 12 + 4 * n > ze) None
          else Some((0 until n.toInt).map(k => be32(b, zs + 12 + 4 * k)))
        }
      }
      chunkOffs <- {
        if (cs + 8 > ce) None
        else {
          val k = be32(b, cs + 4)
          if (k < 1 || k > (1 << 20)) None
          else if (cs + 8 + 4 * k > ce) None
          else Some((0 until k.toInt).map(j => be32(b, cs + 8 + 4 * j)))
        }
      }
      stscRuns <- firstChild(b, ss, se, "stsc") match {
        // absent stsc: one contiguous chunk (the lenient fallback)
        case None => Some(Seq((1L, sizes.length.toLong)))
        case Some((xs, xe)) =>
          if (xs + 8 > xe) None
          else {
            val e = be32(b, xs + 4)
            if (e < 1 || e > (1 << 16)) None
            else if (xs + 8 + 12 * e > xe) None
            else {
              val runs = (0 until e.toInt).map { j =>
                (be32(b, xs + 8 + 12 * j), be32(b, xs + 12 + 12 * j))
              }
              // first_chunk must be ascending from >= 1 and counts > 0
              // or the run expansion below is meaningless
              val ascending = runs.head._1 == 1L &&
                runs.sliding(2).forall {
                  case Seq((a, _), (c, _)) => c > a
                  case _                   => true
                } && runs.forall(_._2 > 0)
              if (ascending) Some(runs) else None
            }
          }
      }
      expanded <- {
        // expand stsc runs over stco's chunks, clipping at the stsz
        // sample count (last chunk may be partial)
        val out = Seq.newBuilder[(Int, Long, Long)]
        val n = sizes.length
        var si = 0
        var c = 0
        var ri = 0 // current stsc run; runs are ascending, chunks walk
        // forward, so a single pointer advance keeps this linear in
        // (chunks + runs) — a per-chunk prefix scan would let a legal
        // 2^20-chunk x 2^16-run table pin a task for hours
        while (c < chunkOffs.length && si < n) {
          val chunkNo = c + 1L
          while (ri + 1 < stscRuns.length && stscRuns(ri + 1)._1 <= chunkNo) ri += 1
          val spc = stscRuns(ri)._2
          var off = chunkOffs(c)
          var cnt = 0L
          while (cnt < spc && si < n) {
            out += ((c, off, sizes(si)))
            off += sizes(si)
            si += 1
            cnt += 1
          }
          c += 1
        }
        // samples left over after the chunk list ⇒ tables desynced
        if (si < n) None else Some(out.result())
      }
      validated <- {
        val ok = expanded.forall { case (_, o, sz) =>
          o >= 0 && sz >= 0 && o + sz <= b.length && o + sz <= Int.MaxValue
        }
        if (ok) Some(expanded) else None
      }
    } yield validated
  }

  // SQL entry points (StaticInvoke forwarders, like ImageHeaders)
  def videoBrand(b: Array[Byte]): org.apache.spark.unsafe.types.UTF8String =
    if (b == null) null
    else parse(b).map(t =>
      org.apache.spark.unsafe.types.UTF8String.fromString(t._1)).orNull
  def videoTimescale(b: Array[Byte]): java.lang.Long =
    if (b == null) null
    else parse(b).map(t => java.lang.Long.valueOf(t._2)).orNull
  def videoDuration(b: Array[Byte]): java.lang.Long =
    if (b == null) null
    else parse(b).map(t => java.lang.Long.valueOf(t._3)).orNull
  def videoTracks(b: Array[Byte]): java.lang.Long =
    if (b == null) null
    else parse(b).map(t => java.lang.Long.valueOf(t._4)).orNull
}

/** Deterministic minimal-but-VALID ISO-BMFF payloads: real box
  * framing with correct sizes; `extraBox` inserts a `free` box
  * between ftyp and moov so the top-level WALK is exercised (a
  * fixed-offset reader gets those files wrong); `v1` emits a
  * version-1 mvhd (u64 duration) so both header layouts are hit. */
private[graft] object VideoSynth {
  def box(typ: String, payload: Array[Byte]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(8 + payload.length)
    out.putInt(8 + payload.length)
    out.put(typ.getBytes(StandardCharsets.US_ASCII))
    out.put(payload)
    out.array()
  }

  /** The size==1 largesize framing of the same box. */
  def boxLarge(typ: String, payload: Array[Byte]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(16 + payload.length)
    out.putInt(1)
    out.put(typ.getBytes(StandardCharsets.US_ASCII))
    out.putLong(16L + payload.length)
    out.put(payload)
    out.array()
  }

  /** A movie whose first trak carries REAL sample tables
    * (trak→mdia→minf→stbl with per-sample stsz + run-length stsc +
    * multi-chunk stco) and whose mdat holds the actual sample bytes
    * CHUNKED: samples_per_chunk = (id mod 3) + 1, so docs land on 1–5
    * chunks, the last possibly partial (a two-entry stsc run list);
    * chunks are separated by 4 zero GAP bytes inside mdat, so a
    * parser that assumes one contiguous run slices garbage and
    * hash-mismatches. Sample i is filled with the single ASCII byte
    * 65 + ((id + i) mod 26), sized 20 + ((id + i) mod 7)·10 —
    * deterministic content an oracle can place and md5 in pure
    * arithmetic while the Spark side genuinely parses and SLICES. */
  val chunkGap = 4
  def mp4Sampled(id: Long, timescale: Int, duration: Long,
      nSamples: Int, extraBox: Boolean): Array[Byte] = {
    val sizes = (0 until nSamples).map(i => 20 + ((id + i) % 7).toInt * 10)
    val spc = (id % 3).toInt + 1
    val nChunks = (nSamples + spc - 1) / spc
    val rem = nSamples % spc
    val stscRuns =
      if (nChunks > 1 && rem != 0) Seq((1, spc), (nChunks, rem))
      else Seq((1, spc))
    val chunkBytes = (0 until nChunks).map { j =>
      sizes.slice(j * spc, math.min(nSamples, (j + 1) * spc)).sum
    }
    val stszLen = 8 + 12 + 4 * nSamples
    val stscLen = 8 + 8 + 12 * stscRuns.length
    val stcoLen = 8 + 8 + 4 * nChunks
    val moovLen = 8 + 28 + (8 + 8 + 8 + (8 + stszLen + stscLen + stcoLen))
    val mdatOff = 16 + (if (extraBox) 13 else 0) + moovLen + 8
    // chunk j starts after all prior chunks' bytes plus j gaps
    val chunkOffs = chunkBytes.scanLeft(mdatOff.toLong)(_ + _ + chunkGap).init
    val stsz = {
      val p = java.nio.ByteBuffer.allocate(12 + 4 * nSamples)
      p.putInt(0).putInt(0).putInt(nSamples)
      sizes.foreach(p.putInt)
      box("stsz", p.array())
    }
    val stsc = {
      val p = java.nio.ByteBuffer.allocate(8 + 12 * stscRuns.length)
      p.putInt(0).putInt(stscRuns.length)
      stscRuns.foreach { case (fc, c) => p.putInt(fc).putInt(c).putInt(1) }
      box("stsc", p.array())
    }
    val stco = {
      val p = java.nio.ByteBuffer.allocate(8 + 4 * nChunks)
      p.putInt(0).putInt(nChunks)
      chunkOffs.foreach(o => p.putInt(o.toInt))
      box("stco", p.array())
    }
    val trak = box("trak", box("mdia", box("minf",
      box("stbl", stsz ++ stsc ++ stco))))
    val mvhd = {
      val p = java.nio.ByteBuffer.allocate(20)
      p.putInt(0).putInt(0).putInt(0)
      p.putInt(timescale).putInt(duration.toInt)
      box("mvhd", p.array())
    }
    val mdatPayload = {
      val m = new java.io.ByteArrayOutputStream()
      (0 until nChunks).foreach { j =>
        if (j > 0) m.write(Array.fill(chunkGap)(0.toByte))
        sizes.zipWithIndex
          .slice(j * spc, math.min(nSamples, (j + 1) * spc))
          .foreach { case (sz, i) =>
            m.write(Array.fill(sz)((65 + ((id + i) % 26)).toByte))
          }
      }
      m.toByteArray
    }
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(box("ftyp",
      "isom".getBytes(StandardCharsets.US_ASCII) ++ Array[Byte](0, 0, 2, 0)))
    if (extraBox)
      bos.write(box("free", "graft".getBytes(StandardCharsets.US_ASCII)))
    bos.write(box("moov", mvhd ++ trak))
    bos.write(box("mdat", mdatPayload))
    bos.toByteArray
  }

  def mp4(timescale: Int, duration: Long, nTracks: Int,
      extraBox: Boolean, v1: Boolean = false): Array[Byte] = {
    val mvhd = {
      val p = java.nio.ByteBuffer.allocate(if (v1) 32 else 20)
      if (v1) {
        p.putInt(0x01000000) // version 1, flags 0
        p.putLong(0L).putLong(0L) // creation/modification (u64)
        p.putInt(timescale).putLong(duration)
      } else {
        p.putInt(0) // version 0, flags 0
        p.putInt(0).putInt(0) // creation/modification (u32)
        p.putInt(timescale).putInt(duration.toInt)
      }
      box("mvhd", p.array())
    }
    val traks = (0 until nTracks).toArray.flatMap(_ =>
      box("trak", "trakstub".getBytes(StandardCharsets.US_ASCII)))
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(box("ftyp",
      "isom".getBytes(StandardCharsets.US_ASCII) ++ Array[Byte](0, 0, 2, 0)))
    if (extraBox)
      bos.write(box("free", "graft".getBytes(StandardCharsets.US_ASCII)))
    bos.write(box("moov", mvhd ++ traks))
    bos.write(box("mdat", Array[Byte](1, 2, 3, 4)))
    bos.toByteArray
  }
}

object Multimodal {

  /** Binary payload + stub-decoded metadata per document. */
  def meta(s: SparkSession, d: String): DataFrame = {
    val sp = s
    import sp.implicits._
    val payloads = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("bytes"))
      .as[MediaPayload]
    payloads.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5") // one instance per batch
      val hex = "0123456789abcdef".toCharArray
      it.map { p =>
        md.reset()
        val dig = md.digest(p.bytes)
        val sb = new java.lang.StringBuilder(32)
        dig.foreach { b =>
          sb.append(hex((b >> 4) & 0xf)); sb.append(hex(b & 0xf))
        }
        val digest = sb.toString
        // stub decode: "header" = first two bytes drive fake dimensions
        val w = if (p.bytes.length > 0) (p.bytes(0) & 0xff) % 64 + 1 else 0
        val h = if (p.bytes.length > 1) (p.bytes(1) & 0xff) % 64 + 1 else 0
        MediaMeta(p.doc_id, p.bytes.length.toLong, digest, w.toLong, h.toLong)
      }
    }.toDF()
      .orderBy(col("doc_id"))
  }

  private def payloads(s: SparkSession, d: String) = {
    val sp = s
    import sp.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("bytes"))
      .as[MediaPayload]
  }

  /** Resize: aspect-preserving thumbnail dimensions from the stubbed
    * header dims, longest edge 16 (integer arithmetic only so the
    * oracle mirrors exactly). The real op would hand each batch to a
    * codec; the partition-local batch shape is identical. */
  def resize(s: SparkSession, d: String): DataFrame = {
    val sp = s
    import sp.implicits._
    payloads(s, d).mapPartitions { it =>
      it.map { p =>
        val w = if (p.bytes.length > 0) (p.bytes(0) & 0xff) % 64 + 1 else 0
        val h = if (p.bytes.length > 1) (p.bytes(1) & 0xff) % 64 + 1 else 0
        val m = math.max(w, h)
        MediaThumb(p.doc_id, w.toLong, h.toLong,
          if (m == 0) 0L else (w.toLong * 16) / m,
          if (m == 0) 0L else (h.toLong * 16) / m)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  /** The multimodal -> similarity bridge: stub "feature extraction"
    * turns each payload's first 32 bytes into a 32-dim vector
    * (zero-padded; byte values are integers, exactly representable in
    * float, so both engines cosine over identical doubles), then
    * exact top-3 cosine neighbors for the first 10 docs — the
    * decode -> embed -> ANN flow of a real multimodal pipeline with
    * the codec stubbed and every Spark-side mechanism real. */
  def embedKnn(s: SparkSession, d: String): DataFrame = {
    val sp = s
    import sp.implicits._
    val dims = 32
    val vecs = payloads(s, d).mapPartitions { it =>
      it.map { p =>
        val v = new Array[Float](dims)
        var i = 0
        while (i < dims && i < p.bytes.length) {
          v(i) = (p.bytes(i) & 0xff).toFloat
          i += 1
        }
        MediaVec(p.doc_id, v)
      }
    }.toDF()
    val queries = vecs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("q_id"), col("vec").as("q_vec"))
    val scored = vecs.crossJoin(broadcast(queries))
      .filter(col("doc_id") =!= col("q_id"))
      .withColumn("cos", graft.functions.VectorFunctions
        .cosineSim(col("q_vec"), col("vec")))
    Similarity.topKPerGroup(scored, col("q_id"), col("cos"), col("doc_id"), 3)
      .select(col("q_id"), col("doc_id").as("neighbor_id"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Frame sampling: treat the payload as fixed-size 256-byte frames,
    * count them and fingerprint frame 0 — the batched video-sampling
    * shape with a deterministic stub decoder. The fingerprint is
    * md5 over the UPPERCASE-HEX rendering of the first 256 bytes
    * (not the raw bytes) so the DuckDB oracle can reproduce it
    * byte-exactly for any UTF-8 input — DuckDB 1.x cannot hash or
    * slice BLOBs, but substr(hex(encode(text))) is octet-precise. */
  def frameSample(s: SparkSession, d: String): DataFrame = {
    val sp = s
    import sp.implicits._
    payloads(s, d).mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      val hexLo = "0123456789abcdef".toCharArray
      val hexUp = "0123456789ABCDEF".toCharArray
      it.map { p =>
        val frameSize = 256
        val nFrames = p.bytes.length / frameSize
        val f0 = p.bytes.take(math.min(frameSize, p.bytes.length))
        val hx = new java.lang.StringBuilder(f0.length * 2)
        f0.foreach { b =>
          hx.append(hexUp((b >> 4) & 0xf)); hx.append(hexUp(b & 0xf))
        }
        md.reset()
        val dig = md.digest(hx.toString.getBytes(StandardCharsets.US_ASCII))
        val sb = new java.lang.StringBuilder(32)
        dig.foreach { b =>
          sb.append(hexLo((b >> 4) & 0xf)); sb.append(hexLo(b & 0xf))
        }
        MediaFrames(p.doc_id, nFrames.toLong, sb.toString)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  /** REAL header parse on-cluster — the non-stub complement to
    * [[meta]]: deterministic VALID image payloads (PNG for even
    * doc_ids, segment-framed JPEG for odd, dimensions derived from
    * doc_id) are built and then parsed back by the byte-level
    * [[ImageHeaders]] parser, with aspect-preserving thumbnail dims
    * computed from the PARSED values. The DuckDB oracle computes the
    * same dimensions in pure arithmetic, so any parser defect (endian
    * swap, wrong offset, broken segment walk) hash-mismatches. Map
    * only — at 100 TB this costs one scan, zero shuffles, exactly
    * like production header-sniffing over a binary column. */
  def imageMeta(s: SparkSession, d: String): DataFrame = {
    val sp = s
    import sp.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val w = (id % 640 + 1).toInt
          val h = (id % 480 + 1).toInt
          val bytes =
            if (id % 2 == 0) ImageSynth.png(w, h)
            else ImageSynth.jpeg(w, h)
          val (fmt, pw, ph) = ImageHeaders.parse(bytes).getOrElse(
            throw new IllegalStateException(
              s"unparseable image header for doc $id"))
          val m = math.max(pw, ph)
          ImageMeta(id, fmt, pw, ph,
            if (m == 0) 0L else pw * 16 / m,
            if (m == 0) 0L else ph * 16 / m)
        }
      }.toDF().orderBy(col("doc_id"))
  }

  /** The media CURATION GATE a multimodal pipeline runs before
    * training: sniff every payload, reject non-images and truncated
    * headers, then resolution-filter (min 32×32) and audit per
    * format. Payloads are deterministic per doc_id — valid PNG
    * (kind 0), valid JPEG (kind 1), garbage bytes (kind 2), a
    * TRUNCATED png header (kind 3) — so the oracle can recompute the
    * surviving set in pure arithmetic while the Spark side actually
    * parses. Runs through the REGISTERED SQL functions
    * (image_format/width/height via GraftExtensions.install), so the
    * whole gate is one codegen'd projection + filter + aggregate —
    * map-only until the format-keyed (constant-cardinality) agg. */
  def imageFilter(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.install(s)
    val sp = s
    import sp.implicits._
    val payloads = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val w = (id % 200 + 16).toInt
          val h = (id % 150 + 16).toInt
          val bytes = (id % 4) match {
            case 0 => ImageSynth.png(w, h)
            case 1 => ImageSynth.jpeg(w, h)
            case 2 => s"doc-$id is not an image".getBytes("UTF-8")
            case _ => ImageSynth.png(w, h).take(12) // truncated header
          }
          MediaPayload(id, bytes)
        }
      }.toDF()
    payloads
      .selectExpr("doc_id", "image_format(bytes) AS format",
        "image_width(bytes) AS w", "image_height(bytes) AS h")
      .filter(col("format").isNotNull &&
        col("w") >= 32 && col("h") >= 32)
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_images"),
        sum(col("w")).as("sum_w"),
        sum(col("h")).as("sum_h"))
      .orderBy(col("format"))
  }

  /** mm_audio_meta — the audio member of the modality matrix behind
    * [[imageMeta]]/[[imageFilter]]: deterministic WAV payloads per
    * doc_id (valid PCM files with varying channel/rate/bit/length
    * parameters, half with a LIST chunk before fmt so the chunk walk
    * is exercised; kinds 3/5 mod 7 are garbage and a truncated
    * header, which the parser must reject), parsed through the
    * REGISTERED codegen SQL functions (wav_channels/sample_rate/
    * bits/data_bytes via StaticInvoke). Frame count and duration
    * derive from the PARSED chunk sizes, so any endian/offset/walk
    * defect hash-mismatches against the oracle's closed-form
    * arithmetic. Map-only, zero shuffles — the 100 TB shape. */
  def audioMeta(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.install(s)
    val sp = s
    import sp.implicits._
    val payloads = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val bytes = (id % 7) match {
            case 3 => s"doc-$id is not audio".getBytes("UTF-8")
            case 5 => AudioSynth.wav(1, 8000, 16, 4,
              extraChunk = false).take(20) // truncated mid-fmt
            case _ => AudioSynth.wav(
              (id % 2 + 1).toInt,
              (8000 + (id % 5) * 2000).toInt,
              if (id % 3 == 0) 8 else 16,
              ((id % 100 + 1) * 10).toInt,
              extraChunk = id % 2 == 0)
          }
          MediaPayload(id, bytes)
        }
      }.toDF()
    payloads
      .selectExpr("doc_id",
        "wav_channels(bytes) AS channels",
        "wav_sample_rate(bytes) AS sample_rate",
        "wav_bits(bytes) AS bits_per_sample",
        "wav_data_bytes(bytes) AS data_bytes")
      .filter(col("channels").isNotNull)
      .withColumn("n_frames",
        expr("data_bytes div (channels * bits_per_sample div 8)"))
      .withColumn("duration_ms", expr("n_frames * 1000 div sample_rate"))
      .drop("data_bytes")
      .orderBy(col("doc_id"))
  }

  /** The audio twin of [[videoSamples]]: where [[audioMeta]] reads
    * the fmt header, this locates the PCM payload's byte range
    * (AudioHeaders.dataRange — offset, length, blockAlign from the
    * same bounds-checked chunk walk) and SLICES it into fixed
    * 100-frame windows with a per-window md5 — the clip/window
    * extraction an audio pipeline runs before any codec or model
    * sees bytes. Payload params mirror [[audioMeta]] exactly, but
    * the data chunk carries REAL deterministic PCM
    * ([[AudioSynth.wavPcm]]: printable-ASCII bytes in pure doc_id
    * arithmetic), so the oracle rebuilds every window byte-for-byte
    * with chr()/string_agg and recomputes each digest; the last
    * window is partial whenever 100 doesn't divide the frame count.
    * mapPartitions tier, map-only, zero shuffles at any scale. */
  def audioSamples(s: SparkSession, d: String): DataFrame = {
    val sp = s
    import sp.implicits._
    val framesPerWin = 100L
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        val md = MessageDigest.getInstance("MD5")
        it.flatMap { id =>
          val bytes = (id % 7) match {
            case 3 => s"doc-$id is not audio".getBytes("UTF-8")
            case 5 => AudioSynth.wavPcm(id, 1, 8000, 16, 4,
              extraChunk = false).take(20) // truncated mid-fmt
            case _ => AudioSynth.wavPcm(id,
              (id % 2 + 1).toInt,
              (8000 + (id % 5) * 2000).toInt,
              if (id % 3 == 0) 8 else 16,
              ((id % 100 + 1) * 10).toInt,
              extraChunk = id % 2 == 0)
          }
          AudioHeaders.dataRange(bytes).toSeq.flatMap {
            case (off, len, align) =>
              val winBytes = framesPerWin * align
              val nWins = ((len + winBytes - 1) / winBytes).toInt
              (0 until nWins).map { w =>
                val o = off + w * winBytes
                val nb = math.min(len - w * winBytes, winBytes)
                md.reset()
                md.update(bytes, o.toInt, nb.toInt)
                val digest = md.digest().map("%02x".format(_)).mkString
                AudioWindow(id, w.toLong, o, nb / align, nb, digest)
              }
          }
        }
      }.toDF().orderBy(col("doc_id"), col("win_idx"))
  }

  /** The feature-extraction step after [[audioSamples]]' window
    * slicing: per-window CHANNEL-0 amplitude statistics — frame
    * count, amplitude sum, energy (Σ s², the RMS numerator), peak
    * |s|, and min amplitude — the silence/clipping screen an audio
    * pipeline runs before any model sees a clip. The engine-owned
    * part of "decode" goes one level deeper than byte slicing here:
    * REAL PCM decoding (16-bit little-endian signed, 8-bit unsigned
    * biased by 128, WAV's two PCM conventions) from the same
    * bounds-checked chunk walk, in exact int64 arithmetic — the
    * planted payloads keep every sample below the sign bit, so the
    * oracle rebuilds each value arithmetically from doc_id and
    * recomputes every aggregate. Map-only, zero shuffles. */
  def audioFeatures(s: SparkSession, d: String): DataFrame = {
    val sp = s
    import sp.implicits._
    val framesPerWin = 100L
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val bits = if (id % 3 == 0) 8 else 16
          val bytes = (id % 7) match {
            case 3 => s"doc-$id is not audio".getBytes("UTF-8")
            case 5 => AudioSynth.wavPcm(id, 1, 8000, 16, 4,
              extraChunk = false).take(20) // truncated mid-fmt
            case _ => AudioSynth.wavPcm(id,
              (id % 2 + 1).toInt,
              (8000 + (id % 5) * 2000).toInt,
              bits,
              ((id % 100 + 1) * 10).toInt,
              extraChunk = id % 2 == 0)
          }
          pcmWindowStats(id, bytes, bits, framesPerWin)
        }
      }.toDF().orderBy(col("doc_id"), col("win_idx"))
  }

  /** Channel-0 window statistics of a WAV payload's PCM — the
    * decode + aggregate kernel of [[audioFeatures]], exposed so
    * specs can feed hand-built payloads with genuinely NEGATIVE
    * 16-bit samples (the planted corpus never sets the sign bit;
    * the sign-extension path still has to be right). Empty for
    * unparseable bytes. */
  private[graft] def pcmWindowStats(id: Long, bytes: Array[Byte],
      bits: Int, framesPerWin: Long): Seq[AudioFeatures] =
    AudioHeaders.dataRange(bytes).toSeq.flatMap {
      case (off, len, align) =>
        val nFrames = len / align
        val nWins = ((nFrames + framesPerWin - 1) / framesPerWin).toInt
        (0 until nWins).map { w =>
          val f0 = w * framesPerWin
          val f1 = math.min(nFrames, f0 + framesPerWin)
          var sum = 0L; var energy = 0L
          var peak = 0L; var minA = Long.MaxValue
          var f = f0
          while (f < f1) {
            val j = (off + f * align).toInt
            val v: Long =
              if (bits == 16)
                ((bytes(j) & 0xff) | (bytes(j + 1) << 8)).toShort.toLong
              else (bytes(j) & 0xff) - 128L
            sum += v; energy += v * v
            if (math.abs(v) > peak) peak = math.abs(v)
            if (v < minA) minA = v
            f += 1
          }
          AudioFeatures(id, w.toLong, f1 - f0, sum, energy, peak, minA)
        }
    }

  /** The VIDEO row of the modality matrix: ISO-BMFF container
    * metadata (major brand, movie timescale/duration, track count)
    * through the REGISTERED codegen SQL functions
    * (video_brand/timescale/duration/tracks — the image_format /
    * wav_* family), over deterministic per-doc payloads: valid MP4s
    * with varying timescale/duration/tracks (half with a `free` box
    * before moov so the top-level box walk is actually exercised,
    * and every third valid one with a VERSION-1 mvhd so the u64
    * layout is hit), garbage bytes and a truncated-moov kind the
    * walk must REJECT. Duration derives from the PARSED fields in
    * exact integer ms, so the oracle recomputes everything
    * arithmetically; map-only, zero shuffles. */
  def videoMeta(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.install(s)
    val sp = s
    import sp.implicits._
    val payloads = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val bytes = (id % 7) match {
            case 3 => s"doc-$id is not video".getBytes("UTF-8")
            case 5 => VideoSynth.mp4(1000, 5000L, 1,
              extraBox = false).take(30) // truncated mid-walk
            case _ => VideoSynth.mp4(
              (1000 + (id % 4) * 500).toInt,
              (id % 90 + 1) * 1000L,
              (id % 3 + 1).toInt,
              extraBox = id % 2 == 0,
              v1 = id % 3 == 0)
          }
          MediaPayload(id, bytes)
        }
      }.toDF()
    payloads
      .selectExpr("doc_id",
        "video_brand(bytes) AS brand",
        "video_timescale(bytes) AS timescale",
        "video_duration(bytes) AS duration_ticks",
        "video_tracks(bytes) AS n_tracks")
      .filter(col("brand").isNotNull)
      .withColumn("duration_ms",
        expr("duration_ticks * 1000 div timescale"))
      .orderBy(col("doc_id"))
  }

  /** Frame/sample EXTRACTION made real: where [[videoMeta]] reads the
    * movie header, this walks the first track's FULL sample tables
    * (trak→mdia→minf→stbl: per-sample stsz sizes, run-length stsc
    * chunk mapping, multi-chunk stco anchors) and then actually
    * SLICES every sample's bytes out of mdat and digests them — the
    * per-sample byte-range operation a clipper or shard writer runs,
    * with no codec involved. One output row PER SAMPLE. The planted
    * movies scatter samples across 1–5 chunks with gap bytes between
    * chunks, so a parser that assumed one contiguous run (or misread
    * stsc's run list, or sliced one byte off) hash-mismatches; the
    * oracle recomputes every offset/size from the planted layout
    * arithmetic and every digest from the planted fill bytes.
    * mapPartitions tier (imperative byte-range work), map-only, zero
    * shuffles at any scale. */
  def videoSamples(s: SparkSession, d: String): DataFrame = {
    val sp = s
    import sp.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        val md = MessageDigest.getInstance("MD5")
        it.flatMap { id =>
          val bytes = (id % 7) match {
            case 3 => s"doc-$id is not video".getBytes("UTF-8")
            case 5 => VideoSynth.mp4Sampled(id, 1000, 1000L,
              (id % 5 + 1).toInt, extraBox = false).take(40)
            case _ => VideoSynth.mp4Sampled(id, 1000, 1000L,
              (id % 5 + 1).toInt, extraBox = id % 2 == 0)
          }
          VideoHeaders.parseSamples(bytes).toSeq.flatMap { samples =>
            samples.zipWithIndex.map { case ((chunk, off, sz), i) =>
              md.reset()
              md.update(bytes, off.toInt, sz.toInt)
              val digest = md.digest().map("%02x".format(_)).mkString
              VideoSample(id, i.toLong, chunk.toLong, off, sz, digest)
            }
          }
        }
      }.toDF().orderBy(col("doc_id"), col("sample_idx"))
  }

  /** WebDataset-style shard manifest: pack documents (in doc_id
    * order) into ~256 KB shards and emit one manifest row per shard
    * (counts, byte span, id range, content checksum) — the export
    * step that turns a cleaned corpus into training shards.
    *
    * Shard assignment needs a GLOBAL prefix sum of byte sizes; a
    * single `Window.orderBy` computes it in ONE task, so this uses
    * the two-level distributed scan instead: (1) per-bucket byte
    * totals (bucket = doc_id div 1000, one small aggregate), (2) a
    * running total over BUCKETS (bucket-count-scale window, thousands
    * of rows at 100 TB), (3) bucket offset + within-bucket cumulative
    * window (partitioned, parallel). Same arithmetic, no sequential
    * bottleneck. The checksum is an order-independent long sum of
    * per-doc md5 folds, so shard integrity is oracle-verifiable. */
  def shardManifest(s: SparkSession, d: String): DataFrame = {
    val target = 256L * 1024
    val sized = Tables.documents(s, d)
      .select(col("doc_id"), expr("octet_length(text)").as("bytes"),
        graft.functions.RollingHash.rollingHash(
          md5(col("text").cast("binary"))).as("fp"))
      .withColumn("bucket", expr("doc_id div 1000"))
    val offsets = sized.groupBy(col("bucket"))
      .agg(sum(col("bytes")).as("bb"))
      .withColumn("off", coalesce(sum(col("bb")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("off"))
    sized.join(offsets, "bucket")
      .withColumn("cum", col("off") + sum(col("bytes")).over(
        Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("shard", expr(s"(cum - bytes) div $target"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("bytes")).as("shard_bytes"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(col("fp")).as("checksum"))
      .orderBy(col("shard"))
  }

  /** Perceptual near-duplicate detection over image payloads — the
    * image-side sibling of dedup_simhash, and the point where the
    * multimodal decode boundary moves: the JDK SHIPS a PNG codec
    * (javax.imageio), so this path decodes REAL pixels — encode and
    * decode both exercise the platform codec; "decode stays stubbed"
    * now applies only to formats the platform lacks. Pipeline:
    * binary payload → ImageIO pixel decode (partition-local batched
    * pass, the mapPartitions tier the codec call belongs to) →
    * all-integer 64-bit dHash ([[DHash]]) → banded Hamming LSH
    * (4×16-bit bands, the dedup_simhash shape): candidate pairs come
    * from band-bucket joins, NEVER all-pairs — at any corpus size
    * candidate volume tracks true duplicate volume — then exact
    * bit_count verification at ≤ maxHamming. A ≤3-bit corruption is
    * GUARANTEED caught (4 bands, pigeonhole: one band survives
    * intact); beyond that recall degrades exactly like every banded
    * LSH in this repo. */
  def phashNearDup(s: SparkSession, d: String,
      maxHamming: Int = 6): DataFrame = {
    graft.GraftExtensions.install(s)
    val sp = s
    import sp.implicits._
    // payload synthesis stays in the typed batch tier; the decode +
    // hash runs as the REGISTERED image_dhash function — one
    // codegen'd projection, the same surface a SQL user calls
    val hashes = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => MediaPayload(id, ImageSynth.realPng(id))))
      .toDF()
      .select(col("doc_id"), expr("image_dhash(bytes)").as("phash"))
    val banded = hashes.select(col("doc_id"), col("phash"),
        explode(expr("array(0, 1, 2, 3)")).as("band"))
      .withColumn("key", expr("(phash >> (band * 16)) & 65535"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.phash").as("ha"), col("b.phash").as("hb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The image column's feature-extraction step — [[audioFeatures]]'
    * visual twin: REAL pixel decode (the JDK codecs behind
    * image_dhash) of every [[ImageSynth.realImage]] payload, then
    * per-4×4-block luma means QUANTIZED to the 5-level planted
    * palette — the tile-statistics pass (brightness histograms,
    * silence/flat-region screens) an image pipeline runs before any
    * model. Quantization is what makes this oracle-exact ACROSS the
    * lossy JPEG path: block means sit ≥ 27 gray levels from every
    * palette midpoint, far beyond JPEG's ringing on these fields, so
    * the decoded index equals the planted [[ImageSynth.fieldIdx]]
    * bit-for-bit in both codecs and the DuckDB oracle recomputes it
    * arithmetically. Map-only (72 rows per doc), zero shuffles. */
  def imageFeatures(s: SparkSession, d: String): DataFrame = {
    val sp = s
    import sp.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(ImageSynth.realImage(id)))
          // r22 per-task work (guide §1.2 step 2): ONE bulk getRGB per
          // image instead of 1,152 per-pixel calls — each getRGB pays
          // a color-model conversion dispatch; the bulk call converts
          // the raster in one pass. Identical ARGB ints, so every
          // block mean and quantized index is byte-identical.
          val w = img.getWidth
          val px = img.getRGB(0, 0, w, img.getHeight, null, 0, w)
          for (by <- 0 until 8; bx <- 0 until 9) yield {
            var sum = 0L
            var dy = 0
            while (dy < 4) {
              var dx = 0
              val rowOff = (by * 4 + dy) * w + bx * 4
              while (dx < 4) {
                val rgb = px(rowOff + dx)
                sum += (299 * ((rgb >> 16) & 0xff) +
                  587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
                dx += 1
              }
              dy += 1
            }
            val mean = sum / 16
            val q = math.max(0L, math.min(4L, (mean - 15 + 27) / 55))
            ImageBlock(id, bx.toLong, by.toLong, q)
          }
        }
      }.toDF().orderBy(col("doc_id"), col("by"), col("bx"))
  }

  /** Cross-codec perceptual near-dup report — [[phashNearDup]]'s
    * machinery promoted to an oracle-backed query over payloads that
    * mix REAL codecs: the same planted pixel field is encoded PNG
    * for half the ids and JPEG (genuinely lossy) for the other half
    * ([[ImageSynth.realImage]]), so identical phash groups holding
    * both n_png and n_jpeg members prove the hash survives a lossy
    * round-trip, not just a byte copy.
    *
    * Scale shape: per-doc decode+hash is one map-only projection of
    * the registered image_dhash function; docs then collapse into
    * identical-hash GROUPS first (≤80 distinct hashes here, and at
    * 100 TB the group count tracks distinct content, not corpus
    * rows) — the quadratic trap of emitting every same-hash doc pair
    * never exists. Banded Hamming LSH (4×16-bit bands) runs over
    * the DISTINCT hashes only, annotating each group with its
    * nearest-neighbor distance and partner count; candidate volume
    * tracks distinct-hash near-dup structure. The planted field's
    * ≥55-level margins make the decoded hash equal the planted-field
    * arithmetic exactly (spec-pinned across all 160 variants), so
    * the DuckDB oracle recomputes every hash, group count, and
    * neighbor distance in pure integer arithmetic. */
  def phashGroups(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.install(s)
    val sp = s
    import sp.implicits._
    val hashes = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => MediaPayload(id, ImageSynth.realImage(id))))
      .toDF()
      .select(col("doc_id"), expr("image_dhash(bytes)").as("phash"))
    // Groups have ONE consumer, so the full-corpus image decode under
    // their aggregate runs once: each group's four band rows find
    // their bucket-mates through a window over (band, key), where a
    // banded self-join plus the group spine would read them 3 times
    val groups = hashes.groupBy(col("phash")).agg(
      count(lit(1)).as("n_docs"),
      sum(when(expr("(doc_id div 40) % 2 = 0"), 1L).otherwise(0L))
        .as("n_png"),
      sum(when(expr("(doc_id div 40) % 2 = 1"), 1L).otherwise(0L))
        .as("n_jpeg"),
      min(col("doc_id")).as("first_doc"),
      max(col("doc_id")).as("last_doc"))
    val bucket = Window.partitionBy(col("band"), col("key"))
    groups
      .withColumn("band", explode(expr("array(0, 1, 2, 3)")))
      .withColumn("key", expr("(phash >> (band * 16)) & 65535"))
      .withColumn("mates", collect_set(col("phash")).over(bucket))
      .withColumn("nb", expr(
        "filter(mates, m -> m != phash AND bit_count(m ^ phash) <= 6)"))
      .groupBy(Seq("phash", "n_docs", "n_png", "n_jpeg", "first_doc",
        "last_doc").map(col): _*)
      .agg(min(expr("array_min(transform(nb, m -> bit_count(m ^ phash)))"))
          .cast("long").as("nn_hamming"),
        size(array_distinct(flatten(collect_list(col("nb")))))
          .cast("long").as("nn_pairs"))
      .orderBy(col("phash"))
  }
}
