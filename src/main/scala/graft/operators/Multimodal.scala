package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import graft.core.hash.XXH3

/** Typed metadata for an opaque media blob. */
case class MediaMeta(
    doc_id: Long,
    media_bytes: Long,
    checksum: String,      // xxh3-64 hex of the blob
    kind: String,          // sniffed container kind
    width: Int,            // image/video dimensions (0 for audio)
    height: Int,
    n_frames: Int,
    sample_rate: Int,      // audio: Hz (0 for image/video)
    channels: Int,         // audio channel count (0 for image/video)
    duration_ms: Long)     // audio/video duration (0 for images)

/**
 * Multimodal-column plumbing: image/audio/video travel as opaque `binary`
 * columns with typed metadata. The Spark side — schema, batch iteration,
 * partition-parallel decode — is real, and so is every container METADATA
 * path: JDK ImageIO reads PNG/JPEG/GIF/BMP dimensions, [[decodeWav]] walks
 * RIFF/WAVE chunks (sample rate, channels, duration) and [[decodeMp4]]
 * walks ISO BMFF boxes (mvhd duration, tkhd track dims) — pure byte work,
 * no codec jar. Image PIXEL decode is REAL too ([[imageDhash]] /
 * [[imageNearDupPairs]]: ImageIO full decode -> luma plane -> dhash-64),
 * and so is audio SAMPLE decode for 16-bit PCM WAV ([[decodePcm16]] /
 * [[audioFingerprint]]: the samples ARE the bytes — a little-endian walk,
 * no codec needed). Only COMPRESSED audio/video sample decode (MP3/AAC
 * frames, video frame extraction) remains STUBBED behind [[decodeStub]]
 * (no codec libraries in this container), producing a deterministic fake
 * so tests can pin outputs.
 *
 * Batch shape mirrors `mapInPandas`: each partition is processed as an
 * iterator of rows, the decoder is invoked once per blob inside the
 * partition loop (amortizing any per-batch codec setup), and the output is
 * a typed Dataset with a stable schema.
 */
object Multimodal {

  // ImageIO defaults to DISK-backed stream caches: ImageIO.read/write over
  // a plain java.io stream round-trips the compressed bytes through a temp
  // FILE (FileCacheImageInput/OutputStream). Our blobs are already byte
  // arrays, so every call site hands ImageIO a memory-backed cache stream
  // instead — per call, leaving the JVM-global ImageIO.setUseCache alone.
  // Decode/encode results are bit-identical either way.

  /** Full decode of `blob`; null when no ImageIO reader accepts it. */
  private def readImage(blob: Array[Byte]): java.awt.image.BufferedImage = {
    val in = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(blob))
    // ImageIO.read closes the stream itself unless no reader matched
    val img = javax.imageio.ImageIO.read(in)
    if (img == null) in.close()
    img
  }

  /** Encode `img` as `format`; None when the writer refuses the image. */
  private def writeImage(img: java.awt.image.RenderedImage,
                         format: String): Option[Array[Byte]] = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bytes)
    // close before reading: it flushes the cached tail into `bytes`
    val ok = try javax.imageio.ImageIO.write(img, format, out) finally out.close()
    if (ok) Some(bytes.toByteArray) else None
  }

  /** Real image decode via the JDK's ImageIO: returns (width, height, 1)
    * for blobs whose container ImageIO can read; None otherwise. Header
    * decode only — `getWidth/getHeight` read the metadata, not the pixels. */
  private[operators] def decodeImage(blob: Array[Byte]): Option[(Int, Int, Int)] = {
    val in = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(blob))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) None
      else {
        val reader = readers.next()
        try {
          reader.setInput(in)
          Some((reader.getWidth(0), reader.getHeight(0), 1))
        } finally reader.dispose()
      }
    } catch {
      case _: Exception => None // corrupt/truncated image: fall to the stub
    } finally in.close()
  }

  /** REMAINING DECODER SEAM (audio/video SAMPLE decode — PCM frames,
    * pixels): swap for a real codec (e.g. JCodec) when available; container
    * METADATA below is real byte parsing and needs no codec. Deterministic
    * fake: dimensions are a pure function of the checksum, so results are
    * stable across partitions and retries. */
  private def decodeStub(blob: Array[Byte], checksum: Long): (Int, Int, Int) = {
    // ??? <- real audio/video sample decode goes here; deterministic fake below
    val w = 160 + (java.lang.Long.remainderUnsigned(checksum, 8L) * 80).toInt
    val h = 120 + (java.lang.Long.remainderUnsigned(checksum >>> 16, 6L) * 60).toInt
    val frames = 1 + (java.lang.Long.remainderUnsigned(checksum >>> 32, 24L)).toInt
    (w, h, frames)
  }

  /** Parsed audio/video container metadata (all-zero when absent). */
  case class AvMeta(width: Int, height: Int, sampleRate: Int, channels: Int,
                    durationMs: Long)

  private def u16le(d: Array[Byte], p: Int): Int =
    (d(p) & 0xff) | ((d(p + 1) & 0xff) << 8)
  private def u32le(d: Array[Byte], p: Int): Long =
    (d(p) & 0xffL) | ((d(p + 1) & 0xffL) << 8) | ((d(p + 2) & 0xffL) << 16) |
      ((d(p + 3) & 0xffL) << 24)
  private def u32be(d: Array[Byte], p: Int): Long =
    ((d(p) & 0xffL) << 24) | ((d(p + 1) & 0xffL) << 16) | ((d(p + 2) & 0xffL) << 8) |
      (d(p + 3) & 0xffL)
  private def u64be(d: Array[Byte], p: Int): Long =
    (u32be(d, p) << 32) | u32be(d, p + 4)
  private def fourcc(d: Array[Byte], p: Int): String =
    new String(d, p, 4, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** REAL WAV (RIFF/WAVE) header parse — pure byte work, no codec jar:
    * walks the chunk list for `fmt ` (sample rate, channels) and `data`
    * (payload size), duration = dataBytes / byteRate. None on anything
    * malformed (truncated chunks, zero byte rate). Ref layout: RIFF spec /
    * WAVEFORMATEX. */
  private[operators] def decodeWav(d: Array[Byte]): Option[AvMeta] = {
    if (d.length < 12 || fourcc(d, 0) != "RIFF" || fourcc(d, 8) != "WAVE") return None
    // p is a Long: a hostile u32 chunk size near Int.MaxValue would wrap an
    // Int cursor negative and index out of bounds instead of ending the walk
    var p = 12L
    var sampleRate = 0; var channels = 0; var byteRate = 0L; var dataBytes = -1L
    while (p + 8 <= d.length) {
      val id = fourcc(d, p.toInt)
      val sz = u32le(d, p.toInt + 4)
      if (id == "fmt " && sz >= 16 && p + 8 + 16 <= d.length) {
        channels = u16le(d, p.toInt + 10)
        sampleRate = u32le(d, p.toInt + 12).toInt
        byteRate = u32le(d, p.toInt + 16)
      } else if (id == "data") {
        // size may legally exceed the captured bytes (streamed writes);
        // clamp to what is actually present
        dataBytes = math.min(sz, d.length - p - 8)
      }
      p += 8L + sz + (sz & 1L) // chunks pad to even
    }
    if (sampleRate <= 0 || channels <= 0 || byteRate <= 0 || dataBytes < 0) None
    else Some(AvMeta(0, 0, sampleRate, channels, dataBytes * 1000L / byteRate))
  }

  /** REAL MP4 (ISO BMFF) header parse — pure byte work: walks top-level
    * boxes to `moov`, reads `mvhd` (timescale, duration) and every
    * `trak`/`tkhd` (16.16 fixed-point presentation dims; max over tracks —
    * audio tracks carry 0x0). Handles 64-bit box sizes and version-1
    * boxes. None when no parseable moov/mvhd exists. */
  private[operators] def decodeMp4(d: Array[Byte]): Option[AvMeta] = {
    var timescale = 0L; var duration = -1L; var w = 0; var h = 0
    def walk(start: Long, end: Long, depth: Int): Unit = {
      var p = start
      while (p + 8 <= end && depth < 8) {
        var sz = u32be(d, p.toInt)
        val typ = fourcc(d, p.toInt + 4)
        var hdr = 8L
        if (sz == 1 && p + 16 <= end) { sz = u64be(d, p.toInt + 8); hdr = 16L }
        else if (sz == 0) sz = end - p // box extends to end of enclosing space
        if (sz < hdr || p + sz > end) return // malformed: stop this level
        val body = p + hdr
        typ match {
          case "moov" | "trak" => walk(body, p + sz, depth + 1)
          case "mvhd" if body + 4 <= end =>
            val v = d(body.toInt) & 0xff
            if (v == 1 && body + 32 <= end) { // u64 duration ends at body+32
              timescale = u32be(d, body.toInt + 20)
              duration = u64be(d, body.toInt + 24)
            } else if (v == 0 && body + 20 <= end) {
              timescale = u32be(d, body.toInt + 12)
              duration = u32be(d, body.toInt + 16)
            }
          case "tkhd" if body + 4 <= end =>
            val v = d(body.toInt) & 0xff
            val dimsOff = body + (if (v == 1) 88L else 76L)
            if (dimsOff + 8 <= end) {
              w = math.max(w, (u32be(d, dimsOff.toInt) >> 16).toInt)
              h = math.max(h, (u32be(d, dimsOff.toInt + 4) >> 16).toInt)
            }
          case _ => ()
        }
        p += sz
      }
    }
    walk(0L, d.length.toLong, 0)
    if (timescale <= 0 || duration < 0) None
    else Some(AvMeta(w, h, 0, 0, duration * 1000L / timescale))
  }

  /** Cheap container sniff from magic bytes (real logic — works on real
    * files too). */
  def sniffKind(blob: Array[Byte]): String = {
    if (blob.length >= 8 &&
        (blob(0) & 0xff) == 0x89 && blob(1) == 'P' && blob(2) == 'N' && blob(3) == 'G') "png"
    else if (blob.length >= 3 && (blob(0) & 0xff) == 0xff && (blob(1) & 0xff) == 0xd8) "jpeg"
    else if (blob.length >= 12 && blob(4) == 'f' && blob(5) == 't' && blob(6) == 'y' && blob(7) == 'p') "mp4"
    else if (blob.length >= 4 && blob(0) == 'R' && blob(1) == 'I' && blob(2) == 'F' && blob(3) == 'F') "wav"
    else "bin"
  }

  private def stubMeta(id: Long, blob: Array[Byte], ck: Long, kind: String): MediaMeta = {
    val (w, h, f) = decodeStub(blob, ck)
    MediaMeta(id, blob.length.toLong, java.lang.Long.toHexString(ck), kind,
      w, h, f, 0, 0, 0L)
  }

  /**
   * Extract typed metadata from a binary media column, partition-parallel.
   * Input: df with (idCol LONG, binCol BINARY). Output: Dataset[MediaMeta].
   */
  def mediaMeta(df: DataFrame, idCol: String = "doc_id", binCol: String = "media"): Dataset[MediaMeta] = {
    val pruned = df.select(col(idCol).cast("long").as("id"), col(binCol).as("blob"))
    implicit val enc = Encoders.product[MediaMeta]
    pruned.mapPartitions { rows =>
      // per-partition decoder setup would go here (once, not per row)
      rows.map { r =>
        val id = r.getLong(0)
        val blob = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (blob == null) {
          // docs without media are normal in real page tables: emit typed
          // null-metadata instead of killing the task
          MediaMeta(id, 0L, "", "none", 0, 0, 0, 0, 0, 0L)
        } else {
          val ck = XXH3.hash(blob)
          val kind = sniffKind(blob)
          // real header decodes: ImageIO for images, byte-level RIFF/ISO
          // BMFF walks for wav/mp4 container metadata; the deterministic
          // stub remains only for unrecognized blobs and the sample-decode
          // seam (pixels/PCM need a codec this container lacks)
          kind match {
            case "png" | "jpeg" =>
              val (w, h, f) = decodeImage(blob).getOrElse(decodeStub(blob, ck))
              MediaMeta(id, blob.length.toLong, java.lang.Long.toHexString(ck),
                kind, w, h, f, 0, 0, 0L)
            case "wav" => decodeWav(blob) match { // parse once, not per guard
              case Some(m) =>
                MediaMeta(id, blob.length.toLong, java.lang.Long.toHexString(ck),
                  kind, 0, 0, 0, m.sampleRate, m.channels, m.durationMs)
              case None => stubMeta(id, blob, ck, kind)
            }
            case "mp4" => decodeMp4(blob) match {
              case Some(m) =>
                MediaMeta(id, blob.length.toLong, java.lang.Long.toHexString(ck),
                  kind, m.width, m.height, 0, 0, 0, m.durationMs)
              case None => stubMeta(id, blob, ck, kind)
            }
            case _ => stubMeta(id, blob, ck, kind)
          }
        }
      }
    }
  }

  // ---------------- REAL image pixel operators ----------------
  //
  // ImageIO.read is a FULL pixel decode (PNG/JPEG/GIF/BMP) in the plain
  // JDK — no codec jar needed — so image-level dedup is a first-class
  // operator, not a stub: dhash64 fingerprints survive lossless
  // re-encoding (identical pixels -> identical hash) and moderate
  // resizing (the 9x8 box-averaged luma grid sees the same continuous
  // image), and the signatures ride the existing banded-Hamming join
  // ([[Dedup.simhashPairsFromSigs]]) with its pigeonhole completeness
  // guarantee.

  /** Full pixel decode to a luma (gray) plane: ITU-R BT.601 integer
    * weights (299/587/114 over 1000 — exact integer arithmetic, so the
    * plane is bit-identical across partitions/retries/platforms). None on
    * undecodable blobs. */
  def decodeGray(blob: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    try {
      val img = readImage(blob)
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        val g = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            g(y * w + x) = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
              114 * (rgb & 0xff)) / 1000
            x += 1
          }
          y += 1
        }
        Some((w, h, g))
      }
    } catch { case _: Exception => None }
  }

  /** dhash-64 (difference hash) over a gray plane: box-average the image
    * onto a 9-column x 8-row grid (integer area averaging — NO Graphics2D
    * or float resampler, so the grid is deterministic), then bit
    * (row*8 + col) = cell(col+1, row) > cell(col, row). Robust to
    * lossless re-encode (same pixels) and to resizing (same continuous
    * cells); integer throughout. Images narrower than the grid repeat
    * pixels (x1 clamps to x0+1). */
  def dhashFromGray(w: Int, h: Int, g: Array[Int]): Long = {
    val cells = new Array[Long](9 * 8)
    var ty = 0
    while (ty < 8) {
      val y0 = ty * h / 8
      val y1 = math.max(y0 + 1, (ty + 1) * h / 8)
      var tx = 0
      while (tx < 9) {
        val x0 = tx * w / 9
        val x1 = math.max(x0 + 1, math.min((tx + 1) * w / 9, w))
        var sum = 0L
        var y = y0
        while (y < math.min(y1, h)) {
          var x = x0
          while (x < x1) { sum += g(y * w + x); x += 1 }
          y += 1
        }
        val n = (math.min(y1, h) - y0).toLong * (x1 - x0)
        cells(ty * 9 + tx) = if (n == 0) 0L else sum / n
        tx += 1
      }
      ty += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      val ty = b / 8; val tx = b % 8
      if (cells(ty * 9 + tx + 1) > cells(ty * 9 + tx)) sig |= 1L << b
      b += 1
    }
    sig
  }

  /** Per-image pixel fingerprint + stats: (id, width, height, sig,
    * mean_gray). Partition-parallel full decode; undecodable blobs are
    * dropped (a corrupt image cannot be deduped by content — route it to
    * the checksum path instead). */
  def imageDhash(df: DataFrame, idCol: String = "doc_id",
                 binCol: String = "media"): DataFrame = {
    val pruned = df.select(col(idCol).cast("long").as("id"), col(binCol).as("blob"))
    implicit val enc = Encoders.product[(Long, Int, Int, Long, Double)]
    pruned.mapPartitions { rows =>
      rows.flatMap { r =>
        val blob = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (blob == null) Iterator.empty
        else {
          requireId(r) // null id would silently unbox to 0 and alias doc 0
          decodeGray(blob) match {
            case Some((w, h, g)) =>
              var sum = 0L; var i = 0
              while (i < g.length) { sum += g(i); i += 1 }
              Iterator.single((r.getLong(0), w, h, dhashFromGray(w, h, g),
                sum.toDouble / g.length))
            case None => Iterator.empty
          }
        }
      }
    }.toDF("id", "width", "height", "sig", "mean_gray")
  }

  /** A NULL id under a decodable blob is a caller bug: getLong would
    * silently unbox it to 0 and alias document 0 (phantom pairs, wrong
    * cardinality) — fail fast instead, like the WARC writer's null-url
    * guard. */
  private def requireId(r: org.apache.spark.sql.Row): Unit =
    if (r.isNullAt(0))
      throw new IllegalArgumentException(
        "media operator: NULL id on a row with media — ids are keys; " +
          "filter or repair null ids explicitly first")

  /** Deterministic RGB box-downsample: target pixel (tx, ty) is the
    * integer average of its source rectangle per channel — the same
    * area-average rule as [[dhashFromGray]]'s grid, so thumbnails are
    * bit-stable across platforms (no Graphics2D interpolation). */
  def boxResizeRgb(img: java.awt.image.BufferedImage,
                                      tw: Int, th: Int): java.awt.image.BufferedImage = {
    val w = img.getWidth; val h = img.getHeight
    val out = new java.awt.image.BufferedImage(
      tw, th, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var ty = 0
    while (ty < th) {
      val y0 = ty * h / th
      val y1 = math.max(y0 + 1, (ty + 1) * h / th)
      var tx = 0
      while (tx < tw) {
        val x0 = tx * w / tw
        val x1 = math.max(x0 + 1, (tx + 1) * w / tw)
        var r = 0L; var g = 0L; var b = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            r += (rgb >> 16) & 0xff; g += (rgb >> 8) & 0xff; b += rgb & 0xff
            x += 1
          }
          y += 1
        }
        val cnt = (y1 - y0).toLong * (x1 - x0)
        out.setRGB(tx, ty,
          (((r / cnt).toInt) << 16) | (((g / cnt).toInt) << 8) | (b / cnt).toInt)
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** REAL image resize, partition-parallel: decode (ImageIO), integer
    * box-downsample to fit (maxW, maxH) preserving aspect ratio (never
    * upscales), re-encode to `format` ("png" lossless by default).
    * Output: (id, media, width, height) with the THUMBNAIL's dims and
    * bytes; undecodable blobs drop (route them by checksum instead).
    * Thumbnails keep dhash proximity to their source (same area-average
    * rule), so a resize stage composes with [[imageNearDupPairs]]. */
  def imageResize(df: DataFrame, maxW: Int, maxH: Int,
                  idCol: String = "doc_id", binCol: String = "media",
                  format: String = "png"): DataFrame = {
    require(maxW > 0 && maxH > 0, "target dims must be positive")
    // fail at plan time, not as silently-empty blobs per row: ImageIO.write
    // returns FALSE (no exception) when no writer matches the format name
    require(javax.imageio.ImageIO.getImageWritersByFormatName(format).hasNext,
      s"no ImageIO writer for format '$format' (JDK ships png/jpg/bmp/gif/tiff/wbmp)")
    val pruned = df.select(col(idCol).cast("long").as("id"), col(binCol).as("blob"))
    implicit val enc = Encoders.product[(Long, Array[Byte], Int, Int)]
    pruned.mapPartitions { rows =>
      rows.flatMap { r =>
        val blob = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        val img = if (blob == null) null
                  else try readImage(blob) catch { case _: Exception => null }
        if (img == null) Iterator.empty
        else {
          requireId(r)
          val w = img.getWidth; val h = img.getHeight
          // floor scale, min 1 px: fit INSIDE the box, never upscale.
          // Long products: w * maxH overflows Int for panorama-x-huge-box
          // combinations and the wrapped negative would clamp to a silent
          // 1x1 thumbnail
          val tw = math.max(1L, math.min(w.toLong,
            math.min(maxW.toLong, w.toLong * maxH / h))).toInt
          val th = math.max(1L, math.min(h.toLong,
            math.min(maxH.toLong, h.toLong * maxW / w))).toInt
          val thumb = if (tw == w && th == h) img else boxResizeRgb(img, tw, th)
          val bytes = writeImage(thumb, format).getOrElse(
            throw new java.io.IOException(
              s"image resize: the '$format' writer refused a ${tw}x$th " +
                "TYPE_INT_RGB image — emitting a zero-byte blob would " +
                "silently empty the corpus downstream"))
          Iterator.single((r.getLong(0), bytes, tw, th))
        }
      }
    }.toDF("id", "media", "width", "height")
  }

  /** Image near-dup pairs at Hamming radius `maxHamming` over dhash-64
    * fingerprints: full pixel decode -> dhash -> the banded-Hamming
    * equi-join (pigeonhole-complete for the radius, exact bit_count
    * verify). Catches lossless re-encodes (hamming 0) and resized copies
    * (small hamming) without ever joining pixels. */
  def imageNearDupPairs(df: DataFrame, maxHamming: Int = 6,
                        idCol: String = "doc_id",
                        binCol: String = "media"): DataFrame =
    Dedup.simhashPairsFromSigs(imageDhash(df, idCol, binCol)
      .select(col("id"), col("sig")), maxHamming)

  // ---------------- REAL audio PCM sample operators ----------------
  //
  // 16-bit PCM WAV carries its samples RAW: "decoding" is a little-endian
  // byte walk over the `data` chunk the metadata parser already locates —
  // pure arithmetic, no codec jar — so audio-level stats and dedup are
  // first-class operators, not stubs. Signatures ride the same
  // banded-Hamming join as image dhash.

  /** Decoded 16-bit PCM audio: rate, channel count, interleaved samples
    * (frame f, channel c at index f * channels + c). */
  case class Pcm(sampleRate: Int, channels: Int, samples: Array[Short]) {
    def nFrames: Int = samples.length / channels
  }

  /** REAL WAV PCM sample decode — pure byte work: requires audioFormat == 1
    * (integer PCM) and bitsPerSample == 16, locates the first `data` chunk,
    * reads interleaved little-endian shorts, truncating to whole frames and
    * to the bytes actually present (streamed writes legally overstate the
    * chunk size). None for non-PCM / non-16-bit / malformed containers —
    * compressed audio needs a real codec and stays on the metadata path. */
  def decodePcm16(d: Array[Byte]): Option[Pcm] = {
    if (d.length < 12 || fourcc(d, 0) != "RIFF" || fourcc(d, 8) != "WAVE") return None
    var p = 12L // Long cursor: hostile u32 chunk sizes must end the walk, not wrap
    var sampleRate = 0; var channels = 0; var fmt = 0; var bits = 0
    var dataOff = -1L; var dataLen = 0L
    while (p + 8 <= d.length) {
      val id = fourcc(d, p.toInt)
      val sz = u32le(d, p.toInt + 4)
      if (id == "fmt " && sz >= 16 && p + 8 + 16 <= d.length) {
        fmt = u16le(d, p.toInt + 8)
        channels = u16le(d, p.toInt + 10)
        sampleRate = u32le(d, p.toInt + 12).toInt
        bits = u16le(d, p.toInt + 22)
      } else if (id == "data" && dataOff < 0) {
        dataOff = p + 8
        dataLen = math.min(sz, d.length - p - 8)
      }
      p += 8L + sz + (sz & 1L) // chunks pad to even
    }
    if (fmt != 1 || bits != 16 || sampleRate <= 0 || channels <= 0 || dataOff < 0) None
    else {
      val frames = (dataLen / (2L * channels)).toInt
      val n = frames * channels
      val out = new Array[Short](n)
      var i = 0
      while (i < n) {
        val o = dataOff.toInt + 2 * i
        out(i) = ((d(o) & 0xff) | (d(o + 1) << 8)).toShort
        i += 1
      }
      Some(Pcm(sampleRate, channels, out))
    }
  }

  /** Mono mix as the per-frame SUM over channels — deliberately undivided:
    * integer-exact with no floor-vs-truncate ambiguity, so SQL oracles
    * replay it bit-for-bit, and relative energy structure (what the
    * signature reads) is unchanged by the constant factor. */
  def monoSum(p: Pcm): Array[Int] = {
    val frames = p.nFrames
    val out = new Array[Int](frames)
    var f = 0
    while (f < frames) {
      var s = 0; var c = 0
      while (c < p.channels) { s += p.samples(f * p.channels + c); c += 1 }
      out(f) = s
      f += 1
    }
    out
  }

  /** Energy-transition signature (the audio analogue of image dhash):
    * window the mono signal into sampleRate/32-frame windows (1/32 s —
    * TIME-uniform, so the same continuous audio at another sample rate
    * lands on the same window grid), per-window energy = Σ mono², bit k
    * (k < 64) = energy(k+1) > energy(k). Identical samples -> identical
    * sig (container/padding invariance); resampling preserves most
    * transition orderings (small hamming — bound pinned in the spec,
    * mirroring the image dhash resize bound). */
  def audioEnergySig(mono: Array[Int], sampleRate: Int): Long = {
    val win = math.max(1, sampleRate / 32)
    if (mono.isEmpty) return 0L
    val nWin = (mono.length + win - 1) / win
    val e = new Array[Long](nWin)
    var i = 0
    while (i < mono.length) {
      e(i / win) += mono(i).toLong * mono(i)
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < 64 && k + 1 < nWin) {
      if (e(k + 1) > e(k)) sig |= 1L << k
      k += 1
    }
    sig
  }

  /** Per-audio PCM fingerprint + exact integer stats, partition-parallel:
    * (id, sample_rate, channels, n_frames, peak_abs, sum_sq,
    * zero_crossings, sig). peak/sum_sq/crossings are over the mono-sum
    * signal; crossings count strict sign flips (a zero sample breaks the
    * flip). Non-PCM / undecodable blobs drop — dedup them by checksum
    * instead. */
  def audioFingerprint(df: DataFrame, idCol: String = "doc_id",
                       binCol: String = "media"): DataFrame = {
    val pruned = df.select(col(idCol).cast("long").as("id"), col(binCol).as("blob"))
    implicit val enc = Encoders.product[(Long, Int, Int, Int, Int, Long, Long, Long)]
    pruned.mapPartitions { rows =>
      rows.flatMap { r =>
        val blob = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (blob == null) Iterator.empty
        else decodePcm16(blob) match {
          case Some(p) =>
            requireId(r)
            val mono = monoSum(p)
            var peak = 0; var sumSq = 0L; var zc = 0L
            var i = 0
            while (i < mono.length) {
              val v = mono(i)
              if (math.abs(v) > peak) peak = math.abs(v)
              sumSq += v.toLong * v
              if (i > 0 && v.toLong * mono(i - 1) < 0) zc += 1
              i += 1
            }
            Iterator.single((r.getLong(0), p.sampleRate, p.channels, mono.length,
              peak, sumSq, zc, audioEnergySig(mono, p.sampleRate)))
          case None => Iterator.empty
        }
      }
    }.toDF("id", "sample_rate", "channels", "n_frames", "peak_abs", "sum_sq",
      "zero_crossings", "sig")
  }

  /** Audio near-dup pairs at Hamming radius `maxHamming` over the
    * energy-transition signature: PCM decode -> sig -> the banded-Hamming
    * equi-join (pigeonhole-complete for the radius, exact bit_count
    * verify). Catches container rewrites/padding (hamming 0) and
    * resampled copies (small hamming) without ever joining samples. */
  def audioNearDupPairs(df: DataFrame, maxHamming: Int = 6,
                        idCol: String = "doc_id",
                        binCol: String = "media"): DataFrame =
    Dedup.simhashPairsFromSigs(audioFingerprint(df, idCol, binCol)
      .select(col("id"), col("sig")), maxHamming)

  /** Deterministic spec-layout container builders — fixtures for the
    * parser gates (a standard 44-byte-header WAV; an ftyp+moov ISO BMFF
    * skeleton with version-0 mvhd/tkhd at their published sizes). Real
    * files, minimal content. */
  object Synth {
    private final class W {
      val b = new java.io.ByteArrayOutputStream()
      def u8(v: Int): W = { b.write(v & 0xff); this }
      def u16le(v: Int): W = { u8(v); u8(v >> 8) }
      def u32le(v: Long): W = { u8(v.toInt); u8((v >> 8).toInt); u8((v >> 16).toInt); u8((v >> 24).toInt) }
      def u16be(v: Int): W = { u8(v >> 8); u8(v) }
      def u32be(v: Long): W = { u8((v >> 24).toInt); u8((v >> 16).toInt); u8((v >> 8).toInt); u8(v.toInt) }
      def tag(s: String): W = { b.write(s.getBytes("ISO-8859-1")); this }
      def zero(n: Int): W = { b.write(new Array[Byte](n)); this }
      def bytes: Array[Byte] = b.toByteArray
    }

    /** 16-bit PCM WAV: standard RIFF + fmt(16) + data header, zero samples. */
    def wav(sampleRate: Int, channels: Int, dataBytes: Int): Array[Byte] = {
      val w = new W
      w.tag("RIFF").u32le(36L + dataBytes).tag("WAVE")
      w.tag("fmt ").u32le(16).u16le(1).u16le(channels).u32le(sampleRate)
        .u32le(sampleRate.toLong * channels * 2).u16le(channels * 2).u16le(16)
      w.tag("data").u32le(dataBytes).zero(dataBytes)
      w.bytes
    }

    /** 16-bit PCM WAV with REAL samples: standard 44-byte header +
      * interleaved little-endian frames. `channels(c)(f)` = channel c,
      * frame f; all channels must be the same length. */
    def wavPcm(sampleRate: Int, channels: Array[Array[Short]]): Array[Byte] = {
      require(channels.nonEmpty && channels.forall(_.length == channels(0).length),
        "wavPcm: channels must be non-empty and equal-length")
      val frames = channels(0).length
      val nCh = channels.length
      val dataBytes = frames * nCh * 2
      val w = new W
      w.tag("RIFF").u32le(36L + dataBytes).tag("WAVE")
      w.tag("fmt ").u32le(16).u16le(1).u16le(nCh).u32le(sampleRate)
        .u32le(sampleRate.toLong * nCh * 2).u16le(nCh * 2).u16le(16)
      w.tag("data").u32le(dataBytes)
      var f = 0
      while (f < frames) {
        var c = 0
        while (c < nCh) { w.u16le(channels(c)(f) & 0xffff); c += 1 }
        f += 1
      }
      w.bytes
    }

    /** Zero-symmetric integer triangle wave: sample(i) = amp * raw(i) with
      * raw(i) = |2(i mod p) − p| − p/2 (p even, so every term is an exact
      * integer) — a closed form a SQL oracle replays bit-for-bit. Caller
      * keeps |amp| * p/2 within 16-bit range. */
    def triangle(frames: Int, period: Int, amp: Int): Array[Short] = {
      require(period > 0 && period % 2 == 0, "triangle: period must be positive even")
      Array.tabulate(frames) { i =>
        val raw = math.abs(2 * (i % period) - period) - period / 2
        (raw * amp).toShort
      }
    }

    /** ISO BMFF skeleton: ftyp + moov(mvhd v0 + trak(tkhd v0)); timescale
      * 1000 so duration == durationMs; 16.16 fixed-point track dims. */
    def mp4(width: Int, height: Int, durationMs: Long): Array[Byte] = {
      val w = new W
      w.u32be(16).tag("ftyp").tag("isom").u32be(0)
      w.u32be(216).tag("moov")
      w.u32be(108).tag("mvhd").u32be(0) // version 0 + flags
        .u32be(0).u32be(0)              // ctime, mtime
        .u32be(1000).u32be(durationMs)  // timescale, duration
        .u32be(0x00010000L).u16be(0x0100).zero(10) // rate, volume, reserved
      mat(w)
      w.zero(24).u32be(2)               // pre_defined, next_track_ID
      w.u32be(100).tag("trak")
      w.u32be(92).tag("tkhd").u32be(7)  // version 0 + enabled flags
        .u32be(0).u32be(0).u32be(1).u32be(0) // ctime, mtime, track, reserved
        .u32be(durationMs).zero(8)      // duration, reserved
        .u16be(0).u16be(0).u16be(0).u16be(0) // layer, group, volume, reserved
      mat(w)
      w.u32be(width.toLong << 16).u32be(height.toLong << 16)
      w.bytes
    }

    private def mat(w: W): Unit = { // identity display matrix
      w.u32be(0x00010000L).u32be(0).u32be(0)
      w.u32be(0).u32be(0x00010000L).u32be(0)
      w.u32be(0).u32be(0).u32be(0x40000000L)
    }

    /** Deterministic grayscale test image: the CONTINUOUS pattern
      * g(u, v) = 127.5 * (1 + sin(2π(fx·u + fy·v + phase))) sampled at
      * pixel centers — a pure function of (u, v), so the same (fx, fy,
      * phase) rendered at any resolution depicts the same image (the
      * resize-robustness fixture for dhash), and the same (w, h) renders
      * bit-identical pixels in any lossless container (the re-encode
      * fixture). `format`: any ImageIO writer name ("png", "bmp"). */
    def image(w: Int, h: Int, fx: Double, fy: Double, phase: Double,
              format: String = "png"): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        val v = (y + 0.5) / h
        var x = 0
        while (x < w) {
          val u = (x + 0.5) / w
          val g0 = 127.5 * (1.0 + math.sin(2.0 * math.Pi * (fx * u + fy * v + phase)))
          val g = math.max(0, math.min(255, g0.toInt))
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      writeImage(img, format).getOrElse(
        throw new IllegalArgumentException(s"no ImageIO writer for '$format'"))
    }
  }

  /** Deterministic frame-sample positions for a media blob (video-style
    * `n` evenly spaced frame indexes) — the plumbing half of frame
    * sampling; the pixel decode is behind the same stub seam. */
  def frameSamplePositions(nFrames: Int, sample: Int): Seq[Int] = {
    if (nFrames <= 0 || sample <= 0) Seq.empty
    else if (nFrames <= sample) 0 until nFrames
    else (0 until sample).map(i => (i.toLong * nFrames / sample).toInt)
  }
}
