package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TIFF (baseline, 6.0) container walk — the scanned-document image
  * format a document-heavy crawl carries beside PNG/JPEG/GIF/WebP, and
  * the ONLY one of them that is byte-order-polymorphic: the header
  * declares `II` (little-endian) or `MM` (big-endian) and EVERY
  * integer in the file — IFD offsets, tag counts, inline values —
  * follows it. The corpus alternates endianness by doc_id so both
  * decoders sit under one oracle hash; getting the inline-SHORT
  * convention wrong in exactly one endianness is the classic TIFF bug
  * this pins.
  *
  * The walk (public TIFF 6.0 spec): header magic 42 + first-IFD
  * offset; each IFD is an entry count + 12-byte entries (tag, type,
  * count, value-or-offset — a value ≤ 4 bytes is stored INLINE
  * left-justified in byte order) + a next-IFD offset chaining
  * multi-page files (the corpus gives `id % 3 == 0` documents a
  * second page). Baseline tags read: ImageWidth(256),
  * ImageLength(257), BitsPerSample(258), Compression(259 — none/LZW/
  * PackBits, the baseline strip codecs, foreign-conformant against
  * libtiff), StripOffsets(273), StripByteCounts(279), DateTime(306,
  * ASCII at offset), Predictor(317 — horizontal differencing undone
  * after decompression, the real-world LZW pairing). Pixel data: one
  * gray-8 strip per page, decompressed and summed — the deterministic
  * payload check the oracle replays as grid arithmetic.
  *
  * Error-as-value: bad magic / a truncated IFD or strip / an IFD
  * cycle (page cap) / unsupported compression dead-letter the file
  * with pages already parsed kept.
  *
  * Scale shape (100 TB): per-row byte walker via `mapPartitions`,
  * zero shuffle before the output sort.
  */
object TiffOps {

  private val MaxPages = 16

  final case class TiffInfo(
      doc_id: Long, status: String, endian: String, n_pages: Int,
      width: Int, height: Int, bits: Int, pixel_sum: Long, datetime: String,
      compression: String, spp: Int = 1, layout: String = "strips")

  // --------------------------------------------------- strip compression

  /** PackBits (TIFF §9, the Apple RLE): n ≥ 0 copies n+1 literals,
    * −127 ≤ n ≤ −1 repeats the next byte 1−n times, −128 is a no-op.
    * Returns exactly `expected` bytes or None (truncated/overrun input
    * must never yield a short or padded strip).
    */
  private[graft] def packbitsDecode(
      b: Array[Byte], off: Int, len: Int, expected: Int): Option[Array[Byte]] = {
    val out = new Array[Byte](expected)
    var p = off
    val end = off + len
    var o = 0
    while (p < end && o < expected) {
      val n = b(p)
      p += 1
      if (n >= 0) {
        if (p + n + 1 > end || o + n + 1 > expected) return None
        var i = 0
        while (i <= n) { out(o) = b(p); p += 1; o += 1; i += 1 }
      } else if (n != -128) {
        if (p >= end || o + (1 - n) > expected) return None
        val v = b(p)
        p += 1
        var i = 0
        while (i < 1 - n) { out(o) = v; o += 1; i += 1 }
      }
    }
    if (o == expected) Some(out) else None
  }

  /** PackBits encoder (corpus construction): literal runs broken at
    * repeats of ≥ 3, both run kinds capped at 128.
    */
  private[graft] def packbitsEncode(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < data.length) {
      // measure the repeat run at i
      var r = i + 1
      while (r < data.length && data(r) == data(i) && r - i < 128) r += 1
      if (r - i >= 3) {
        bos.write(1 - (r - i)) // -(n-1)
        bos.write(data(i))
        i = r
      } else {
        // literal run until a ≥3 repeat starts (or 128 cap)
        val start = i
        var j = i
        var go = true
        while (go && j < data.length && j - start < 128) {
          var k = j + 1
          while (k < data.length && data(k) == data(j)) k += 1
          if (k - j >= 3) go = false else j = math.min(k, start + 128)
        }
        if (j == start) j = start + 1 // lone byte before a repeat run
        bos.write(j - start - 1)
        bos.write(data, start, j - start)
        i = j
      }
    }
    bos.toByteArray
  }

  /** Predictor 2 (TIFF §14, horizontal differencing) UNDO: each
    * SAMPLE is a delta from the same component one pixel left
    * (`d(i) += d(i - spp)` within a row of `width * spp` bytes — for
    * RGB the channels difference independently); applied after
    * decompression, per row. The pairing real LZW TIFF writers
    * default to.
    */
  private def undoPredictor2(d: Array[Byte], width: Int, spp: Int = 1): Unit = {
    val rowBytes = width * spp
    var row = 0
    while (row * rowBytes < d.length) {
      var i = spp
      while (i < rowBytes && row * rowBytes + i < d.length) {
        d(row * rowBytes + i) =
          ((d(row * rowBytes + i) + d(row * rowBytes + i - spp)) & 0xff).toByte
        i += 1
      }
      row += 1
    }
  }

  /** Predictor 2 APPLY (corpus construction): per-sample left-delta. */
  private[graft] def applyPredictor2(
      data: Array[Byte], width: Int, spp: Int = 1): Array[Byte] = {
    val out = data.clone()
    val rowBytes = width * spp
    var row = 0
    while (row * rowBytes < out.length) {
      var i = math.min(rowBytes, out.length - row * rowBytes) - 1
      while (i >= spp) {
        out(row * rowBytes + i) =
          ((data(row * rowBytes + i) - data(row * rowBytes + i - spp)) & 0xff).toByte
        i -= 1
      }
      row += 1
    }
    out
  }

  /** TIFF LZW decoder (TIFF §13): MSB-first codes, 9→12-bit widths
    * with the EARLY CHANGE (the width grows when the next free entry
    * reaches 2^w − 1 — one code earlier than GIF), Clear=256, EOI=257.
    * Foreign-conformant: libtiff-encoded strips decode byte-exactly
    * (TiffCompressionSpec fixtures). Returns exactly `expected` bytes
    * or None.
    */
  private[graft] def lzwDecode(
      b: Array[Byte], off: Int, len: Int, expected: Int): Option[Array[Byte]] = {
    val out = new Array[Byte](expected)
    var o = 0
    val totalBits = len.toLong * 8
    var bitPos = 0L
    def read(width: Int): Int = {
      if (bitPos + width > totalBits) return -1
      var v = 0
      var i = 0
      while (i < width) {
        val bit = bitPos + i
        v = (v << 1) | ((b(off + (bit >> 3).toInt) >> (7 - (bit & 7).toInt)) & 1)
        i += 1
      }
      bitPos += width
      v
    }
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4096)
    var next = 258
    var width = 9
    var prev = -1
    def firstByte(code0: Int): Byte = {
      var c = code0
      while (c >= 258) c = prefix(c)
      c.toByte
    }
    def emit(code0: Int, extra: Int): Boolean = {
      // write string(code) [+ firstByte(prev) when extra >= 0] to out
      var depth = 0
      var c = code0
      while (c >= 258) {
        if (depth >= stack.length || c >= next) return false
        stack(depth) = suffix(c); depth += 1; c = prefix(c)
      }
      if (c >= 256) return false
      stack(depth) = c.toByte; depth += 1
      val n = depth + (if (extra >= 0) 1 else 0)
      if (o + n > expected) return false
      var i = depth - 1
      while (i >= 0) { out(o) = stack(i); o += 1; i -= 1 }
      if (extra >= 0) { out(o) = firstByte(extra); o += 1 }
      true
    }
    var done = false
    while (!done) {
      val code = read(width)
      if (code < 0) return None
      if (code == 257) done = true
      else if (code == 256) { next = 258; width = 9; prev = -1 }
      else if (prev == -1) {
        if (code >= 256) return None
        if (o >= expected) return None
        out(o) = code.toByte; o += 1
        prev = code
      } else {
        if (code < next) { if (!emit(code, -1)) return None }
        else if (code == next) { if (!emit(prev, prev)) return None }
        else return None
        if (next < 4096) {
          prefix(next) = prev
          suffix(next) = firstByte(code)
          next += 1
          if (next == (1 << width) - 1 && width < 12) width += 1
        }
        prev = code
      }
    }
    if (o == expected) Some(out) else None
  }

  /** TIFF LZW encoder (corpus construction): the §13 string-table
    * algorithm with the early-change width discipline mirrored to the
    * decoder's read timeline (the decoder's free-entry counter lags
    * the encoder's by one at each read); clears when the table fills.
    */
  private[graft] def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    var cur = 0
    var nBits = 0
    var width = 9
    def put(code: Int): Unit = {
      var i = width - 1
      while (i >= 0) {
        cur = (cur << 1) | ((code >> i) & 1)
        nBits += 1
        if (nBits == 8) { bos.write(cur); cur = 0; nBits = 0 }
        i -= 1
      }
    }
    val dict = new java.util.HashMap[Long, Integer]()
    var next = 258
    put(256) // clear
    var omega = -1
    var i = 0
    while (i < data.length) {
      val k = data(i) & 0xff
      if (omega < 0) omega = k
      else {
        val key = (omega.toLong << 8) | k
        val hit = dict.get(key)
        if (hit != null) omega = hit.intValue()
        else {
          put(omega)
          dict.put(key, Integer.valueOf(next))
          next += 1
          // the decoder adds its matching entry one code LATER, so its
          // counter at the next read is `next - 1`; it bumps at
          // 2^w − 1 → the encoder bumps when next == 2^w
          if (next == (1 << width) && width < 12) width += 1
          if (next == 4094) { // table nearly full: clear and reset
            put(256)
            dict.clear()
            next = 258
            width = 9
          }
          omega = k
        }
      }
      i += 1
    }
    if (omega >= 0) put(omega)
    put(257) // EOI
    if (nBits > 0) { bos.write(cur << (8 - nBits)) }
    bos.toByteArray
  }

  // --------------------------------------------------------------- encode

  private[graft] def widthOf(id: Long): Int = 8 + (id % 5).toInt
  private[graft] def heightOf(id: Long): Int = 4 + (id % 3).toInt
  private[graft] def pixel(id: Long, x: Int, y: Int): Int =
    ((x + y + id) % 251).toInt

  private final class W(le: Boolean) {
    val bos = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit =
      if (le) { bos.write(v & 0xff); bos.write((v >>> 8) & 0xff) }
      else { bos.write((v >>> 8) & 0xff); bos.write(v & 0xff) }
    def u32(v: Long): Unit =
      if (le) { var i = 0; while (i < 4) { bos.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 } }
      else { var i = 3; while (i >= 0) { bos.write(((v >>> (8 * i)) & 0xff).toInt); i -= 1 } }
    /** A 12-byte entry with an inline SHORT value (left-justified). */
    def entryShort(tag: Int, v: Int): Unit = {
      u16(tag); u16(3); u32(1L); u16(v); u16(0)
    }
    def entryAscii(tag: Int, len: Int, off: Long): Unit = {
      u16(tag); u16(2); u32(len.toLong); u32(off)
    }
  }

  /** A real 1–2 page gray-8 TIFF per document; `II` for even ids, `MM`
    * for odd; page 2 (on `id % 3 == 0`) is a fixed 4×4. `comp` selects
    * the strip compression: 1 none, 5 LZW, 32773 PackBits.
    */
  private[graft] def buildTiff(
      id: Long, comp: Int = 1, predictor: Int = 1,
      rowsPerStrip: Int = 0): Array[Byte] = {
    val le = id % 2 == 0
    val w = new W(le)
    val pages: Seq[(Int, Int)] =
      (widthOf(id), heightOf(id)) +: (if (id % 3 == 0) Seq((4, 4)) else Nil)
    val dt = f"2026:${id % 12 + 1}%02d:${id % 28 + 1}%02d ${id % 24}%02d:00:00"
    val dtBytes = dt.getBytes(java.nio.charset.StandardCharsets.US_ASCII) :+ 0.toByte
    // per page: the strip list (RowsPerStrip bands, each compressed
    // independently — the codec restarts per strip, the real layout)
    val pageStrips: Seq[Seq[Array[Byte]]] = pages.map { case (pw, ph) =>
      val rps = if (rowsPerStrip <= 0) ph else math.min(rowsPerStrip, ph)
      (0 until ph by rps).map { y0 =>
        val rows = math.min(rps, ph - y0)
        val raw0 = new Array[Byte](pw * rows)
        for (y <- 0 until rows; x <- 0 until pw)
          raw0(y * pw + x) = pixel(id, x, y0 + y).toByte
        val raw = if (predictor == 2) applyPredictor2(raw0, pw) else raw0
        comp match {
          case 5 => lzwEncode(raw)
          case 32773 => packbitsEncode(raw)
          case _ => raw
        }
      }
    }
    // layout: header(8) | strips | strip arrays (multi-strip pages) |
    // dt | IFDs
    w.bos.write(if (le) 'I' else 'M'); w.bos.write(if (le) 'I' else 'M')
    w.u16(42)
    var off = 8L
    val stripOffs: Seq[Seq[Long]] = pageStrips.map(_.map { s =>
      val o = off; off += s.length; o
    })
    // offset/length arrays for pages with >1 strip (LONG elements)
    val arrayOffs: Seq[Option[(Long, Long)]] = pageStrips.map { ss =>
      if (ss.length <= 1) None
      else {
        val ao = off; off += 4L * ss.length
        val lo = off; off += 4L * ss.length
        Some((ao, lo))
      }
    }
    val dtOff = off
    off += dtBytes.length
    val ifdSize = 2 + 10 * 12 + 4
    val ifdOffs = pages.indices.map(i => off + i * ifdSize)
    w.u32(ifdOffs.head)
    pageStrips.foreach(_.foreach(s => w.bos.write(s)))
    pageStrips.zip(stripOffs).zip(arrayOffs).foreach {
      case ((ss, offs), arr) if arr.isDefined =>
        offs.foreach(w.u32)
        ss.foreach(s => w.u32(s.length.toLong))
      case _ => ()
    }
    w.bos.write(dtBytes)
    pages.zipWithIndex.foreach { case ((pw, ph), i) =>
      val ss = pageStrips(i)
      val rps = if (rowsPerStrip <= 0) ph else math.min(rowsPerStrip, ph)
      w.u16(10) // entry count
      w.entryShort(256, pw)
      w.entryShort(257, ph)
      w.entryShort(258, 8)
      w.entryShort(259, comp)
      arrayOffs(i) match {
        case None =>
          w.u16(273); w.u16(4); w.u32(1L); w.u32(stripOffs(i).head)
        case Some((ao, _)) =>
          w.u16(273); w.u16(4); w.u32(ss.length.toLong); w.u32(ao)
      }
      w.entryShort(277, 1)
      w.entryShort(278, rps)
      arrayOffs(i) match {
        case None =>
          w.u16(279); w.u16(4); w.u32(1L); w.u32(ss.head.length.toLong)
        case Some((_, lo)) =>
          w.u16(279); w.u16(4); w.u32(ss.length.toLong); w.u32(lo)
      }
      w.entryAscii(306, dtBytes.length, dtOff)
      w.entryShort(317, predictor)
      w.u32(if (i + 1 < pages.length) ifdOffs(i + 1) else 0L)
    }
    w.bos.toByteArray
  }

  private[graft] def pixelC(id: Long, x: Int, y: Int, c: Int): Int =
    ((x + 2 * y + id + 11 * c) % 251).toInt

  /** Single-page writer for the round-19 geometries: multi-sample
    * (RGB, `spp` 3) rasters with per-COMPONENT predictor 2, and TILED
    * layouts (TileWidth/TileLength multiples of 16, edge tiles padded,
    * codec + predictor restarting per tile — TIFF §15, the scanned-
    * document geometry libtiff writes).
    */
  private[graft] def buildTiffExt(
      id: Long, comp: Int, predictor: Int, spp: Int, tiled: Boolean,
      rowsPerStrip: Int = 0): Array[Byte] = {
    val le = id % 2 == 0
    val pw = 20 + (id % 13).toInt // 20..32: 2 tiles across at tw=16
    val ph = 10 + (id % 9).toInt // 10..18: 1..2 tiles down at tl=16
    val tw0 = 16; val tl0 = 16
    val w = new W(le)
    def compress(raw: Array[Byte], rowW: Int): Array[Byte] = {
      val d = if (predictor == 2) applyPredictor2(raw, rowW, spp) else raw
      comp match {
        case 5 => lzwEncode(d)
        case 32773 => packbitsEncode(d)
        case _ => d
      }
    }
    val blobs: Seq[Array[Byte]] =
      if (tiled) {
        val across = (pw + tw0 - 1) / tw0
        val down = (ph + tl0 - 1) / tl0
        (0 until down).flatMap(ty => (0 until across).map { tx =>
          val tile = new Array[Byte](tw0 * tl0 * spp)
          for (y <- 0 until tl0; x <- 0 until tw0; c <- 0 until spp) {
            val gx = tx * tw0 + x; val gy = ty * tl0 + y
            tile((y * tw0 + x) * spp + c) =
              if (gx < pw && gy < ph) pixelC(id, gx, gy, c).toByte
              else 0 // edge padding (writer's duty, §15)
          }
          compress(tile, tw0)
        })
      } else {
        val rps = if (rowsPerStrip <= 0) ph else math.min(rowsPerStrip, ph)
        (0 until ph by rps).map { y0 =>
          val rows = math.min(rps, ph - y0)
          val raw = new Array[Byte](pw * rows * spp)
          for (y <- 0 until rows; x <- 0 until pw; c <- 0 until spp)
            raw((y * pw + x) * spp + c) = pixelC(id, x, y0 + y, c).toByte
          compress(raw, pw)
        }
      }
    w.bos.write(if (le) 'I' else 'M'); w.bos.write(if (le) 'I' else 'M')
    w.u16(42)
    var off = 8L
    val blobOffs = blobs.map { s => val o = off; off += s.length; o }
    // offset/length arrays (LONG) when >1 blob
    val multi = blobs.length > 1
    val arrOff = if (multi) { val o = off; off += 4L * blobs.length; o } else 0L
    val lenOff = if (multi) { val o = off; off += 4L * blobs.length; o } else 0L
    // BitsPerSample array (cnt = spp) lives at offset when spp = 3
    val bitsOff = if (spp == 3) { val o = off; off += 2L * spp; o } else 0L
    // 256,257,258,259,262,277,317 + tiled(322,323,324,325) | strips(278,273,279)
    val entries = if (tiled) 11 else 10
    w.u32(off) // first IFD right after arrays
    blobs.foreach(w.bos.write)
    if (multi) {
      blobOffs.foreach(w.u32)
      blobs.foreach(s => w.u32(s.length.toLong))
    }
    if (spp == 3) { w.u16(8); w.u16(8); w.u16(8) }
    w.u16(entries)
    w.entryShort(256, pw)
    w.entryShort(257, ph)
    if (spp == 3) { w.u16(258); w.u16(3); w.u32(3L); w.u32(bitsOff) }
    else w.entryShort(258, 8)
    w.entryShort(259, comp)
    w.entryShort(262, if (spp == 3) 2 else 1) // photometric
    w.entryShort(277, spp)
    if (tiled) {
      w.entryShort(322, tw0)
      w.entryShort(323, tl0)
      if (multi) {
        w.u16(324); w.u16(4); w.u32(blobs.length.toLong); w.u32(arrOff)
        w.u16(325); w.u16(4); w.u32(blobs.length.toLong); w.u32(lenOff)
      } else {
        w.u16(324); w.u16(4); w.u32(1L); w.u32(blobOffs.head)
        w.u16(325); w.u16(4); w.u32(1L); w.u32(blobs.head.length.toLong)
      }
    } else {
      val rps = if (rowsPerStrip <= 0) ph else math.min(rowsPerStrip, ph)
      w.entryShort(278, rps)
      if (multi) {
        w.u16(273); w.u16(4); w.u32(blobs.length.toLong); w.u32(arrOff)
        w.u16(279); w.u16(4); w.u32(blobs.length.toLong); w.u32(lenOff)
      } else {
        w.u16(273); w.u16(4); w.u32(1L); w.u32(blobOffs.head)
        w.u16(279); w.u16(4); w.u32(1L); w.u32(blobs.head.length.toLong)
      }
    }
    w.entryShort(317, predictor)
    w.u32(0L)
    w.bos.toByteArray
  }

  // ----------------------------------------------------------------- walk

  private val MaxStrips = 1 << 16

  /** Decode ALL strips of one IFD into the page raster — the
    * real-world layout: RowsPerStrip(278) splits the image into
    * ceil(h/rps) strips whose offsets/byte-counts are ARRAYS (inline
    * when they fit the 4-byte value field, at offset otherwise; SHORT
    * or LONG element type), and each strip restarts its codec (LZW
    * table, PackBits stream) independently. Left(reason) on any lie:
    * counts that disagree, a strip that decodes short, offsets past
    * EOF.
    */
  private def stripRaster(
      b: Array[Byte], le: Boolean, width: Int, height: Int, comp: Int,
      pred: Int, spp: Int, rps0: Long,
      offsTyp: Int, offsCnt: Long, offsAt: Int,
      lensTyp: Int, lensCnt: Long, lensAt: Int): Either[String, Array[Byte]] = {
    def u16(off: Int): Int =
      if (le) (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
      else ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
    def u32(off: Int): Long = {
      var v = 0L
      var i = 0
      while (i < 4) {
        val sh = if (le) 8 * i else 8 * (3 - i)
        v |= (b(off + i) & 0xffL) << sh
        i += 1
      }
      v
    }
    def values(typ: Int, cnt: Long, at: Int): Either[String, Array[Long]] = {
      if (cnt <= 0 || cnt > MaxStrips) return Left("bad-strip-count")
      val size = typ match {
        case 3 => 2; case 4 => 4; case _ => return Left("bad-strip-type")
      }
      val start =
        if (cnt * size <= 4) at
        else {
          val o = u32(at)
          if (o < 0 || o + cnt * size > b.length) return Left("truncated")
          o.toInt
        }
      if (start + cnt * size > b.length) return Left("truncated")
      Right(Array.tabulate(cnt.toInt)(i =>
        if (typ == 3) u16(start + size * i).toLong else u32(start + size * i)))
    }
    val offs = values(offsTyp, offsCnt, offsAt) match {
      case Left(r) => return Left(r)
      case Right(v) => v
    }
    val lens = values(lensTyp, lensCnt, lensAt) match {
      case Left(r) => return Left(r)
      case Right(v) => v
    }
    if (offs.length != lens.length) return Left("bad-ifd")
    val rps = if (rps0 <= 0 || rps0 > height) height.toLong else rps0
    val nStrips = ((height + rps - 1) / rps).toInt
    if (offs.length != nStrips) return Left("bad-ifd")
    val out = new Array[Byte](width * height * spp)
    var s = 0
    var o = 0
    while (s < nStrips) {
      val rows = math.min(rps, height - s * rps).toInt
      val expected = rows * width * spp
      val off = offs(s)
      val len = lens(s)
      if (off < 0 || len < 0 || off + len > b.length) return Left("truncated")
      comp match {
        case 1 =>
          if (len != expected.toLong) return Left("bad-ifd")
          System.arraycopy(b, off.toInt, out, o, expected)
        case 5 =>
          lzwDecode(b, off.toInt, len.toInt, expected) match {
            case Some(d) => System.arraycopy(d, 0, out, o, expected)
            case None => return Left("bad-strip")
          }
        case _ =>
          packbitsDecode(b, off.toInt, len.toInt, expected) match {
            case Some(d) => System.arraycopy(d, 0, out, o, expected)
            case None => return Left("bad-strip")
          }
      }
      o += expected
      s += 1
    }
    if (pred == 2) undoPredictor2(out, width, spp)
    Right(out)
  }

  /** Decode a TILED IFD (TileWidth/TileLength/TileOffsets/
    * TileByteCounts, TIFF §15) into the page raster: ceil(w/tw) ×
    * ceil(h/tl) tiles in row-major order, each a FULL tw×tl raster
    * (edge tiles padded by the writer) compressed independently —
    * codec AND predictor restart per tile; only the valid region
    * lands in the output.
    */
  private def tileRaster(
      b: Array[Byte], le: Boolean, width: Int, height: Int, comp: Int,
      pred: Int, spp: Int, tw: Int, tl: Int,
      offsTyp: Int, offsCnt: Long, offsAt: Int,
      lensTyp: Int, lensCnt: Long, lensAt: Int): Either[String, Array[Byte]] = {
    def u16(off: Int): Int =
      if (le) (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
      else ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
    def u32(off: Int): Long = {
      var v = 0L
      var i = 0
      while (i < 4) {
        val sh = if (le) 8 * i else 8 * (3 - i)
        v |= (b(off + i) & 0xffL) << sh
        i += 1
      }
      v
    }
    def values(typ: Int, cnt: Long, at: Int): Either[String, Array[Long]] = {
      if (cnt <= 0 || cnt > MaxStrips) return Left("bad-tile-count")
      val size = typ match {
        case 3 => 2; case 4 => 4; case _ => return Left("bad-tile-type")
      }
      val start =
        if (cnt * size <= 4) at
        else {
          val o = u32(at)
          if (o < 0 || o + cnt * size > b.length) return Left("truncated")
          o.toInt
        }
      if (start + cnt * size > b.length) return Left("truncated")
      Right(Array.tabulate(cnt.toInt)(i =>
        if (typ == 3) u16(start + size * i).toLong else u32(start + size * i)))
    }
    // §15: tile dims must be positive multiples of 16
    if (tw <= 0 || tl <= 0 || tw % 16 != 0 || tl % 16 != 0)
      return Left("bad-tile-dims")
    val across = (width + tw - 1) / tw
    val down = (height + tl - 1) / tl
    val nTiles = across.toLong * down
    if (nTiles > MaxStrips) return Left("bad-tile-count")
    if (tw.toLong * tl * spp > (1 << 24)) return Left("bad-tile-dims")
    val offs = values(offsTyp, offsCnt, offsAt) match {
      case Left(r) => return Left(r)
      case Right(v) => v
    }
    val lens = values(lensTyp, lensCnt, lensAt) match {
      case Left(r) => return Left(r)
      case Right(v) => v
    }
    if (offs.length != lens.length || offs.length != nTiles.toInt)
      return Left("bad-ifd")
    val out = new Array[Byte](width * height * spp)
    val tileBytes = tw * tl * spp
    var t = 0
    while (t < nTiles) {
      val off = offs(t)
      val len = lens(t)
      if (off < 0 || len < 0 || off + len > b.length) return Left("truncated")
      val tile: Array[Byte] = comp match {
        case 1 =>
          if (len != tileBytes.toLong) return Left("bad-ifd")
          java.util.Arrays.copyOfRange(b, off.toInt, off.toInt + tileBytes)
        case 5 =>
          lzwDecode(b, off.toInt, len.toInt, tileBytes) match {
            case Some(d) => d
            case None => return Left("bad-tile")
          }
        case _ =>
          packbitsDecode(b, off.toInt, len.toInt, tileBytes) match {
            case Some(d) => d
            case None => return Left("bad-tile")
          }
      }
      if (pred == 2) undoPredictor2(tile, tw, spp)
      val tx = t % across
      val ty = t / across
      val copyW = math.min(tw, width - tx * tw) * spp
      val copyH = math.min(tl, height - ty * tl)
      var y = 0
      while (y < copyH) {
        System.arraycopy(tile, y * tw * spp, out,
          ((ty * tl + y) * width + tx * tw) * spp, copyW)
        y += 1
      }
      t += 1
    }
    Right(out)
  }

  private[graft] def parseTiff(docId: Long, b: Array[Byte]): TiffInfo = {
    def dead(status: String) = TiffInfo(docId, status, "", 0, 0, 0, 0, 0L, "", "")
    if (b.length < 8) return dead("not-tiff")
    val le =
      if (b(0) == 'I' && b(1) == 'I') true
      else if (b(0) == 'M' && b(1) == 'M') false
      else return dead("not-tiff")
    def u16(off: Int): Int =
      if (le) (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
      else ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
    def u32(off: Int): Long = {
      var v = 0L
      var i = 0
      while (i < 4) {
        val sh = if (le) 8 * i else 8 * (3 - i)
        v |= (b(off + i) & 0xffL) << sh
        i += 1
      }
      v
    }
    if (u16(2) != 42) return dead("not-tiff")
    val endian = if (le) "II" else "MM"
    var ifd = u32(4)
    val seen = scala.collection.mutable.Set.empty[Long]
    var pages = 0
    var w0 = 0; var h0 = 0; var bits0 = 0
    var spp0 = 1
    var layout0 = "strips"
    var sum = 0L
    var dt = ""
    var compLabel = ""
    while (ifd != 0) {
      if (!seen.add(ifd) || pages >= MaxPages)
        return dead("ifd-cycle")
      if (ifd < 0 || ifd + 2 > b.length) return dead("truncated")
      val n = u16(ifd.toInt)
      val base = ifd.toInt + 2
      if (base + 12 * n + 4 > b.length) return dead("truncated")
      var width = 0; var height = 0; var bits = 0; var comp = 1
      var pred = 1
      var spp = 1
      var rps = -1L
      var tw = -1; var tl = -1
      var offsTyp = -1; var offsCnt = 0L; var offsAt = -1
      var lensTyp = -1; var lensCnt = 0L; var lensAt = -1
      var tOffsTyp = -1; var tOffsCnt = 0L; var tOffsAt = -1
      var tLensTyp = -1; var tLensCnt = 0L; var tLensAt = -1
      var i = 0
      while (i < n) {
        val e = base + 12 * i
        val tag = u16(e)
        val typ = u16(e + 2)
        val cnt = u32(e + 4)
        // inline SHORT values are left-justified in byte order
        def shortVal: Int = u16(e + 8)
        def longVal: Long = u32(e + 8)
        tag match {
          case 256 => width = if (typ == 3) shortVal else longVal.toInt
          case 257 => height = if (typ == 3) shortVal else longVal.toInt
          case 258 =>
            // count = SamplesPerPixel; >2 SHORTs live at offset — read
            // the first (all components are 8 here or the IFD is
            // rejected downstream by the pixel math anyway)
            bits =
              if (cnt * 2 <= 4) shortVal
              else {
                val o = longVal
                if (o < 0 || o + 2 > b.length) return dead("truncated")
                u16(o.toInt)
              }
          case 259 => comp = shortVal
          case 262 => () // photometric: gray/RGB both walk the same
          case 273 => offsTyp = typ; offsCnt = cnt; offsAt = e + 8
          case 277 => spp = shortVal
          case 278 => rps = if (typ == 3) shortVal.toLong else longVal
          case 279 => lensTyp = typ; lensCnt = cnt; lensAt = e + 8
          case 317 => pred = shortVal
          case 322 => tw = if (typ == 3) shortVal else longVal.toInt
          case 323 => tl = if (typ == 3) shortVal else longVal.toInt
          case 324 => tOffsTyp = typ; tOffsCnt = cnt; tOffsAt = e + 8
          case 325 => tLensTyp = typ; tLensCnt = cnt; tLensAt = e + 8
          case 306 if typ == 2 =>
            val o = longVal
            if (cnt > 0 && o >= 0 && o + cnt <= b.length)
              dt = new String(b, o.toInt, cnt.toInt - 1,
                java.nio.charset.StandardCharsets.US_ASCII)
          case _ => ()
        }
        i += 1
      }
      if (comp != 1 && comp != 5 && comp != 32773)
        return dead("unsupported-compression")
      if (pred != 1 && pred != 2) return dead("unsupported-predictor")
      if (spp != 1 && spp != 3) return dead("unsupported-spp")
      val tiled = tOffsAt >= 0 || tLensAt >= 0 || tw > 0 || tl > 0
      if (width <= 0 || height <= 0) return dead("bad-ifd")
      if (tiled) {
        if (tOffsAt < 0 || tLensAt < 0) return dead("bad-ifd")
      } else if (offsAt < 0 || lensAt < 0) return dead("bad-ifd")
      if (width.toLong * height * spp > (1 << 26)) return dead("bad-ifd")
      val decoded = (if (tiled)
        tileRaster(b, le, width, height, comp, pred, spp, tw, tl,
          tOffsTyp, tOffsCnt, tOffsAt, tLensTyp, tLensCnt, tLensAt)
      else
        stripRaster(b, le, width, height, comp, pred, spp, rps,
          offsTyp, offsCnt, offsAt, lensTyp, lensCnt, lensAt)) match {
        case Left(r) => return dead(r)
        case Right(d) => d
      }
      var p = 0
      while (p < decoded.length) { sum += (decoded(p) & 0xff); p += 1 }
      if (pages == 0) {
        w0 = width; h0 = height; bits0 = bits
        spp0 = spp
        layout0 = if (tiled) "tiled" else "strips"
        compLabel = comp match {
          case 1 => "none"; case 5 => "lzw"; case _ => "packbits"
        }
      }
      pages += 1
      ifd = u32(base + 12 * n)
    }
    if (pages == 0) return dead("no-pages")
    TiffInfo(docId, "ok", endian, pages, w0, h0, bits0, sum, dt, compLabel,
      spp0, layout0)
  }

  // ----------------------------------------------------------------- q162

  /** q162: the TIFF walk end to end — both byte orders under one hash,
    * multi-page IFD chains, inline-SHORT convention, strip sums and
    * the DateTime string replayed from doc_id arithmetic.
    */
  def q162TiffScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => parseTiff(id, buildTiff(id))))
      .toDF()
      .select(col("doc_id"), col("status"), col("endian"),
        col("n_pages").cast("long").as("n_pages"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("bits").cast("long").as("bits"),
        col("pixel_sum"), col("datetime"))
      .orderBy(col("doc_id"))
  }

  /** First-page gray-8 raster (width, height, bytes) — the decoded
    * surface the image operators (dhash, near-dup) consume, and what
    * the foreign-fixture spec compares byte-exactly against libtiff's
    * input. None under exactly the conditions `parseTiff` dead-letters.
    */
  private[graft] def decodeGray(b: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    decodeRaster(b).collect { case (w, h, 1, d) => (w, h, d) }

  /** First-page raster with its sample count — the general surface
    * (gray or RGB, strips or tiles) the foreign-fixture spec compares
    * byte-exactly against libtiff's input.
    */
  private[graft] def decodeRaster(
      b: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
    if (b.length < 8) return None
    val le =
      if (b(0) == 'I' && b(1) == 'I') true
      else if (b(0) == 'M' && b(1) == 'M') false
      else return None
    def u16(off: Int): Int =
      if (le) (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
      else ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
    def u32(off: Int): Long = {
      var v = 0L
      var i = 0
      while (i < 4) {
        val sh = if (le) 8 * i else 8 * (3 - i)
        v |= (b(off + i) & 0xffL) << sh
        i += 1
      }
      v
    }
    if (u16(2) != 42) return None
    val ifd = u32(4)
    if (ifd < 0 || ifd + 2 > b.length) return None
    val n = u16(ifd.toInt)
    val base = ifd.toInt + 2
    if (base + 12 * n + 4 > b.length) return None
    var width = 0; var height = 0; var comp = 1
    var pred = 1
    var spp = 1
    var rps = -1L
    var tw = -1; var tl = -1
    var offsTyp = -1; var offsCnt = 0L; var offsAt = -1
    var lensTyp = -1; var lensCnt = 0L; var lensAt = -1
    var tOffsTyp = -1; var tOffsCnt = 0L; var tOffsAt = -1
    var tLensTyp = -1; var tLensCnt = 0L; var tLensAt = -1
    var i = 0
    while (i < n) {
      val e = base + 12 * i
      val tag = u16(e)
      val typ = u16(e + 2)
      val cnt = u32(e + 4)
      def shortVal: Int = u16(e + 8)
      def longVal: Long = u32(e + 8)
      tag match {
        case 256 => width = if (typ == 3) shortVal else longVal.toInt
        case 257 => height = if (typ == 3) shortVal else longVal.toInt
        case 259 => comp = shortVal
        case 273 => offsTyp = typ; offsCnt = cnt; offsAt = e + 8
        case 277 => spp = shortVal
        case 278 => rps = if (typ == 3) shortVal.toLong else longVal
        case 279 => lensTyp = typ; lensCnt = cnt; lensAt = e + 8
        case 317 => pred = shortVal
        case 322 => tw = if (typ == 3) shortVal else longVal.toInt
        case 323 => tl = if (typ == 3) shortVal else longVal.toInt
        case 324 => tOffsTyp = typ; tOffsCnt = cnt; tOffsAt = e + 8
        case 325 => tLensTyp = typ; tLensCnt = cnt; tLensAt = e + 8
        case _ => ()
      }
      i += 1
    }
    val tiled = tOffsAt >= 0 || tLensAt >= 0 || tw > 0 || tl > 0
    if (width <= 0 || height <= 0) return None
    if (tiled) { if (tOffsAt < 0 || tLensAt < 0) return None }
    else if (offsAt < 0 || lensAt < 0) return None
    if (spp != 1 && spp != 3) return None
    if (width.toLong * height * spp > (1 << 26)) return None
    if (pred != 1 && pred != 2) return None
    if (comp != 1 && comp != 5 && comp != 32773) return None
    (if (tiled)
      tileRaster(b, le, width, height, comp, pred, spp, tw, tl,
        tOffsTyp, tOffsCnt, tOffsAt, tLensTyp, tLensCnt, tLensAt)
    else
      stripRaster(b, le, width, height, comp, pred, spp, rps,
        offsTyp, offsCnt, offsAt, lensTyp, lensCnt, lensAt))
      .toOption.map((width, height, spp, _))
  }

  /** q191: the q162 walk over COMPRESSED strips — PackBits
    * (`id % 3 == 0`, the scanned-fax staple) and LZW (== 1, with the
    * early-change width discipline) beside the uncompressed control
    * (== 2); identical pixel arithmetic, so any decompressor slip
    * shifts `pixel_sum` against the oracle's grid replay. LZW and
    * PackBits decoders are foreign-conformant (libtiff-encoded strips
    * decode byte-exactly — TiffCompressionSpec).
    */
  def q191TiffCompressed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        // packbits leg is MULTI-STRIP (RowsPerStrip 3 → offset/length
        // ARRAYS, per-strip codec restarts — the real scanned-doc
        // layout); lzw leg pairs with predictor 2 (the writer default)
        val (comp, pred, rps) = (id % 3) match {
          case 0 => (32773, 1, 3)
          case 1 => (5, 2, 0)
          case _ => (1, 1, 0)
        }
        parseTiff(id, buildTiff(id, comp, pred, rps))
      })
      .toDF()
      .select(col("doc_id"), col("status"), col("endian"),
        col("compression"),
        col("n_pages").cast("long").as("n_pages"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("pixel_sum"), col("datetime"))
      .orderBy(col("doc_id"))
  }

  /** q200: the OTHER HALF of real scanned-document TIFF — multi-sample
    * (RGB) rasters with per-COMPONENT predictor 2, and TILED layouts
    * (16×16 tiles, padded edges, codec+predictor restarting per tile):
    * RGB LZW+pred2 strips (`id % 4 == 0`), tiled gray LZW+pred2 (1),
    * tiled RGB PackBits (2), tiled RGB LZW+pred2 (3). `pixel_sum`
    * covers every sample, so a per-component differencing slip, a tile
    * placement slip, or padded-edge leakage all shift it against the
    * oracle's (doc_id, x, y, c) grid replay. Decoders are
    * foreign-conformant (libtiff-written tiled/RGB fixtures decode
    * byte-exactly — TiffCompressionSpec).
    */
  def q200TiffTiled(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val (comp, pred, spp, tiled, rps) = (id % 4) match {
          case 0 => (5, 2, 3, false, 3)
          case 1 => (5, 2, 1, true, 0)
          case 2 => (32773, 1, 3, true, 0)
          case _ => (5, 2, 3, true, 0)
        }
        parseTiff(id, buildTiffExt(id, comp, pred, spp, tiled, rps))
      })
      .toDF()
      .select(col("doc_id"), col("status"), col("layout"),
        col("compression"),
        col("spp").cast("long").as("spp"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("pixel_sum"))
      .orderBy(col("doc_id"))
  }
}
