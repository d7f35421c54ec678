package graft.operators

import com.github.luben.zstd.{ZstdException, Zstd => ZstdLib}
import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** WARC (ISO 28500) crawl-archive ingestion — the container wrapped
  * around every real web crawl (Common Crawl et al.): a WARC file is a
  * sequence of records, each `WARC/1.0` + header lines + blank line +
  * exactly `Content-Length` payload octets + a blank-line separator;
  * a `response` record's payload is a full HTTP response (status line,
  * headers, blank line, body). Chained with `HtmlOps` this completes
  * the crawl front door: WARC → HTTP body → markup → text.
  *
  * The parser is a per-row byte walker (the codec discipline — same
  * class as `Jpeg`/`Gif`/`Webp`, via `mapPartitions`): strictly
  * offset-driven (records are found by COUNTING Content-Length octets,
  * never by scanning for the next magic — bodies may contain anything,
  * including "WARC/1.0"), error-as-value (a malformed record ends the
  * walk and the remainder is dropped with the records already parsed
  * kept — a truncated archive yields its intact prefix, never a throw),
  * and allocation-bounded.
  *
  * The oracle corpus (q128) builds multi-record WARC blobs
  * deterministically from `documents` (groups of ~1/8 of the corpus per
  * blob, records in doc_id order), runs the REAL parse + HTTP split +
  * q122 extraction chain, and the oracle replays the expected output
  * directly from (doc_id, text) — the q46 encode→decode-collapse
  * discipline: any container-walk slip (miscounted length, lost
  * record, header misparse) changes rows or hashes.
  */
object WarcOps {

  final case class WarcHttpRecord(
      group_id: Long, target_uri: String, status: Int, body: String,
      enc: String, charset: String)

  /** Parse concatenated WARC records; keep `response` records' HTTP
    * payloads split into (status, body, codings, charset). ISO-8859-1
    * maps bytes 1:1 to chars, so char offsets ARE byte offsets — but
    * ONLY the walk uses the Latin-1 view: every extracted string is
    * decoded from the ORIGINAL byte array — header values as UTF-8,
    * bodies per their HTTP layer (chunked un-framing, gzip content
    * inflate, then the Content-Type charset: Latin-1 / Windows-1252 /
    * US-ASCII exactly, the UTF-8 web default otherwise) — so payloads
    * round-trip to the SAME Unicode regardless of delivery form
    * instead of mojibake-ing through a blind Latin-1 or UTF-8 read.
    */
  private[graft] def parseWarc(bytes: Array[Byte]): Seq[(String, Int, String, String, String)] = {
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    def utf8(from: Int, until: Int): String =
      new String(bytes, from, until - from, java.nio.charset.StandardCharsets.UTF_8)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, String, String, String)]
    var p = 0
    while (p < s.length) {
      if (!s.startsWith("WARC/1.0\r\n", p)) return out.toSeq
      p += 10
      // header lines until the blank line
      var uri: String = null
      var wtype: String = null
      var clen = -1L
      var ok = true
      var done = false
      while (ok && !done) {
        val eol = s.indexOf("\r\n", p)
        if (eol < 0) ok = false
        else if (eol == p) { p += 2; done = true } // blank line
        else {
          val line = s.substring(p, eol)
          val colon = line.indexOf(':')
          if (colon > 0) {
            val name = line.substring(0, colon).trim.toLowerCase
            val value = utf8(p + colon + 1, eol).trim
            name match {
              case "warc-target-uri" => uri = value
              case "warc-type" => wtype = value
              case "content-length" =>
                clen = try value.toLong catch { case _: NumberFormatException => -1L }
              case _ => ()
            }
          }
          p = eol + 2
        }
      }
      if (!ok || clen < 0 || p + clen > s.length) return out.toSeq
      val p0 = p // payload start (byte == char offset)
      val payload = s.substring(p, (p + clen).toInt)
      p = (p + clen).toInt
      // record separator: \r\n\r\n (tolerate a truncated tail)
      if (s.startsWith("\r\n\r\n", p)) p += 4
      else if (p < s.length) return out.toSeq
      if (wtype == "response" && uri != null) {
        // HTTP split: status line, headers, blank line, body. The HTTP
        // header section is ASCII-clean by protocol, so its char
        // offsets in the Latin-1 view are byte offsets; the BODY is
        // decoded per its HTTP codings (`Transfer-Encoding: chunked`
        // un-framed first, then `Content-Encoding: gzip` inflated —
        // real crawl responses routinely carry both) and finally
        // re-decoded from the raw bytes as UTF-8. A record whose coded
        // body is malformed drops (error-as-value at record grain); the
        // WARC walk continues — record boundaries come from
        // Content-Length, never from the body.
        val eol = payload.indexOf("\r\n")
        val hdrEnd = payload.indexOf("\r\n\r\n")
        if (eol > 0 && hdrEnd >= eol) {
          val statusLine = payload.substring(0, eol).split(" ")
          val status = if (statusLine.length >= 2)
            try statusLine(1).toInt catch { case _: NumberFormatException => -1 }
          else -1
          var chunked = false
          var contentCoding = ""
          var charset = "" // header label; empty → BOM/meta sniff
          var isHtml = false // the meta PRESCAN is an HTML-only rule
          // an empty header section means hdrEnd == eol
          payload.substring(math.min(eol + 2, hdrEnd), hdrEnd).split("\r\n").foreach { h =>
            val c = h.indexOf(':')
            if (c > 0) {
              val n = h.substring(0, c).trim.toLowerCase
              val v = h.substring(c + 1).trim.toLowerCase
              if (n == "transfer-encoding" && v.contains("chunked")) chunked = true
              if (n == "content-encoding") contentCoding = v
              if (n == "content-type") {
                if (v.contains("html")) isHtml = true
                "charset=\"?([a-z0-9_\\-]+)".r.findFirstMatchIn(v)
                  .foreach(m => charset = m.group(1))
              }
            }
          }
          // RFC 9110 §8.4 content codings, comma-separated in the order
          // applied. Declared support: identity (no-op), gzip/x-gzip,
          // deflate (zlib per spec, raw-deflate fallback for the
          // historically common server mislabel), br (RFC 7932 via the
          // full `Brotli` decoder), and zstd (RFC 8878 via the full
          // `Zstd` decoder). Any OTHER coding (compress, …) must NOT
          // fall through to the identity path — decoding compressed
          // octets as text mojibakes silently into the curation chain.
          // Such records survive as TYPED errors:
          // enc = "unsupported:<coding>", empty body.
          val codings = contentCoding.split(",").map(_.trim)
            .filter(c => c.nonEmpty && c != "identity").toSeq
          val unsupportedCoding = codings.find(c =>
            c != "gzip" && c != "x-gzip" && c != "deflate" && c != "br" &&
              c != "zstd")
          if (status > 0) {
            val bodyOff = p0 + hdrEnd + 4
            val bodyEnd = p0 + clen.toInt
            // decode the (de-coded) body bytes per the charset
            // precedence of the WHATWG Encoding sniff: a UTF-8 BOM
            // wins (and is stripped), then the HTTP header label, then
            // an HTML meta prescan, then the UTF-8 web default.
            // Returns (text, effective label).
            def decodeBody(d: Array[Byte]): (String, String) =
              if (d.length >= 3 && d(0) == 0xef.toByte &&
                d(1) == 0xbb.toByte && d(2) == 0xbf.toByte)
                (new String(d, 3, d.length - 3,
                  java.nio.charset.StandardCharsets.UTF_8), "utf-8")
              else {
                val label =
                  if (charset.nonEmpty) charset
                  else if (isHtml) sniffMetaCharset(d).getOrElse("utf-8")
                  else "utf-8"
                (new String(d, charsetOf(label)), label)
              }
            val decoded: Option[(String, String, String)] =
              if (unsupportedCoding.isDefined)
                Some(("unsupported:" + unsupportedCoding.get, "",
                  if (charset.isEmpty) "utf-8" else charset))
              else {
                val deChunked: Option[Array[Byte]] =
                  if (chunked) dechunk(bytes, bodyOff, bodyEnd)
                  else Some(java.util.Arrays.copyOfRange(bytes, bodyOff, bodyEnd))
                // codings list the order APPLIED → decode in reverse
                val plain = codings.reverse.foldLeft(deChunked) { (acc, c) =>
                  acc.flatMap { d =>
                    if (c == "deflate") inflateDeflate(d)
                    else if (c == "br")
                      Brotli.decode(d, MaxMemberBytes.toInt).toOption
                    else if (c == "zstd")
                      Zstd.decode(d, MaxMemberBytes.toInt).toOption
                    else {
                      val members = gunzipMembers(d)
                      if (members.isEmpty) None
                      else Some(concatBytes(members))
                    }
                  }
                }
                val enc =
                  if (!chunked && codings.isEmpty) Seq("identity")
                  else (if (chunked) Seq("chunked") else Nil) ++ codings
                plain.map { b =>
                  val (text, label) = decodeBody(b)
                  (enc.mkString(","), text, label)
                }
              }
            decoded.foreach { case (enc, body, label) =>
              out += ((uri, status, body, enc, label))
            }
          }
        }
      }
    }
    out.toSeq
  }

  /** Per-member decompressed-size cap — allocation bound BEFORE trusting
    * any header field (the codec discipline): a gzip bomb member drops,
    * the walk continues at the next member.
    */
  private val MaxMemberBytes = 1L << 26

  /** Declared charset support: the three encodings that cover the
    * overwhelming majority of labeled web text; anything else decodes
    * as UTF-8, the web default (deterministic — Java decoding
    * substitutes replacement chars, never throws).
    */
  private def charsetOf(label: String): java.nio.charset.Charset =
    label match {
      case "iso-8859-1" | "latin-1" | "latin1" =>
        java.nio.charset.StandardCharsets.ISO_8859_1
      case "windows-1252" | "cp1252" =>
        java.nio.charset.Charset.forName("windows-1252")
      case "us-ascii" => java.nio.charset.StandardCharsets.US_ASCII
      case _ => java.nio.charset.StandardCharsets.UTF_8
    }

  private val MetaCharsetRe =
    "(?i)<meta[^>]*charset\\s*=\\s*[\"']?([a-zA-Z0-9_\\-]+)".r

  /** HTML5-style meta PRESCAN over the first 1024 bytes (the spec's
    * window; the scan runs on the ASCII-superset Latin-1 view, which
    * every supported charset is): `<meta charset=X>` and the
    * `http-equiv` `content="…charset=X"` form both match. Returns the
    * lowercased label — real crawl pages routinely declare their
    * encoding HERE and not in the HTTP header.
    */
  private[graft] def sniffMetaCharset(d: Array[Byte]): Option[String] = {
    val window = new String(d, 0, math.min(1024, d.length),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    MetaCharsetRe.findFirstMatchIn(window).map(_.group(1).toLowerCase)
  }

  /** Un-frame an HTTP/1.1 chunked body (RFC 9112 §7.1): hex size line
    * (chunk extensions after `;` ignored), that many octets, CRLF;
    * terminated by the zero chunk (trailer section ignored). None on
    * any framing lie — short chunk, missing CRLF, bad hex, no
    * terminator, or total past the allocation cap.
    */
  private[graft] def dechunk(b: Array[Byte], off: Int, end: Int): Option[Array[Byte]] = {
    val bos = new java.io.ByteArrayOutputStream()
    var p = off
    var total = 0L
    while (true) {
      // size line up to CRLF
      var eol = p
      while (eol + 1 < end && !(b(eol) == '\r' && b(eol + 1) == '\n')) eol += 1
      if (eol + 1 >= end) return None
      var line = new String(b, p, eol - p, java.nio.charset.StandardCharsets.ISO_8859_1)
      val semi = line.indexOf(';')
      if (semi >= 0) line = line.substring(0, semi)
      line = line.trim
      if (line.isEmpty || !line.forall(c =>
        (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')))
        return None
      if (line.length > 7) return None // > 0xFFFFFFF: a lie or a bomb
      val size = java.lang.Integer.parseInt(line, 16)
      p = eol + 2
      if (size == 0) return Some(bos.toByteArray) // trailers ignored
      total += size
      if (total > MaxMemberBytes) return None
      if (p + size + 2 > end) return None
      bos.write(b, p, size)
      p += size
      if (b(p) != '\r' || b(p + 1) != '\n') return None
      p += 2
    }
    None // unreachable
  }

  /** Chunk-frame a body (corpus construction): split into `chunkSize`
    * pieces, the second chunk carrying an extension token so the
    * parser's extension skip sits on the oracle path.
    */
  private[graft] def encodeChunked(body: Array[Byte], chunkSize: Int = 100): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def ascii(t: String): Unit =
      bos.write(t.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    var p = 0
    var i = 0
    while (p < body.length) {
      val n = math.min(chunkSize, body.length - p)
      ascii(Integer.toHexString(n))
      if (i == 1) ascii(";x=1") // chunk extension
      ascii("\r\n")
      bos.write(body, p, n)
      ascii("\r\n")
      p += n
      i += 1
    }
    ascii("0\r\n\r\n")
    bos.toByteArray
  }

  /** `Content-Encoding: deflate` body inflate — RFC 9110 says zlib
    * (RFC 1950) but a long tail of servers ship RAW deflate under the
    * same label, so a failed zlib parse retries raw (the order matters:
    * a zlib stream never inflates as raw past its 2-byte header, while
    * raw bytes can accidentally parse as a zlib header). Same
    * allocation-cap + error-as-value discipline as the gzip walk.
    */
  private[graft] def inflateDeflate(d: Array[Byte]): Option[Array[Byte]] = {
    def run(raw: Boolean): Option[Array[Byte]] = {
      val inf = new java.util.zip.Inflater(raw)
      try {
        inf.setInput(d)
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](1 << 16)
        var total = 0L
        while (!inf.finished()) {
          val w =
            try inf.inflate(buf)
            catch { case _: java.util.zip.DataFormatException => return None }
          if (w > 0) {
            total += w
            if (total > MaxMemberBytes) return None
            bos.write(buf, 0, w)
          } else if (!inf.finished() && inf.needsInput()) return None // truncated
        }
        Some(bos.toByteArray)
      } finally inf.end()
    }
    run(raw = false).orElse(run(raw = true))
  }

  /** zlib-deflate raw bytes (corpus construction for the deflate leg). */
  private[graft] def deflateBytes(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ds = new java.util.zip.DeflaterOutputStream(bos)
    ds.write(b)
    ds.finish()
    bos.toByteArray
  }

  private[graft] def isGzip(bytes: Array[Byte]): Boolean =
    bytes.length >= 3 && bytes(0) == 0x1f.toByte &&
      bytes(1) == 0x8b.toByte && bytes(2) == 8

  /** Member-at-a-time inflate of a production WARC: real crawl archives
    * (Common Crawl et al.) are CONCATENATED GZIP MEMBERS, one WARC
    * record per member (ISO 28500 annex; the member boundary is what
    * makes records independently seekable). JDK `Inflater` keeps the
    * zero-dependency discipline (the PNG/WebP precedent); the walk
    * stays offset-driven — the next member starts exactly where the
    * previous member's deflate stream + 8-byte CRC32/ISIZE trailer
    * ends (`Inflater.getRemaining`), never by scanning. Error-as-value
    * per member: a corrupt member (deflate error, truncation, CRC or
    * ISIZE mismatch, size bomb) drops and the walk RESYNCS at the next
    * `1f 8b 08` magic — the intact members around it all survive.
    */
  private[graft] def gunzipMembers(bytes: Array[Byte]): Seq[Array[Byte]] =
    gunzipMemberExtents(bytes).map(_._3)

  /** Member-at-a-time inflate that also reports each member's BYTE
    * EXTENT `(offset, compressedLength)` in the archive — the numbers
    * a CDX index records so a replayer can range-read one member
    * without walking the file (the production selective-access
    * pattern).
    */
  private[graft] def gunzipMemberExtents(
      bytes: Array[Byte]): Seq[(Long, Long, Array[Byte])] = {
    val n = bytes.length
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Array[Byte])]
    def nextMagic(from: Int): Int = {
      var i = math.max(from, 0)
      while (i + 3 <= n && !(bytes(i) == 0x1f.toByte &&
        bytes(i + 1) == 0x8b.toByte && bytes(i + 2) == 8)) i += 1
      if (i + 3 <= n) i else n
    }
    var p = 0
    while (p + 10 <= n && bytes(p) == 0x1f.toByte &&
      bytes(p + 1) == 0x8b.toByte && bytes(p + 2) == 8) {
      // header: magic(2) cm(1) flg(1) mtime(4) xfl(1) os(1) [+ extras]
      val flg = bytes(p + 3) & 0xff
      var q = p + 10
      if ((flg & 4) != 0 && q + 2 <= n) // FEXTRA
        q += 2 + ((bytes(q) & 0xff) | ((bytes(q + 1) & 0xff) << 8))
      if ((flg & 8) != 0) { while (q < n && bytes(q) != 0) q += 1; q += 1 } // FNAME
      if ((flg & 16) != 0) { while (q < n && bytes(q) != 0) q += 1; q += 1 } // FCOMMENT
      if ((flg & 2) != 0) q += 2 // FHCRC
      if (q >= n) return out.toSeq // truncated header: stop
      val inf = new java.util.zip.Inflater(true)
      val crc = new java.util.zip.CRC32()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](1 << 16)
      var corrupt = false
      var total = 0L
      try {
        inf.setInput(bytes, q, n - q)
        while (!corrupt && !inf.finished()) {
          val w =
            try inf.inflate(buf)
            catch { case _: java.util.zip.DataFormatException => corrupt = true; 0 }
          if (!corrupt) {
            if (w > 0) {
              total += w
              if (total > MaxMemberBytes) corrupt = true
              else { bos.write(buf, 0, w); crc.update(buf, 0, w) }
            } else if (!inf.finished() && inf.needsInput()) corrupt = true // truncated
          }
        }
        if (corrupt) p = nextMagic(q)
        else {
          val end = q + (n - q - inf.getRemaining) // first trailer byte
          def le32(at: Int): Long =
            (bytes(at) & 0xffL) | ((bytes(at + 1) & 0xffL) << 8) |
              ((bytes(at + 2) & 0xffL) << 16) | ((bytes(at + 3) & 0xffL) << 24)
          if (end + 8 > n) { p = n } // truncated trailer: drop member, done
          else if (le32(end) != crc.getValue ||
            le32(end + 4) != (total & 0xffffffffL))
            // resync from the member's own deflate start, not `end` — a
            // corrupted stream that still "finished" may have consumed
            // into the NEXT member's bytes
            p = nextMagic(q)
          else {
            out += ((p.toLong, (end + 8 - p).toLong, bos.toByteArray))
            p = end + 8
          }
        }
      } finally inf.end()
    }
    out.toSeq
  }

  /** Dispatch on the container form: gzip-member archives inflate then
    * parse PER MEMBER (a malformed record in one member never takes the
    * neighbors with it); plaintext archives walk directly — the
    * pre-round-15 path, byte-for-byte unchanged.
    */
  private[graft] def parseWarcAuto(bytes: Array[Byte]): Seq[(String, Int, String, String, String)] =
    if (isGzip(bytes)) gunzipMembers(bytes).flatMap(parseWarc)
    else if (isZstd(bytes)) zstdMembers(bytes).flatMap(parseWarc)
    else parseWarc(bytes)

  /** A zstd archive opens with a data-frame magic OR a skippable-frame
    * magic (0x184D2A5X — the dict-bearing `.warc.zst` shape leads with
    * its dictionary frame).
    */
  private def isZstd(b: Array[Byte]): Boolean =
    b.length >= 4 && ((b(0) == 0x28.toByte && b(1) == 0xB5.toByte &&
      b(2) == 0x2F.toByte && b(3) == 0xFD.toByte) ||
      ((b(0) & 0xF0) == 0x50 && b(1) == 0x2A.toByte &&
        b(2) == 0x4D.toByte && b(3) == 0x18.toByte))

  /** The web-archive ecosystem's dictionary convention for
    * `.warc.zst` (webrecorder / IIPC): a LEADING skippable frame with
    * this specific magic carries a shared zstd dictionary — raw, or
    * itself zstd-compressed — that every record frame after it was
    * compressed against.
    */
  private val WarcZstDictMagic = 0x184D2A5DL

  /** Extract the convention's shared dictionary from an archive's
    * LEADING `0x184D2A5D` skippable frame (content raw or itself a
    * zstd frame): returns (dictionary-or-null, first byte after the
    * dict frame). A malformed blob degrades to (null, frame end) — the
    * frames that needed it dead-letter typed downstream. This is the
    * bounded read a CDX replayer does ONCE per archive before
    * range-reading records (q192).
    */
  private[graft] def warcZstDict(bytes: Array[Byte]): (Zstd.Dictionary, Int) = {
    def le32(at: Int): Long =
      (bytes(at) & 0xffL) | ((bytes(at + 1) & 0xffL) << 8) |
        ((bytes(at + 2) & 0xffL) << 16) | ((bytes(at + 3) & 0xffL) << 24)
    if (bytes.length < 8 || le32(0) != WarcZstDictMagic) return (null, 0)
    val sz = le32(4)
    if (sz > bytes.length.toLong - 8) return (null, 0)
    val blob = java.util.Arrays.copyOfRange(bytes, 8, 8 + sz.toInt)
    val content =
      if (isZstd(blob)) Zstd.decode(blob, MaxMemberBytes.toInt).getOrElse(blob)
      else blob
    (Zstd.parseDictionary(content).getOrElse(null), 8 + sz.toInt)
  }

  /** Frame-at-a-time walk of a `.warc.zst` archive (one zstd frame per
    * record — the format the web-archive ecosystem is migrating to),
    * with each frame's BYTE EXTENT `(offset, compressedLength)` — the
    * CDX numbers a replayer range-reads. Boundaries come from
    * `Zstd.frameLength` (libzstd's frame-size walk, which never
    * decompresses); a corrupt frame drops and the walk RESYNCS at the
    * next frame magic — the intact frames around it all survive (the
    * gzip-member discipline). A leading `0x184D2A5D` skippable frame is the
    * webrecorder shared-dictionary convention: its content (inflated
    * first if itself a zstd frame) is parsed as an RFC 8878 §5
    * dictionary and supplied to every record-frame decode; a malformed
    * dictionary blob degrades to a plain skipped frame (the frames
    * that needed it dead-letter typed, never as garbage).
    */
  private[graft] def zstdMemberExtents(
      bytes: Array[Byte]): Seq[(Long, Long, Array[Byte])] = {
    val n = bytes.length
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Array[Byte])]
    def nextMagic(from: Int): Int = {
      var i = math.max(from, 0)
      while (i + 4 <= n && !(bytes(i) == 0x28.toByte &&
        bytes(i + 1) == 0xB5.toByte && bytes(i + 2) == 0x2F.toByte &&
        bytes(i + 3) == 0xFD.toByte)) i += 1
      if (i + 4 <= n) i else n
    }
    val (dict, dictEnd) = warcZstDict(bytes)
    var p = dictEnd
    while (p + 4 <= n) {
      val isSkippable = ((bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8) |
        ((bytes(p + 2) & 0xff) << 16) |
        ((bytes(p + 3) & 0xffL) << 24)) & 0xFFFFFFF0L match {
        case 0x184D2A50L => true
        case _ => false
      }
      val advanced = Zstd.frameLength(bytes, p).flatMap { len =>
        if (isSkippable) Some(p + len) // seek table / metadata: no member
        else {
          val slice = java.util.Arrays.copyOfRange(bytes, p, p + len)
          Zstd.decode(slice, MaxMemberBytes.toInt, dict).toOption.map { d =>
            out += ((p.toLong, len.toLong, d))
            p + len
          }
        }
      }
      p = advanced.getOrElse(nextMagic(p + 1))
    }
    out.toSeq
  }

  private[graft] def zstdMembers(bytes: Array[Byte]): Seq[Array[Byte]] =
    zstdMemberExtents(bytes).map(_._3)

  /** Distributed record extraction over (group_id, warc binary) rows;
    * accepts plaintext and gzip-member archives alike; `enc` reports
    * the HTTP codings actually decoded per record.
    */
  def extractRecords(spark: SparkSession, warcs: DataFrame): Dataset[WarcHttpRecord] = {
    import spark.implicits._
    warcs.select(col("group_id"), col("warc"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (gid, bytes) =>
        parseWarcAuto(bytes).map { case (uri, st, body, enc, cs) =>
          WarcHttpRecord(gid, uri, st, body, enc, cs)
        }
      })
  }

  /** Deterministic synthetic WARC blobs from `documents`: each doc's
    * q122 markup wrapped in an HTTP 200 response wrapped in a WARC
    * response record; `groups` blobs, records concatenated in doc_id
    * order — so the parser must walk REAL multi-record archives with
    * correct octet counting (`octet_length`, not chars).
    */
  /** One WARC response record per (doc_id, html) row — `Content-Length`
    * counts OCTETS (`octet_length`, not chars), so a multi-byte body
    * exercises the byte-driven walk.
    */
  private def warcRecordCol: org.apache.spark.sql.Column = {
    val http = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"), col("html"))
    val uri = concat(lit("https://example.test/doc/"), col("doc_id").cast("string"))
    // WARC-Date from the q146 arithmetic: extraction ignores it, but the
    // CDX indexers (q146's gz sibling, q172) need a capture timestamp
    val date = format_string("2026-%02d-%02dT%02d:00:00Z",
      col("doc_id") % 12 + 1, col("doc_id") % 28 + 1, col("doc_id") % 24)
    concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "), uri,
      lit("\r\nWARC-Date: "), date,
      lit("\r\nContent-Length: "), octet_length(http).cast("string"),
      lit("\r\n\r\n"), http, lit("\r\n\r\n"))
  }

  private[graft] def syntheticWarc(docs: DataFrame, groups: Int = 8): DataFrame =
    HtmlOps.syntheticHtml(docs)
      .select((col("doc_id") % groups).as("group_id"),
        struct(col("doc_id"), warcRecordCol.as("rec")).as("s"))
      .groupBy(col("group_id"))
      .agg(array_join(
        expr("transform(array_sort(collect_list(s)), x -> x.rec)"), "")
        .cast("binary").as("warc"))

  /** UTF-8 strings → concatenated one-record-per-member gzip archive
    * (the production Common Crawl layout). Encoder lives in main for
    * corpus construction — the Jpeg/Gif precedent.
    */
  private[graft] def gzipMembers(recs: Seq[String]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    recs.foreach { r =>
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(r.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      gz.finish()
    }
    bos.toByteArray
  }

  /** The parts joined into one array, copied once: a pairwise `++`
    * fold recopies the growing prefix per part, quadratic in parts.
    */
  private[graft] def concatBytes(parts: Seq[Array[Byte]]): Array[Byte] = {
    val out = new Array[Byte](parts.iterator.map(_.length).sum)
    var off = 0
    parts.foreach { p =>
      System.arraycopy(p, 0, out, off, p.length)
      off += p.length
    }
    out
  }

  /** The non-ASCII paragraph appended to every q135 document — forces
    * the UTF-8 body round-trip (octet ≠ char counts; a Latin-1 decode
    * anywhere in the chain diverges `text_sha`).
    */
  private[graft] val Utf8Marker =
    "Naïve café — résumé № "

  /** Gzip-member synthetic corpus: the q128 markup PLUS a planted
    * non-ASCII paragraph, each record its own gzip member.
    */
  private[graft] def syntheticWarcGz(docs: DataFrame, groups: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    HtmlOps.syntheticHtml(docs)
      .select(col("doc_id"), concat(col("html"),
        lit("<p>" + Utf8Marker), col("doc_id").cast("string"), lit("</p>")).as("html"))
      .select((col("doc_id") % groups).as("group_id"),
        struct(col("doc_id"), warcRecordCol.as("rec")).as("s"))
      .groupBy(col("group_id"))
      .agg(expr("transform(array_sort(collect_list(s)), x -> x.rec)").as("recs"))
      .as[(Long, Seq[String])]
      .map { case (gid, recs) => (gid, gzipMembers(recs)) }
      .toDF("group_id", "warc")
  }

  /** The `.warc.zst` twin of `syntheticWarcGz`: the SAME records, one
    * zstd frame per record (libzstd-compressed by `Zstd.encode`,
    * alternating with `Zstd.encodeRaw` raw-block frames).
    */
  private[graft] def syntheticWarcZst(docs: DataFrame, groups: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    HtmlOps.syntheticHtml(docs)
      .select(col("doc_id"), concat(col("html"),
        lit("<p>" + Utf8Marker), col("doc_id").cast("string"), lit("</p>")).as("html"))
      .select((col("doc_id") % groups).as("group_id"),
        struct(col("doc_id"), warcRecordCol.as("rec")).as("s"))
      .groupBy(col("group_id"))
      .agg(expr("transform(array_sort(collect_list(s)), x -> x.rec)").as("recs"))
      .as[(Long, Seq[String])]
      .map { case (gid, recs) =>
        // compressed frames alternate with raw-block frames so both
        // block forms sit in one archive: the non-decompressing
        // boundary walk must step over real compressed blocks, and
        // extraction must inflate them
        (gid, concatBytes(recs.zipWithIndex.map { case (r, i) =>
          val bytes = r.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          if (i % 2 == 0) Zstd.encode(bytes) else Zstd.encodeRaw(bytes)
        }))
      }
      .toDF("group_id", "warc")
  }

  /** The byte prefix every synthetic WARC response record opens with —
    * the shared material the `.warc.zst` dictionary is built from
    * (exactly what ZDICT training converges on for a single-site
    * crawl: the invariant record/header preamble).
    */
  private[graft] val WarcRecPrefix: Array[Byte] =
    ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://example.test/doc/")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)

  private[graft] val WarcZstDictId = 0x47524654L // arbitrary non-zero id

  /** Archive groups per corpus (doc_id % WarcGroups → group_id). */
  private[graft] val WarcGroups = 8

  /** The dict-bearing `.warc.zst` twin of `syntheticWarcZst`
    * (webrecorder convention): a leading `0x184D2A5D` skippable frame
    * carries a structured RFC 8878 §5 dictionary (wrapped in a zstd
    * frame, as the ecosystem writes it) whose content is the shared
    * record prefix; every record frame is compressed against it and
    * declares its Dictionary_ID — drop the dictionary and every frame
    * is undecodable, so the walker's dict plumbing is load-bearing, not
    * decorative.
    */
  private[graft] def syntheticWarcZstDict(docs: DataFrame, groups: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    HtmlOps.syntheticHtml(docs)
      .select(col("doc_id"), concat(col("html"),
        lit("<p>" + Utf8Marker), col("doc_id").cast("string"), lit("</p>")).as("html"))
      .select((col("doc_id") % groups).as("group_id"),
        struct(col("doc_id"), warcRecordCol.as("rec")).as("s"))
      .groupBy(col("group_id"))
      .agg(expr("transform(array_sort(collect_list(s)), x -> x.rec)").as("recs"))
      .as[(Long, Seq[String])]
      .map { case (gid, recs) =>
        val dictBlob = Zstd.encodeStructuredDict(WarcZstDictId, WarcRecPrefix)
        val frames = recs.map(r => Zstd.encode(
          r.getBytes(java.nio.charset.StandardCharsets.UTF_8), dictBlob))
        (gid, concatBytes(dictFrame(Zstd.encodeRaw(dictBlob)) +: frames))
      }
      .toDF("group_id", "warc")
  }

  /** q186: the q185 contract over a DICT-BEARING `.warc.zst` archive —
    * the production webrecorder shape (shared dictionary in a leading
    * skippable frame; record frames that reference it). Identical
    * oracle to q135/q185: any slip in dictionary discovery, §5 prefix
    * resolution, or the Dictionary_ID handshake changes rows.
    */
  def q186WarcZstDictExtract(spark: SparkSession, dir: String): DataFrame =
    extractToDocs(extractRecords(spark,
      syntheticWarcZstDict(Tables.documents(spark, dir))).toDF())

  /** The webrecorder shared-dictionary frame: skippable magic
    * `0x184D2A5D`, little-endian size, then `packed` (the dictionary
    * blob, raw or wrapped in a zstd frame).
    */
  private def dictFrame(packed: Array[Byte]): Array[Byte] = {
    val sz = packed.length
    Array[Byte](0x5D, 0x2A, 0x4D, 0x18, sz.toByte, (sz >> 8).toByte,
      (sz >> 16).toByte, (sz >> 24).toByte) ++ packed
  }

  /** Dictionary budget per archive group, in bytes. */
  private val WarcDictBudget = 8192

  /** The shared dictionary for one archive group's records: a
    * ZDICT-trained blob within `WarcDictBudget` (it carries its own id
    * and entropy tables), or — for a group too small to train — the
    * minimal structured dictionary over `WarcRecPrefix`.
    */
  private[graft] def warcGroupDict(recs: Seq[Array[Byte]]): Array[Byte] = {
    val buf = new Array[Byte](WarcDictBudget)
    try java.util.Arrays.copyOf(buf, ZstdLib.trainFromBuffer(recs.toArray, buf, false).toInt)
    catch {
      case _: ZstdException => Zstd.encodeStructuredDict(WarcZstDictId, WarcRecPrefix)
    }
  }

  /** The WRITE-side `.warc.zst` production shape: webrecorder layout
    * (leading skippable dictionary frame, one frame per record) with
    * every record frame compressed by libzstd against the group's
    * trained dictionary (`warcGroupDict`). Emits the per-group byte
    * accounting alongside the archive so the ratio is part of the
    * tested contract, not a side effect.
    *
    * `storedGroup >= 0` plants that one archive group as RAW-BLOCK
    * frames (stored, 1x bytes) — the negative control for the q195
    * ratio flag; production callers leave it -1 (all compressed).
    */
  private[graft] def syntheticWarcZstCompressed(
      docs: DataFrame, groups: Int = WarcGroups,
      storedGroup: Int = -1): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    HtmlOps.syntheticHtml(docs)
      .select(col("doc_id"), concat(col("html"),
        lit("<p>" + Utf8Marker), col("doc_id").cast("string"), lit("</p>")).as("html"))
      .select((col("doc_id") % groups).as("group_id"),
        struct(col("doc_id"), warcRecordCol.as("rec")).as("s"))
      .groupBy(col("group_id"))
      .agg(expr("transform(array_sort(collect_list(s)), x -> x.rec)").as("recs"))
      .as[(Long, Seq[String])]
      .map { case (gid, recs) =>
        val sampleBytes = recs.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val dictBlob = warcGroupDict(sampleBytes)
        val head = dictFrame(Zstd.encode(dictBlob)) // the dict frame compresses too
        var rawLen = 0L
        val frames = sampleBytes.map { bytes =>
          rawLen += bytes.length
          // content checksums on: a flipped byte in transit fails the
          // frame instead of shipping corrupt training text
          if (gid == storedGroup) Zstd.encodeRaw(bytes)
          else Zstd.encode(bytes, dictBlob, checksum = true)
        }
        // EMBEDDED seek table (round 20, public zstd seekable format):
        // one entry per frame — the dict skippable frame (decompressed
        // size 0) then every record frame with its decompressed size
        // and XXH64-low32 — so a replayer range-reads records without
        // ever walking frame headers (q204)
        val entries = (head.length.toLong, 0L,
          Some(Zstd.xxh64Low32(Array.emptyByteArray))) +:
          frames.zip(sampleBytes).map { case (fr, rec) =>
            (fr.length.toLong, rec.length.toLong,
              Some(Zstd.xxh64Low32(rec)))
          }
        val warc = concatBytes((head +: frames) :+ Zstd.seekTable(entries))
        (gid, warc, rawLen, warc.length.toLong)
      }
      .toDF("group_id", "warc", "raw_len", "comp_len")
  }

  /** q195: write → read `.warc.zst` with REAL compression — the q186
    * contract (same extraction oracle: any slip in the written frames,
    * the trained dictionaries, or dict referencing changes rows)
    * PLUS a per-doc `ratio_lt_60` flag pinning that the archive each
    * document travelled through genuinely compressed (oracle expects
    * uniformly true; an encoder regression to stored bytes fails every
    * row). Each record carries its archive's flag out of the pass
    * that builds the archive.
    *
    * Scale shape (100 TB): dictionary training and the encoder are
    * per-group and per-record executor work on one libzstd context per
    * thread; the archive group-by is the corpus-construction shuffle
    * shared with q135/q185/q186.
    */
  def q195WarcZstWrite(spark: SparkSession, dir: String): DataFrame =
    warcZstRatioJoin(spark, syntheticWarcZstCompressed(Tables.documents(spark, dir)))

  /** The q195 extraction + ratio flag, factored so the negative
    * control (WarcZstSpec's planted STORED group, which must come
    * back `ratio_lt_60 = false`) drives the SAME path the production
    * query uses — the oracle's uniformly-true expectation is checked
    * against a path that demonstrably CAN say false.
    */
  private[graft] def warcZstRatioJoin(
      spark: SparkSession, arch: DataFrame): DataFrame = {
    import spark.implicits._
    // the flag rides with the records: a join back to `arch` would
    // build every archive a second time
    val recs = arch.select(col("group_id"), col("warc"),
        (col("comp_len").cast("double") <
          col("raw_len").cast("double") * 0.6).as("ratio_lt_60"))
      .as[(Long, Array[Byte], Boolean)]
      .flatMap { case (_, bytes, flag) =>
        parseWarcAuto(bytes).map { case (uri, st, body, _, _) => (uri, st, body, flag) }
      }
      .toDF("target_uri", "status", "body", "ratio_lt_60")
    extractToDocs(recs, carry = Seq("ratio_lt_60"))
  }

  /** q204: selective access served from the EMBEDDED seek table (the
    * public zstd seekable format) instead of q192's standing
    * scan-built extent index — the replayer's cheapest path over
    * q195-written shards: per archive, read the trailing seek table
    * ONCE, the shared dictionary ONCE, then RANGE-READ each record
    * frame by its table extent, verifying decompressed size and
    * XXH64-low32 per record (a lying or bit-flipped extent
    * dead-letters that record, never garbage). An archive whose table
    * is missing or structurally invalid falls back to the header-walk
    * extents — pinned by WarcZstSpec, so the fallback can't hide a
    * regression in the table writer. Output contract (and oracle)
    * exactly q135/q192's.
    *
    * Scale shape (100 TB): one partition-local pass per archive, no
    * extra exchange vs q192 MINUS its standing-index write/read and
    * group-by — the seek table rides in the shard tail, so selective
    * access needs zero side artifacts.
    */
  def q204SeekableFetch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val recs = syntheticWarcZstCompressed(Tables.documents(spark, dir))
      .select(col("group_id"), col("warc"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (gid, warc) =>
        val (dict, _) = warcZstDict(warc) // once per archive
        val viaTable = Zstd.readSeekTable(warc) match {
          case Some(entries) =>
            entries.iterator.filter(_.decompSize > 0).flatMap { e =>
              fetchRecordSeek(warc, dict, e)
            }.toSeq
          case None => // no/invalid table: the q185 header walk
            zstdMemberExtents(warc).map(_._3)
        }
        viaTable.flatMap(rec => parseWarc(rec) match {
          case Seq((uri, st, body, enc, cs)) =>
            Some(WarcHttpRecord(gid, uri, st, body, enc, cs))
          case _ => None
        })
      })
    extractToDocs(recs.toDF())
  }

  /** Range-read ONE record frame by its seek-table entry: slice,
    * dict-aware decode, then verify BOTH the promised decompressed
    * size and the XXH64-low32 checksum. None on any lie.
    */
  private[graft] def fetchRecordSeek(
      archive: Array[Byte], dict: Zstd.Dictionary,
      e: Zstd.SeekEntry): Option[Array[Byte]] = {
    if (e.offset < 0 || e.compSize <= 0 ||
      e.offset + e.compSize > archive.length) return None
    val slice = java.util.Arrays.copyOfRange(
      archive, e.offset.toInt, (e.offset + e.compSize).toInt)
    Zstd.decode(slice, MaxMemberBytes.toInt, dict).toOption.filter { d =>
      d.length.toLong == e.decompSize &&
        e.checksum.forall(_ == Zstd.xxh64Low32(d))
    }
  }

  /** q128: the full crawl front door — WARC walk → HTTP split → HTML
    * extraction — over multi-record synthetic archives; per document
    * the URI, HTTP status, block count, and extracted-text sha, all
    * replayed by the oracle directly from (doc_id, text) (the q46
    * encode→decode-collapse discipline).
    */
  def q128WarcExtract(spark: SparkSession, dir: String): DataFrame =
    extractToDocs(extractRecords(spark,
      syntheticWarc(Tables.documents(spark, dir))).toDF())

  /** One gzip member from raw bytes (HTTP `Content-Encoding: gzip`
    * corpus construction).
    */
  private[graft] def gzipBytes(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b)
    gz.finish()
    bos.toByteArray
  }

  /** Mixed HTTP-coding corpus: per document the q122 markup delivered
    * identity (`id % 5 == 0`), chunked (`== 1`), gzip-then-chunked
    * (`== 2` — Content-Encoding applied first, Transfer-Encoding
    * framing the compressed bytes, the real-web layering), zlib
    * deflate (`== 3`), REAL brotli (`id % 10 == 4` — RFC 7932 streams
    * the `Brotli` decoder must inflate), REAL zstd (`id % 20 == 9` —
    * RFC 8878 streams the `Zstd` decoder must inflate), or
    * compress-labeled (`id % 20 == 19` — an UNSUPPORTED coding, must
    * surface as a typed `unsupported:compress` record, never as
    * mojibake text), assembled at the BYTE level so Content-Length
    * counts the coded octets.
    */
  private[graft] def syntheticWarcHttp(docs: DataFrame, groups: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    HtmlOps.syntheticHtml(docs)
      .select(col("doc_id"), col("html"))
      .as[(Long, String)]
      .map { case (id, html) =>
        // resolve charsets inside the task (a captured Charset is not
        // serializable)
        val iso = java.nio.charset.StandardCharsets.ISO_8859_1
        val raw = html.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val (encHdrs, body) = (id % 5) match {
          case 0 => ("", raw)
          case 1 => ("Transfer-Encoding: chunked\r\n", encodeChunked(raw))
          case 2 => ("Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n",
            encodeChunked(gzipBytes(raw), 77))
          case 3 => ("Content-Encoding: deflate\r\n", deflateBytes(raw))
          // the former dead-letter leg now splits three ways: REAL
          // brotli, REAL zstd, and a compress-labeled quarter that
          // keeps the unknown-coding guard honest (the parser must
          // refuse at the CODING LABEL, before ever looking at the
          // body)
          case _ =>
            if (id % 10 == 4)
              ("Content-Encoding: br\r\n", Brotli.encodeUncompressed(raw))
            else if (id % 20 == 9)
              // REAL compressed zstd (libzstd) — the decoder must
              // inflate genuine sequences/Huffman, not just unwrap raw
              // blocks
              ("Content-Encoding: zstd\r\n", Zstd.encode(raw))
            else ("Content-Encoding: compress\r\n", raw)
        }
        val head = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          encHdrs + "\r\n").getBytes(iso)
        val http = head ++ body
        val rec = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
          s"WARC-Target-URI: https://example.test/doc/$id\r\n" +
          s"Content-Length: ${http.length}\r\n\r\n").getBytes(iso) ++
          http ++ "\r\n\r\n".getBytes(iso)
        (id % groups, id, rec)
      }
      .groupByKey(_._1)
      .mapGroups { (gid, it) =>
        val recs = it.toSeq.sortBy(_._2).map(_._3)
        (gid, concatBytes(recs))
      }
      .toDF("group_id", "warc")
  }

  /** Mixed-CHARSET corpus: per document the q122 markup plus a planted
    * accented paragraph, delivered as `charset=utf-8` (id % 4 == 0),
    * `ISO-8859-1` (== 1, single-byte accents), `Windows-1252` (== 2,
    * incl. the € only cp1252 has), or UNLABELED (== 3, the UTF-8
    * default) — byte-assembled, so Content-Length counts the coded
    * octets of each charset.
    */
  private[graft] def syntheticWarcCharset(docs: DataFrame, groups: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    HtmlOps.syntheticHtml(docs)
      .select(col("doc_id"), col("html"))
      .as[(Long, String)]
      .map { case (id, html) =>
        val iso = java.nio.charset.StandardCharsets.ISO_8859_1
        val (label, csName, marker) = (id % 4) match {
          case 0 => ("; charset=UTF-8", "utf-8", "UTF naïve — fin")
          case 1 => ("; charset=ISO-8859-1", "ISO-8859-1", "Latin café è ø fin")
          case 2 => ("; charset=Windows-1252", "windows-1252", "CP équipe € fin")
          case _ => ("", "utf-8", "Plain naïve fin")
        }
        val full = html + "<p>" + marker + " " + id + "</p>"
        val body = full.getBytes(java.nio.charset.Charset.forName(csName))
        val head = ("HTTP/1.1 200 OK\r\nContent-Type: text/html" + label +
          "\r\n\r\n").getBytes(iso)
        val http = head ++ body
        val rec = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
          s"WARC-Target-URI: https://example.test/doc/$id\r\n" +
          s"Content-Length: ${http.length}\r\n\r\n").getBytes(iso) ++
          http ++ "\r\n\r\n".getBytes(iso)
        (id % groups, id, rec)
      }
      .groupByKey(_._1)
      .mapGroups { (gid, it) =>
        val recs = it.toSeq.sortBy(_._2).map(_._3)
        (gid, concatBytes(recs))
      }
      .toDF("group_id", "warc")
  }

  /** Meta-declared charset corpus: the HTTP header carries NO charset
    * parameter (the real-crawl norm); per document the body declares
    * its encoding in the HTML5 ways — `<meta charset>` (id % 4 == 0,
    * Windows-1252 bytes incl. the €), the `http-equiv` form (== 1,
    * Latin-1 bytes), a UTF-8 BOM with no meta at all (== 2), or
    * nothing (== 3, the UTF-8 default) — byte-assembled so
    * Content-Length counts the coded octets.
    */
  private[graft] def syntheticWarcMeta(docs: DataFrame, groups: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    HtmlOps.syntheticHtml(docs)
      .select(col("doc_id"), col("html"))
      .as[(Long, String)]
      .map { case (id, html) =>
        val iso = java.nio.charset.StandardCharsets.ISO_8859_1
        val (metaTag, csName, marker, bom) = (id % 4) match {
          case 0 => ("<meta charset=\"Windows-1252\">", "windows-1252",
            "Meta € équipe fin", false)
          case 1 => ("<meta http-equiv=\"Content-Type\" " +
            "content=\"text/html; charset=ISO-8859-1\">", "ISO-8859-1",
            "Equiv café è fin", false)
          case 2 => ("", "utf-8", "BOM naïve — fin", true)
          case _ => ("", "utf-8", "Default plain fin", false)
        }
        val full = html.replaceFirst("<head>", "<head>" + java.util.regex.Matcher
          .quoteReplacement(metaTag)) +
          "<p>" + marker + " " + id + "</p>"
        val encoded = full.getBytes(java.nio.charset.Charset.forName(csName))
        val body = if (bom)
          Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ encoded
        else encoded
        val head = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n".getBytes(iso)
        val http = head ++ body
        val rec = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
          s"WARC-Target-URI: https://example.test/doc/$id\r\n" +
          s"Content-Length: ${http.length}\r\n\r\n").getBytes(iso) ++
          http ++ "\r\n\r\n".getBytes(iso)
        (id % groups, id, rec)
      }
      .groupByKey(_._1)
      .mapGroups { (gid, it) =>
        val recs = it.toSeq.sortBy(_._2).map(_._3)
        (gid, concatBytes(recs))
      }
      .toDF("group_id", "warc")
  }

  /** q173: HTML5 charset SNIFFING on the oracle path — header-unlabeled
    * bodies whose encoding only the `<meta charset>` / `http-equiv`
    * prescan or the UTF-8 BOM reveals must decode to the same Unicode
    * a labeled delivery would (and the BOM must be STRIPPED, or the
    * first block's sha shifts by a U+FEFF); the effective label and
    * the extracted text are both pinned from the doc_id arithmetic.
    */
  def q173WarcMetaCharset(spark: SparkSession, dir: String): DataFrame = {
    val recs = widenRecords(extractRecords(spark,
      syntheticWarcMeta(Tables.documents(spark, dir))).toDF())
    recs
      .select(
        regexp_extract(col("target_uri"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("target_uri").as("url"),
        col("status").cast("long").as("status"),
        col("charset"),
        HtmlOps.htmlBlocks(col("body")).as("blocks"))
      .select(col("doc_id"), col("url"), col("status"), col("charset"),
        size(col("blocks")).cast("long").as("n_blocks"),
        sha2(array_join(col("blocks"), "\n"), 256).as("text_sha"))
      .orderBy(col("doc_id"))
  }

  /** q142: charset-labeled bodies through the front door — Latin-1 and
    * Windows-1252 single-byte accents (and the cp1252-only €) must
    * decode to the SAME Unicode text a UTF-8 delivery yields; the
    * reported charset and the extracted text are both oracle-pinned
    * from the doc_id arithmetic.
    */
  def q142WarcCharset(spark: SparkSession, dir: String): DataFrame = {
    val recs = widenRecords(extractRecords(spark,
      syntheticWarcCharset(Tables.documents(spark, dir))).toDF())
    recs
      .select(
        regexp_extract(col("target_uri"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("target_uri").as("url"),
        col("status").cast("long").as("status"),
        col("charset"),
        HtmlOps.htmlBlocks(col("body")).as("blocks"))
      .select(col("doc_id"), col("url"), col("status"), col("charset"),
        size(col("blocks")).cast("long").as("n_blocks"),
        sha2(array_join(col("blocks"), "\n"), 256).as("text_sha"))
      .orderBy(col("doc_id"))
  }

  /** q139: the front door over MIXED HTTP codings — identity, chunked,
    * gzip-inside-chunked, zlib-deflate, REAL brotli (RFC 7932), and
    * REAL zstd (RFC 8878) bodies walked, un-framed, inflated, and
    * extracted, PLUS a compress-labeled leg that surfaces as a typed
    * `unsupported:compress` record with an empty body (the
    * unknown-coding guard on the oracle path); per document the
    * applied coding chain rides along so the oracle pins that every
    * path was exercised (derived from the same doc_id arithmetic the
    * corpus used).
    */
  def q139WarcHttpExtract(spark: SparkSession, dir: String): DataFrame = {
    val recs = widenRecords(extractRecords(spark,
      syntheticWarcHttp(Tables.documents(spark, dir))).toDF())
    recs
      .select(
        regexp_extract(col("target_uri"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("target_uri").as("url"),
        col("status").cast("long").as("status"),
        col("enc"),
        HtmlOps.htmlBlocks(col("body")).as("blocks"))
      .select(col("doc_id"), col("url"), col("status"), col("enc"),
        size(col("blocks")).cast("long").as("n_blocks"),
        sha2(array_join(col("blocks"), "\n"), 256).as("text_sha"))
      .orderBy(col("doc_id"))
  }

  /** q184: per-coding LOSS ACCOUNTING over the q139 corpus — the
    * dropped-document share of each content coding measured, not
    * invisible: one enc-keyed rollup of record counts and typed losses
    * (`unsupported:*` records with their mandated empty bodies). At
    * 100 TB this is the dashboard row that tells you what fraction of
    * the crawl a missing codec costs; output-sized group-by.
    */
  def q184CodingReport(spark: SparkSession, dir: String): DataFrame =
    extractRecords(spark, syntheticWarcHttp(Tables.documents(spark, dir)))
      .toDF()
      .groupBy(col("enc"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("enc").startsWith("unsupported:"), 1L).otherwise(0L))
          .as("n_lost"))
      .orderBy(col("enc"))

  /** q185: the q135 contract over a `.warc.zst` archive — one zstd
    * frame per record (the ecosystem's next production shape), walked
    * by `Zstd.frameLength` extents and inflated by libzstd; the output
    * contract (and oracle) is exactly q135's, so any frame-boundary or
    * inflate slip changes rows.
    */
  def q185WarcZstExtract(spark: SparkSession, dir: String): DataFrame =
    extractToDocs(extractRecords(spark,
      syntheticWarcZst(Tables.documents(spark, dir))).toDF())

  /** q135: the q128 front door over a PRODUCTION-SHAPE archive —
    * per-record gzip members with a planted non-ASCII paragraph; same
    * output contract, oracle-replayed from (doc_id, text) with the
    * UTF-8 marker block appended (so the member inflate AND the UTF-8
    * byte round-trip are both under the hash).
    */
  def q135WarcGzExtract(spark: SparkSession, dir: String): DataFrame =
    extractToDocs(extractRecords(spark,
      syntheticWarcGz(Tables.documents(spark, dir))).toDF())

  /** Shared record → (doc_id, url, status, n_blocks, text_sha)
    * projection of q128/q135.
    */
  /** Record-grain parallelism repair (r21, guide §2.5): every archive
    * family fans the corpus into `WarcGroups` blobs, so the per-RECORD
    * work downstream of extraction (the q122 regex chain, entity
    * decode, sha) inherits ≤ WarcGroups-way parallelism no matter how
    * wide the host is — measured as the dominant stage of the whole
    * warc family (q172's 1.4 s/task over 7 tasks on 32 cores). When the
    * cluster is wider than the corpus fan-out, spread the record rows
    * by their natural key before the per-record projection; when it is
    * not (the 100 TB case: archives ≫ cores), this is the identity and
    * no exchange is added.
    */
  private[graft] def widenRecords(recs: DataFrame, key: String = "target_uri"): DataFrame =
    if (recs.sparkSession.sparkContext.defaultParallelism > WarcGroups)
      recs.repartition(col(key))
    else recs

  /** `carry` names record columns passed through to each document row. */
  private[graft] def extractToDocs(recs: DataFrame, carry: Seq[String] = Nil): DataFrame =
    widenRecords(recs)
      .select(Seq(
        regexp_extract(col("target_uri"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("target_uri").as("url"),
        col("status").cast("long").as("status"),
        HtmlOps.htmlBlocks(col("body")).as("blocks")) ++ carry.map(col): _*)
      .select(Seq(col("doc_id"), col("url"), col("status"),
        size(col("blocks")).cast("long").as("n_blocks"),
        sha2(array_join(col("blocks"), "\n"), 256).as("text_sha")) ++ carry.map(col): _*)
      .orderBy(col("doc_id"))
}
