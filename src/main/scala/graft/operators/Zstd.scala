package graft.operators

import scala.util.control.NonFatal

import com.github.luben.zstd.{ZstdCompressCtx, ZstdDecompressCtx, ZstdDictDecompress, ZstdInputStreamNoFinalizer, Zstd => Lib}

/** Zstandard (RFC 8878) — with `Brotli` this completes the modern HTTP
  * content-coding set (`zstd` is the fourth registered coding after
  * gzip/deflate/br).
  *
  * DECODING runs on libzstd (zstd-jni, shipped with Spark). This file
  * keeps only the frame walk around it that types the errors: skippable
  * frames, the Dictionary_ID handshake, and the output cap, checked
  * against each frame's declared content size before anything is
  * allocated. The foreign libzstd fixtures under
  * `src/test/resources/zstd` are the parity gate.
  *
  * Error-as-value: `decode` returns Left(reason) on any malformed,
  * truncated, checksum-failing, or bomb-exceeding stream — never a
  * throw, never partial garbage. Scale shape: called per record
  * inside `mapPartitions` walkers, on one reused libzstd context per
  * thread.
  *
  * ENCODING runs on libzstd too (`encode`). Hand-written here are only
  * the framing pieces libzstd has no call for: raw-block frames
  * (`encodeRaw`), the minimal structured dictionary (`encodeStructuredDict`)
  * and the seekable-format table.
  */
object Zstd {

  private final case class Bail(reason: String)
      extends RuntimeException(null, null, false, false)

  // ----------------------------------------------------------- dictionary

  /** A zstd dictionary (RFC 8878 §5): the blob as shipped and its id.
    * A blob without the dictionary magic is RAW CONTENT (id 0): the
    * whole blob is the window prefix. Serializable, so it travels in
    * closures; the native dictionary is built by the decoding thread.
    */
  final class Dictionary private[Zstd] (val bytes: Array[Byte], val id: Long)
      extends Serializable

  val DictMagic = 0xEC30A437L

  /** Wrap a dictionary blob; Left(reason) on a structured dictionary
    * libzstd refuses to load.
    */
  def parseDictionary(b: Array[Byte]): Either[String, Dictionary] =
    try {
      new ZstdDictDecompress(b).close()
      Right(new Dictionary(b.clone(), Lib.getDictIdFromDict(b)))
    } catch { case NonFatal(_) => Left("dict-malformed") }

  // --------------------------------------------------------------- decode

  /** One libzstd context per decoding thread, with the dictionary it
    * last loaded: the records of one archive share its Dictionary, so
    * the dictionary loads once per archive, not once per record. The
    * cleaner frees the native context when its thread ends.
    */
  private final class Ctx {
    val native = new ZstdDecompressCtx()
    private var dict: Dictionary = null
    private var asId = 0L

    /** Load `d` (or no dictionary) for a frame declaring `frameId`. */
    def use(d: Dictionary, frameId: Long): Unit = {
      val id = if (d != null && d.id == 0) frameId else 0L
      if ((d ne dict) || id != asId) {
        native.reset()
        if (d != null) native.loadDict(blob(d, frameId))
        dict = d
        asId = id
      }
    }
  }

  /** The blob libzstd loads for `d` serving a frame that declares
    * `frameId`. libzstd refuses a frame whose id differs from its
    * dictionary's, so a RAW-CONTENT dictionary serving a frame that
    * declares an id is loaded as a structured dictionary carrying it.
    */
  private def blob(d: Dictionary, frameId: Long): Array[Byte] =
    if (d.id == 0 && frameId != 0) encodeStructuredDict(frameId, d.bytes)
    else d.bytes

  private val cleaner = java.lang.ref.Cleaner.create()
  private val ctxs = ThreadLocal.withInitial[Ctx] { () =>
    val c = new Ctx
    val n = c.native
    cleaner.register(c, () => n.close())
    c
  }

  /** Decode a complete zstd input (one or more frames, skippable
    * frames included); Left(reason) on anything malformed, a checksum
    * mismatch, or past `maxOut` (bomb cap).
    */
  def decode(input: Array[Byte], maxOut: Int = 1 << 26): Either[String, Array[Byte]] =
    decode(input, maxOut, null)

  /** Dictionary-aware decode: frames declaring a Dictionary_ID require
    * `dict` with a matching id; a supplied dictionary also serves
    * id-less frames as a content prefix (libzstd's
    * `ZSTD_decompress_usingDict` semantics).
    */
  def decode(
      input: Array[Byte], maxOut: Int,
      dict: Dictionary): Either[String, Array[Byte]] =
    try Right(decodeOrThrow(input, maxOut, dict))
    catch {
      case x: Bail => Left(x.reason)
      case NonFatal(e) => Left(Codecs.reason(e))
    }

  /** The typed reason for a libzstd error code. */
  private[graft] def errorReason(code: Long): String =
    if (code == Lib.errChecksumWrong()) "checksum-mismatch"
    else if (code == Lib.errDictionaryWrong()) "dictionary-mismatch"
    else if (code == Lib.errSrcSizeWrong()) "truncated"
    else if (code == Lib.errFrameParameterWindowTooLarge()) "output-cap"
    else "malformed"

  /** COMPRESSED length of the frame (or skippable frame) starting at
    * `off`, found without decompressing anything (the .warc.zst
    * member-extent discipline: find record boundaries in a
    * concatenated-frame archive without inflating anything). None on
    * any malformed or truncated frame.
    */
  def frameLength(b: Array[Byte], off: Int): Option[Int] =
    try {
      val len = Lib.findFrameCompressedSize(b, off)
      if (len > 0 && len <= b.length.toLong - off) Some(len.toInt) else None
    } catch { case NonFatal(_) => None }

  private def le32(b: Array[Byte], o: Int): Long = {
    if (o + 4 > b.length) throw Bail("truncated")
    ((b(o) & 0xffL)) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  }

  private def decodeOrThrow(
      input: Array[Byte], maxOut: Int, dict: Dictionary): Array[Byte] = {
    val parts = new scala.collection.mutable.ArrayBuffer[Array[Byte]](1)
    var total = 0L
    var ip = 0
    while (ip < input.length) {
      val magic = le32(input, ip)
      if ((magic & 0xFFFFFFF0L) == 0x184D2A50L) {
        // skippable frame: bound the declared size BEFORE advancing —
        // a 4 GB lie must not wrap the cursor
        val sz = le32(input, ip + 4)
        if (sz > input.length.toLong - ip - 8) throw Bail("truncated")
        ip += 8 + sz.toInt
      } else if (magic == 0xFD2FB528L) {
        val len = Lib.findFrameCompressedSize(input, ip).toInt
        val part = decodeFrame(input, ip, len, maxOut - total, dict)
        parts += part
        total += part.length
        ip += len
      } else throw Bail("bad-magic")
    }
    if (parts.length == 1) parts.head
    else {
      val out = new Array[Byte](total.toInt)
      var op = 0
      parts.foreach { p => System.arraycopy(p, 0, out, op, p.length); op += p.length }
      out
    }
  }

  /** Floor of libzstd's window limit for a frame that does not declare
    * its content size (8 MiB, the largest window the standard levels
    * pick for such frames); above it the limit follows the output cap.
    */
  private val MinWindowLog = 23

  /** Decode the one frame at `b[off, off + len)` into at most `cap`
    * bytes: a declared content size is checked against the cap before
    * the output is allocated; a frame without one streams through the
    * bounded reader with libzstd's window bounded by the cap.
    */
  private def decodeFrame(
      b: Array[Byte], off: Int, len: Int, cap: Long,
      dict: Dictionary): Array[Byte] = {
    // Dictionary_ID (RFC 8878 §3.1.1.1): 0/1/2/4 bytes after the
    // descriptor and the optional window descriptor
    val fhd = b(off + 4) & 0xff
    val at = off + (if ((fhd & 0x20) != 0) 5 else 6)
    var frameId = 0L
    for (i <- 0 until Array(0, 1, 2, 4)(fhd & 3))
      frameId |= (b(at + i) & 0xffL) << (8 * i)
    if (frameId != 0) {
      if (dict == null) throw Bail("dictionary-missing")
      if (dict.id != 0 && dict.id != frameId) throw Bail("dictionary-mismatch")
    }
    val size = Lib.getFrameContentSize(b, off, len)
    if (size == -1L) { // unknown content size
      val capInt = math.min(cap, Int.MaxValue - 8L).toInt
      val windowLog = 32 - Integer.numberOfLeadingZeros(
        math.max(capInt, 1 << MinWindowLog) - 1)
      Codecs.bounded(capInt) {
        val in = new ZstdInputStreamNoFinalizer(
          new java.io.ByteArrayInputStream(b, off, len))
        if (dict != null) in.setDict(blob(dict, frameId))
        in.setLongMax(windowLog)
      }.fold(r => throw Bail(r), identity)
    } else if (size < 0 || size > cap) throw Bail("output-cap")
    else {
      val ctx = ctxs.get()
      ctx.use(dict, frameId)
      val out = new Array[Byte](size.toInt)
      if (ctx.native.decompressByteArray(out, 0, out.length, b, off, len) != size)
        throw Bail("content-size-mismatch")
      out
    }
  }


  // --------------------------------------------------------------- encode

  /** Minimal conforming ENCODER: raw blocks in a single-segment frame
    * (the zstd analogue of deflate's stored blocks) — enough to plant
    * real `zstd` bodies in synthetic corpora; libzstd accepts its
    * output (verified once at fixture-generation time) and `decode`
    * round-trips it (spec-pinned).
    */
  def encodeRaw(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(0x28); bos.write(0xB5); bos.write(0x2F); bos.write(0xFD)
    val n = data.length
    val fcsCode = if (n <= 255) 0 else if (n <= 65535 + 256) 1 else 2
    bos.write((fcsCode << 6) | 0x20) // single-segment, no checksum
    fcsCode match {
      case 0 => bos.write(n)
      case 1 =>
        val v = n - 256
        bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
      case _ =>
        bos.write(n & 0xff); bos.write((n >> 8) & 0xff)
        bos.write((n >> 16) & 0xff); bos.write((n >> 24) & 0xff)
    }
    var off = 0
    if (n == 0) { bos.write(1); bos.write(0); bos.write(0) } // last raw, 0
    else while (off < n) {
      val chunk = math.min(1 << 16, n - off)
      val lastBit = if (off + chunk == n) 1 else 0
      val hdr = lastBit | (chunk << 3) // type raw = 0
      bos.write(hdr & 0xff); bos.write((hdr >> 8) & 0xff)
      bos.write((hdr >> 16) & 0xff)
      bos.write(data, off, chunk)
      off += chunk
    }
    bos.toByteArray
  }

  // ------------------------------------------------- seekable format
  // The public zstd seekable format (facebook/zstd
  // contrib/seekable_format/zstd_seekable_compression_format.md): a
  // concatenation of frames followed by one skippable frame (magic
  // low-nibble 0xE) holding a SEEK TABLE — per-frame compressed +
  // decompressed sizes, optional XXH64-low32 checksums — and a 9-byte
  // footer: Number_Of_Frames, Seek_Table_Descriptor (bit 7 =
  // Checksum_Flag, bits 6-2 reserved zero), magic 0x8F92EAB1.

  val SeekableMagic = 0x8F92EAB1L
  val SeekTableFrameMagic = 0x184D2A5EL

  /** One seek-table row: byte extent + decompressed size + optional
    * XXH64-low32 of the decompressed payload.
    */
  final case class SeekEntry(
      offset: Long, compSize: Long, decompSize: Long, checksum: Option[Long])

  private val Xxh64 = net.jpountz.xxhash.XXHashFactory.fastestInstance().hash64()

  /** XXH64 (seed 0) low 32 bits: the frame content checksum and the
    * seek-table checksum.
    */
  private[graft] def xxh64Low32(b: Array[Byte]): Long =
    Xxh64.hash(b, 0, b.length, 0L) & 0xFFFFFFFFL

  /** Serialize the seek-table skippable frame for `entries`
    * (compressedSize, decompressedSize, optional checksum — all
    * entries must agree on checksum presence).
    */
  def seekTable(entries: Seq[(Long, Long, Option[Long])]): Array[Byte] = {
    val withCk = entries.nonEmpty && entries.head._3.isDefined
    require(entries.forall(_._3.isDefined == withCk),
      "checksum presence must be uniform")
    val entrySize = if (withCk) 12 else 8
    val bos = new java.io.ByteArrayOutputStream(
      8 + entries.length * entrySize + 9)
    def le32w(v: Long): Unit = {
      bos.write((v & 0xff).toInt); bos.write(((v >> 8) & 0xff).toInt)
      bos.write(((v >> 16) & 0xff).toInt); bos.write(((v >> 24) & 0xff).toInt)
    }
    le32w(SeekTableFrameMagic)
    le32w(entries.length.toLong * entrySize + 9)
    entries.foreach { case (c, d, ck) =>
      require(c >= 0 && c <= 0xFFFFFFFFL && d >= 0 && d <= 0xFFFFFFFFL)
      le32w(c); le32w(d); ck.foreach(le32w)
    }
    le32w(entries.length.toLong)
    bos.write(if (withCk) 0x80 else 0x00)
    le32w(SeekableMagic)
    bos.toByteArray
  }

  /** Parse an EMBEDDED seek table from the tail of `b`. Returns the
    * per-frame entries with offsets reconstructed by running sum, or
    * None when no structurally valid table is present (wrong magics,
    * reserved descriptor bits, size lies, or extents that don't tile
    * `[0, tableStart)`) — callers fall back to the scan walk, so a
    * lying table can never misaddress a record silently.
    */
  def readSeekTable(b: Array[Byte]): Option[Seq[SeekEntry]] = {
    val n = b.length
    if (n < 17) return None
    try {
      if (le32(b, n - 4) != SeekableMagic) return None
      val descriptor = b(n - 5) & 0xff
      if ((descriptor & 0x7C) != 0) return None // reserved bits
      val withCk = (descriptor & 0x80) != 0
      val entrySize = if (withCk) 12 else 8
      val nbFrames = le32(b, n - 9)
      if (nbFrames < 0 || nbFrames > (n - 17) / entrySize) return None
      val tableLen = 8 + nbFrames * entrySize + 9
      val tableStart = n - tableLen
      if (tableStart < 0) return None
      if (le32(b, tableStart.toInt) != SeekTableFrameMagic) return None
      if (le32(b, tableStart.toInt + 4) != nbFrames * entrySize + 9)
        return None
      var off = 0L
      var p = tableStart.toInt + 8
      val out = Vector.newBuilder[SeekEntry]
      var i = 0L
      while (i < nbFrames) {
        val c = le32(b, p)
        val d = le32(b, p + 4)
        val ck = if (withCk) Some(le32(b, p + 8)) else None
        out += SeekEntry(off, c, d, ck)
        off += c
        p += entrySize
        i += 1
      }
      if (off != tableStart) None // extents must tile the payload
      else Some(out.result())
    } catch {
      case _: Bail => None
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  /** Build a minimal STRUCTURED dictionary blob (RFC 8878 §5): magic,
    * id, entropy preamble, rep-offset seeds, content. The preamble is
    * the smallest valid one — a 2-symbol Huffman table and three
    * single-symbol full FSE tables — so what frames USE is the content
    * (as the window prefix) and the id (the Dictionary_ID handshake).
    * libzstd loads the blob on both sides: `encode` compresses against
    * it and `decode` serves the id-declaring frames with it; `blob`
    * rebuilds it for a raw-content dictionary serving such a frame.
    */
  def encodeStructuredDict(id: Long, content: Array[Byte]): Array[Byte] = {
    require(content.length >= 8, "dict content must cover the rep seeds")
    val bos = new java.io.ByteArrayOutputStream()
    def le32w(v: Long): Unit = {
      bos.write((v & 0xff).toInt); bos.write(((v >> 8) & 0xff).toInt)
      bos.write(((v >> 16) & 0xff).toInt); bos.write(((v >> 24) & 0xff).toInt)
    }
    le32w(DictMagic)
    le32w(id)
    // Huffman: direct-weights header, 1 explicit symbol of weight 1
    // (the implied last weight completes the power of two)
    bos.write(0x80); bos.write(0x10)
    // three FSE descriptions (OF → ML → LL order), each "symbol 0 owns
    // the whole 2^5 table": accLog nibble 0, then count 32 encoded as
    // low=31 + extra bit → bytes 0xF0 0x03 (RFC 8878 §4.1.1)
    for (_ <- 0 until 3) { bos.write(0xF0); bos.write(0x03) }
    le32w(1L); le32w(4L); le32w(8L) // rep-offset seeds
    bos.write(content)
    bos.toByteArray
  }

  /** One libzstd compression context per encoding thread (level 3),
    * with the dictionary blob it last loaded: the records of one archive
    * share their blob, so it loads once per archive, not once per
    * record. The cleaner frees the native context when its thread ends.
    */
  private final class EncCtx {
    val native = new ZstdCompressCtx().setLevel(3)
    var dict: Array[Byte] = Array.emptyByteArray
  }

  private val encCtxs = ThreadLocal.withInitial[EncCtx] { () =>
    val c = new EncCtx
    val n = c.native
    cleaner.register(c, () => n.close())
    c
  }

  /** Compress `data` into one zstd frame that declares its content
    * size. `dict` is loaded as libzstd auto-detects it: a blob with the
    * dictionary magic is a structured dictionary whose id every frame
    * declares (decoders must then be handed it); any other non-empty
    * blob is a raw content prefix (id 0), so the frame decodes only
    * with the same prefix handed over out of band. `checksum` adds the
    * XXH64-low32 content checksum.
    */
  def encode(
      data: Array[Byte], dict: Array[Byte] = Array.emptyByteArray,
      checksum: Boolean = false): Array[Byte] = {
    val ctx = encCtxs.get()
    if (dict ne ctx.dict) {
      ctx.native.loadDict(dict)
      ctx.dict = dict
    }
    ctx.native.setChecksum(checksum)
    ctx.native.compress(data)
  }
}
