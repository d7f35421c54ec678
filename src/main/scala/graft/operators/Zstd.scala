package graft.operators

import scala.util.control.NonFatal

import com.github.luben.zstd.{ZstdDecompressCtx, ZstdDictDecompress, ZstdException, ZstdIOException, ZstdInputStreamNoFinalizer, Zstd => Lib}

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
  * ENCODING is hand-written: raw, dictionary-prefix and general LZ77
  * writers, structured dictionaries (Dictionary_ID handshake, trained
  * treeless-literals tables) and the seekable-format table.
  */
object Zstd {


  // ------------------------------------------------------------ constants

  /** Literal-length codes (RFC §3.1.1.3.2.1.1). */
  private val LlBase = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13,
    14, 15, 16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512, 1024,
    2048, 4096, 8192, 16384, 32768, 65536)
  private val LlBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

  /** Match-length codes (RFC §3.1.1.3.2.1.1). */
  private val MlBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
    16, 17, 18, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33,
    34, 35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515, 1027,
    2051, 4099, 8195, 16387, 32771, 65539)
  private val MlBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3,
    4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

  /** Predefined FSE distributions (RFC §3.1.1.3.2.2). */
  private val LlDefault = Array(4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1,
    1, 2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1)
  private val MlDefault = Array(1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1, -1, -1)
  private val OfDefault = Array(1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1)
  private val LlDefaultLog = 6
  private val MlDefaultLog = 6
  private val OfDefaultLog = 5

  private final case class Bail(reason: String)
      extends RuntimeException(null, null, false, false)

  // ------------------------------------------------------------------ FSE

  /** A built FSE decode table: per state (symbol, nbBits, baseline). */
  private final class FseTable(
      val accLog: Int, val symbol: Array[Int], val nbBits: Array[Int],
      val base: Array[Int])

  /** Build the decode table from normalized counts (RFC §4.1.1). */
  private def fseBuild(counts: Array[Int], accLog: Int): FseTable = {
    val size = 1 << accLog
    val sym = new Array[Int](size)
    var high = size - 1
    // "less than 1" symbols get one top cell each
    for (s <- counts.indices if counts(s) == -1) {
      sym(high) = s; high -= 1
    }
    val step = (size >> 1) + (size >> 3) + 3
    val mask = size - 1
    var p = 0
    for (s <- counts.indices if counts(s) > 0) {
      var k = 0
      while (k < counts(s)) {
        sym(p) = s
        p = (p + step) & mask
        while (p > high) p = (p + step) & mask
        k += 1
      }
    }
    if (p != 0) throw Bail("fse-spread")
    val nb = new Array[Int](size)
    val bs = new Array[Int](size)
    val nextState = counts.map(c => if (c == -1) 1 else c)
    var u = 0
    while (u < size) {
      val s = sym(u)
      val x = nextState(s)
      nextState(s) = x + 1
      val b = accLog - (31 - Integer.numberOfLeadingZeros(x))
      nb(u) = b
      bs(u) = (x << b) - size
      u += 1
    }
    new FseTable(accLog, sym, nb, bs)
  }

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
    * single-symbol full FSE tables — because the synthetic corpora
    * never emit treeless-literals or repeat-mode blocks; what the
    * frames USE is the content (as the window prefix) and the id (the
    * Dictionary_ID handshake). libzstd loads the blob and decodes
    * frames against it (verified once via ctypes at build time:
    * `ZSTD_decompress_usingDict` round-trips `encodeWithDictPrefix`
    * output byte-exactly under this dictionary).
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

  /** Structured dictionary carrying a TRAINED Huffman literals table
    * (round 20): like `encodeStructuredDict` but the entropy preamble's
    * Huffman table is built from `histogramSample`'s byte histogram —
    * the SAME serialized form a block-level tree description uses, so
    * libzstd loads it as the frame's
    * initial previous-table and TREELESS literals blocks (type 3)
    * reference it directly. On sub-KB records that moves the dominant
    * per-frame cost (the tree description) into the dictionary, paid
    * once per archive. Returns the blob plus the encode-side table to
    * hand to `encode(..., dictHuf = _)`; falls back to the minimal
    * preamble (null table) when the sample can't yield a table.
    */
  def encodeStructuredDictTrained(
      id: Long, content: Array[Byte],
      histogramSample: Array[Byte]): (Array[Byte], HufEnc) = {
    require(content.length >= 8, "dict content must cover the rep seeds")
    val freq = new Array[Int](256)
    histogramSample.foreach(b => freq(b & 0xff) += 1)
    // +1 smoothing: libzstd's COMPRESSOR (ZSTD_loadCEntropy) rejects a
    // dict Huffman table that doesn't cover all 256 symbols
    // (dictionary_corrupted) even though its decompressor accepts it;
    // full coverage also spares the treeless covers() fallback on
    // records with rare bytes. Costs ≤1 weight step on seen symbols.
    var s = 0
    while (s < 256) { freq(s) += 1; s += 1 }
    val huf = buildHufEnc(freq)
    if (huf == null) return (encodeStructuredDict(id, content), null)
    val bos = new java.io.ByteArrayOutputStream()
    def le32w(v: Long): Unit = {
      bos.write((v & 0xff).toInt); bos.write(((v >> 8) & 0xff).toInt)
      bos.write(((v >> 16) & 0xff).toInt); bos.write(((v >> 24) & 0xff).toInt)
    }
    le32w(DictMagic)
    le32w(id)
    bos.write(huf.desc) // the trained literals table
    // three FSE descriptions (OF → ML → LL order) carrying the RFC
    // PREDEFINED distributions — exactly the tables our sequences
    // use, so a third-party compressor seeded by this dict starts
    // from sane sequence statistics instead of degenerate stubs
    bos.write(fseWriteCounts(OfDefault, OfDefaultLog))
    bos.write(fseWriteCounts(MlDefault, MlDefaultLog))
    bos.write(fseWriteCounts(LlDefault, LlDefaultLog))
    le32w(1L); le32w(4L); le32w(8L) // rep-offset seeds
    bos.write(content)
    (bos.toByteArray, huf)
  }

  /** Conforming dictionary-REFERENCING encoder: one frame whose content
    * is `dictContent ++ suffix`, produced as a single compressed block
    * holding one sequence — a match of the WHOLE dictionary content
    * (offset = |dict|, reaching entirely into the window prefix) —
    * followed by `suffix` as raw trailing literals. All three FSE
    * tables use RLE mode, so the backward bitstream carries only the
    * offset/match-length extra bits. This is how the synthetic
    * `.warc.zst` corpora make every record frame genuinely DEPEND on
    * the shared dictionary (drop the dict and the frame is
    * undecodable), exercising the §5 prefix path end to end; libzstd
    * accepts its output (verified once via ctypes at build time:
    * `ZSTD_decompress_usingDict` round-trips it byte-exactly).
    *
    * `dictId` 0 omits the Dictionary_ID field (the raw-content-dict
    * shape); non-zero writes the 4-byte field.
    */
  def encodeWithDictPrefix(
      suffix: Array[Byte], dictContent: Array[Byte],
      dictId: Long): Array[Byte] = {
    val dictLen = dictContent.length
    require(dictLen >= 3 && dictLen <= 65539, "dict prefix must be 3..65539")
    require(suffix.length <= (1 << 17) - 1, "suffix too large for one block")
    val contentSize = dictLen.toLong + suffix.length

    // the one sequence: ll=0 (code 0, no extras), match = whole dict
    val ml = dictLen
    var mlCode = MlBase.length - 1
    while (MlBase(mlCode) > ml) mlCode -= 1
    val mlExtra = ml - MlBase(mlCode)
    val offset = dictLen.toLong
    val ofValue = offset + 3
    val ofCode = 63 - java.lang.Long.numberOfLeadingZeros(ofValue).toInt
    val ofExtra = (ofValue - (1L << ofCode)).toInt

    // backward bitstream: fields in READ order (LL/OF/ML inits are
    // 0-bit for RLE tables, then extras OF→ML→LL); the first-read
    // field sits just below the padding marker
    val totalBits = ofCode + MlBits(mlCode)
    val nBytes = (totalBits + 1 + 7) / 8
    val bits = new Array[Byte](nBytes)
    var top = totalBits
    def put(v: Int, n: Int): Unit = {
      top -= n
      var i = 0
      while (i < n) {
        if (((v >> i) & 1) != 0)
          bits((top + i) >> 3) = (bits((top + i) >> 3) | (1 << ((top + i) & 7))).toByte
        i += 1
      }
    }
    put(ofExtra, ofCode)
    put(mlExtra, MlBits(mlCode))
    bits(totalBits >> 3) = (bits(totalBits >> 3) | (1 << (totalBits & 7))).toByte

    // block content: literals header (raw, size_format 3 = 20-bit
    // regen), literals, nbSeq=1, modes all RLE, the 3 RLE symbols,
    // then the bitstream
    val blk = new java.io.ByteArrayOutputStream()
    val regen = suffix.length
    blk.write(((3 << 2) | ((regen & 0xF) << 4)) & 0xff)
    blk.write((regen >> 4) & 0xff)
    blk.write((regen >> 12) & 0xff)
    blk.write(suffix)
    blk.write(1) // one sequence
    blk.write((1 << 6) | (1 << 4) | (1 << 2)) // LL/OF/ML all RLE mode
    blk.write(0) // LL RLE symbol: code 0 → literal length 0
    blk.write(ofCode) // OF RLE symbol
    blk.write(mlCode) // ML RLE symbol
    blk.write(bits)
    val blkBytes = blk.toByteArray

    val bos = new java.io.ByteArrayOutputStream()
    bos.write(0x28); bos.write(0xB5); bos.write(0x2F); bos.write(0xFD)
    val fcsCode =
      if (contentSize <= 255) 0
      else if (contentSize <= 65535L + 256) 1
      else 2
    val dictFlag = if (dictId == 0) 0 else 3
    bos.write((fcsCode << 6) | 0x20 | dictFlag) // single-segment
    if (dictFlag == 3) {
      bos.write((dictId & 0xff).toInt); bos.write(((dictId >> 8) & 0xff).toInt)
      bos.write(((dictId >> 16) & 0xff).toInt)
      bos.write(((dictId >> 24) & 0xff).toInt)
    }
    fcsCode match {
      case 0 => bos.write(contentSize.toInt)
      case 1 =>
        val v = (contentSize - 256).toInt
        bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
      case _ =>
        val v = contentSize
        bos.write((v & 0xff).toInt); bos.write(((v >> 8) & 0xff).toInt)
        bos.write(((v >> 16) & 0xff).toInt); bos.write(((v >> 24) & 0xff).toInt)
    }
    val hdr = 1 | (2 << 1) | (blkBytes.length << 3) // last, compressed
    bos.write(hdr & 0xff); bos.write((hdr >> 8) & 0xff)
    bos.write((hdr >> 16) & 0xff)
    bos.write(blkBytes)
    bos.toByteArray
  }

  // ------------------------------------------- general LZ77 compression
  //
  // The write side of the engine: a REAL zstd compressor (hash-chain
  // LZ77 match finder -> sequences through the predefined FSE tables,
  // literals through a fresh canonical Huffman table per block), so
  // the engine ships .warc.zst / WET / WAT shards at a real
  // compression ratio instead of stored bytes. Verified two ways:
  // `decode` (libzstd) round-trips every output (spec), and
  // foreign libzstd decodes it byte-exact via the ctypes harness
  // (tools/verify_zstd_encoder.py — the libpng/libtiff fixture
  // discipline pointed at the ENCODER's output).
  //
  // Container notes (RFC 8878): frames are single-segment (window =
  // content size) like every other frame this repo writes; blocks cap
  // at 128 KiB; sequences use Predefined_Mode for all three tables
  // (no table descriptions on the wire; the default distributions
  // cover every code), with match offsets allowed to reach across
  // block boundaries and — when a dictionary is supplied — into the
  // §5 content prefix. Repeat-offset codes are never EMITTED
  // (ofValue = offset + 3 always); the decoder's rep state updates
  // are unaffected.

  private lazy val LlDecT = fseBuild(LlDefault, LlDefaultLog)
  private lazy val MlDecT = fseBuild(MlDefault, MlDefaultLog)
  private lazy val OfDecT = fseBuild(OfDefault, OfDefaultLog)

  /** FSE ENCODE transitions derived from the DECODE table, so the two
    * are inverse BY CONSTRUCTION (no separately-transcribed encoder
    * tables to mismatch): for symbol `s`, `next(s)(v)` is the unique
    * decode state `u` with `symbol(u) = s` whose baseline range covers
    * the successor state `v` (FSE tables partition the state space per
    * symbol); the transition's wire bits are `v - base(u)` in
    * `nbBits(u)` bits.
    */
  private final class FseEnc(val t: FseTable, nSym: Int) {
    val size: Int = 1 << t.accLog
    val next: Array[Array[Int]] = Array.ofDim[Int](nSym, size)
    val first: Array[Int] = Array.fill(nSym)(-1)
    locally {
      var u = 0
      while (u < size) {
        val s = t.symbol(u)
        if (first(s) < 0) first(s) = u
        var v = t.base(u)
        val end = v + (1 << t.nbBits(u))
        while (v < end) { next(s)(v) = u; v += 1 }
        u += 1
      }
    }
  }

  private lazy val LlEnc = new FseEnc(LlDecT, 36)
  private lazy val MlEnc = new FseEnc(MlDecT, 53)
  private lazy val OfEnc = new FseEnc(OfDecT, 29)

  /** Pack (value, width) fields so a backward bitstream reader (RFC
    * 8878 §4.1) consumes them in list order: fields are laid from the
    * top of the stream downward (LSB-first within a field),
    * with the padding marker bit immediately above the first field.
    */
  private def packBackward(
      fields: scala.collection.Seq[(Long, Int)]): Array[Byte] = {
    var total = 0
    fields.foreach(total += _._2)
    val out = new Array[Byte]((total + 8) / 8)
    out(total >> 3) = (out(total >> 3) | (1 << (total & 7))).toByte
    var top = total
    fields.foreach { case (v, n) =>
      top -= n
      var i = 0
      while (i < n) {
        if (((v >> i) & 1L) != 0)
          out((top + i) >> 3) =
            (out((top + i) >> 3) | (1 << ((top + i) & 7))).toByte
        i += 1
      }
    }
    out
  }

  /** FORWARD LSB-first writer (FSE table descriptions, RFC 8878
    * §4.1.1).
    */
  private final class FwdBitWriter {
    private val bos = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nBits = 0
    def write(v: Int, n: Int): Unit = {
      var i = 0
      while (i < n) {
        cur |= ((v >> i) & 1) << nBits
        nBits += 1
        if (nBits == 8) { bos.write(cur); cur = 0; nBits = 0 }
        i += 1
      }
    }
    def alignByte(): Unit = if (nBits != 0) { bos.write(cur); cur = 0; nBits = 0 }
    def toBytes: Array[Byte] = { alignByte(); bos.toByteArray }
  }

  /** Serialize normalized counts in the table-description format
    * (RFC §4.1.1): the shrinking threshold, the +1 bias, low/full-width
    * forms, and 2-bit zero-run groups after a zero count.
    */
  private def fseWriteCounts(counts: Array[Int], accLog: Int): Array[Byte] = {
    val fw = new FwdBitWriter
    fw.write(accLog - 5, 4)
    var remaining = (1 << accLog) + 1
    var threshold = 1 << accLog
    var nbBits = accLog + 1
    var s = 0
    while (remaining > 1 && s < counts.length) {
      val c = counts(s)
      val max = (2 * threshold - 1) - remaining
      var v = c + 1 // -1 encodes as 0
      if (v >= threshold) v += max // lift past the [threshold, threshold+max) gap
      if (v < max) fw.write(v, nbBits - 1) else fw.write(v, nbBits)
      remaining -= math.abs(c)
      while (remaining > 1 && remaining < threshold) {
        nbBits -= 1; threshold >>= 1
      }
      s += 1
      if (c == 0 && remaining > 1) {
        // zero-run groups over the following zeros
        var z = 0
        while (s + z < counts.length && counts(s + z) == 0) z += 1
        var left = z
        while (left >= 3) { fw.write(3, 2); left -= 3 }
        fw.write(left, 2)
        s += z
      }
    }
    fw.toBytes
  }

  /** FSE-compress Huffman WEIGHTS (RFC §4.2.1.2) — the form the
    * direct-nibble header can't express past 128 symbols: counts
    * description, then the backward bitstream that a decoder's two
    * interleaved states replay, terminated by the deliberate
    * final over-read. Returns null when the shape can't terminate
    * (fewer than 2 explicit weights, or one weight owning the whole
    * table) or when it wouldn't fit the one-byte size header.
    */
  private def fseCompressWeights(w: Array[Int], m: Int): Array[Byte] = {
    if (m < 2) return null
    var maxW = 0
    var i = 0
    while (i < m) { maxW = math.max(maxW, w(i)); i += 1 }
    val freq = new Array[Int](maxW + 1)
    i = 0
    while (i < m) { freq(w(i)) += 1; i += 1 }
    // normalize to 2^6 with every present symbol >= 1
    val accLog = 6
    val size = 1 << accLog
    val counts = new Array[Int](maxW + 1)
    var total = 0
    i = 0
    while (i <= maxW) {
      if (freq(i) > 0) {
        counts(i) = math.max(1, (freq(i).toLong * size / m).toInt)
        total += counts(i)
      }
      i += 1
    }
    // settle the sum on the most frequent symbol
    var big = 0
    i = 0
    while (i <= maxW) { if (counts(i) > counts(big)) big = i; i += 1 }
    counts(big) += size - total
    if (counts(big) <= 0 || counts(big) >= size) return null
    val table = fseBuild(counts, accLog)
    val enc = new FseEnc(table, maxW + 1)
    // chains: emissions alternate s1/s2; the last weight arrives via
    // the discarded-update branch from chain P; chain Q's final update
    // is the over-read and needs nbBits > 0
    val pLast = (m - 1) & 1
    def chainSyms(parity: Int): Array[Int] = {
      val cap = if (parity == pLast) m - 1 else m - 2
      (parity to cap by 2).map(w(_)).toArray
    }
    def backChain(syms: Array[Int], lastNeedsBits: Boolean): Array[Int] = {
      val st = new Array[Int](syms.length)
      val lastSym = syms(syms.length - 1)
      var pick = -1
      var u = 0
      while (u < size && pick < 0) {
        if (table.symbol(u) == lastSym &&
          (!lastNeedsBits || table.nbBits(u) > 0)) pick = u
        u += 1
      }
      if (pick < 0) return null
      st(syms.length - 1) = pick
      var k = syms.length - 2
      while (k >= 0) { st(k) = enc.next(syms(k))(st(k + 1)); k -= 1 }
      st
    }
    val stA = backChain(chainSyms(0), lastNeedsBits = pLast == 1)
    val stB = backChain(chainSyms(1), lastNeedsBits = pLast == 0)
    if (stA == null || stB == null) return null
    val fields = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    fields += ((stA(0).toLong, accLog)) // s1 init
    fields += ((stB(0).toLong, accLog)) // s2 init
    val idx = Array(0, 0)
    var k = 0
    while (k <= m - 3) {
      val chain = k & 1
      val st = if (chain == 0) stA else stB
      val cur = st(idx(chain))
      val next = st(idx(chain) + 1)
      fields += (((next - table.base(cur)).toLong, table.nbBits(cur)))
      idx(chain) += 1
      k += 1
    }
    val stream = packBackward(fields)
    val head = fseWriteCounts(counts, accLog)
    val total2 = head.length + stream.length
    if (total2 >= 128) return null
    val out = new Array[Byte](1 + total2)
    out(0) = total2.toByte
    System.arraycopy(head, 0, out, 1, head.length)
    System.arraycopy(stream, 0, out, 1 + head.length, stream.length)
    out
  }

  private def llCodeOf(ll: Int): Int =
    if (ll < 16) ll
    else { var c = 35; while (LlBase(c) > ll) c -= 1; c }

  private def mlCodeOf(ml: Int): Int =
    if (ml <= 34) ml - 3
    else { var c = 52; while (MlBase(c) > ml) c -= 1; c }

  /** The SEQUENCES section of one compressed block (predefined FSE
    * mode): nbSeq header, mode byte 0, then the backward bitstream —
    * three state inits, and per sequence the OF/ML/LL extra bits plus
    * (between sequences) the LL/ML/OF state-transition bits, all in
    * exactly the decoder's read order. `ofVals` are WIRE values:
    * repeated-offset codes 1–3 or `offset + 3`.
    */
  private def writeSeqSection(
      lls: Array[Int], mls: Array[Int], ofVals: Array[Long],
      n: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    if (n < 128) out.write(n)
    else if (n < 0x7F00) { out.write((n >> 8) | 0x80); out.write(n & 0xff) }
    else {
      out.write(255)
      out.write((n - 0x7F00) & 0xff); out.write(((n - 0x7F00) >> 8) & 0xff)
    }
    out.write(0) // LL/OF/ML all Predefined_Mode
    val llC = new Array[Int](n); val mlC = new Array[Int](n)
    val ofC = new Array[Int](n)
    var k = 0
    while (k < n) {
      llC(k) = llCodeOf(lls(k))
      mlC(k) = mlCodeOf(mls(k))
      ofC(k) = 63 - java.lang.Long.numberOfLeadingZeros(ofVals(k)).toInt
      if (ofC(k) > 28) throw Bail("encode-offset-range")
      k += 1
    }
    // back-chain each table's decode-state sequence: the last
    // sequence's state is free; earlier states are forced by "the next
    // state must be reachable from mine"
    def chain(enc: FseEnc, codes: Array[Int]): Array[Int] = {
      val st = new Array[Int](n)
      st(n - 1) = enc.first(codes(n - 1))
      var i = n - 2
      while (i >= 0) { st(i) = enc.next(codes(i))(st(i + 1)); i -= 1 }
      st
    }
    val llSt = chain(LlEnc, llC)
    val mlSt = chain(MlEnc, mlC)
    val ofSt = chain(OfEnc, ofC)
    val fields = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    fields += ((llSt(0).toLong, LlDefaultLog))
    fields += ((ofSt(0).toLong, OfDefaultLog))
    fields += ((mlSt(0).toLong, MlDefaultLog))
    k = 0
    while (k < n) {
      fields += ((ofVals(k) - (1L << ofC(k)), ofC(k)))
      fields += (((mls(k) - MlBase(mlC(k))).toLong, MlBits(mlC(k))))
      fields += (((lls(k) - LlBase(llC(k))).toLong, LlBits(llC(k))))
      if (k < n - 1) {
        def upd(enc: FseEnc, st: Array[Int]): (Long, Int) = {
          val cur = st(k)
          ((st(k + 1) - enc.t.base(cur)).toLong, enc.t.nbBits(cur))
        }
        fields += upd(LlEnc, llSt)
        fields += upd(MlEnc, mlSt)
        fields += upd(OfEnc, ofSt)
      }
      k += 1
    }
    out.write(packBackward(fields))
    out.toByteArray
  }

  /** Depth-limited canonical Huffman lengths (≤ 11 bits, the zstd
    * table-log cap): plain Huffman first, then the classic
    * count-per-length rebalance (each step moves one max-depth code
    * under a shorter code's sibling, shrinking the Kraft excess by
    * exactly one 2⁻¹¹ unit), lengths reassigned shortest-to-most-
    * frequent. Returns null when fewer than 2 symbols are present.
    */
  private def huffmanLens(freq: Array[Int]): Array[Int] = {
    val present = (0 until 256).filter(freq(_) > 0).toArray
    val m = present.length
    if (m < 2) return null
    // two-queue Huffman over leaves sorted by (freq, symbol)
    val leaves = present.sortBy(s => (freq(s), s))
    val weight = new Array[Long](2 * m - 1)
    val parent = new Array[Int](2 * m - 1)
    var i = 0
    while (i < m) { weight(i) = freq(leaves(i)).toLong; i += 1 }
    var leafHead = 0
    var nodeHead = m
    var nodeTail = m
    var made = 0
    while (made < m - 1) {
      def takeMin(): Int =
        if (leafHead < m &&
          (nodeHead >= nodeTail || weight(leafHead) <= weight(nodeHead))) {
          leafHead += 1; leafHead - 1
        } else { nodeHead += 1; nodeHead - 1 }
      val a = takeMin(); val b = takeMin()
      weight(nodeTail) = weight(a) + weight(b)
      parent(a) = nodeTail; parent(b) = nodeTail
      nodeTail += 1; made += 1
    }
    val lens = new Array[Int](256)
    i = 0
    while (i < m) {
      var d = 0
      var u = i
      while (u != 2 * m - 2) { u = parent(u); d += 1 }
      lens(leaves(i)) = d
      i += 1
    }
    // depth-limit to 11 preserving Kraft completeness (integer units
    // of 2^-11: the sum must land on exactly 2048)
    val blCount = new Array[Int](13)
    present.foreach(s => blCount(math.min(lens(s), 11)) += 1)
    var kraft = 0L
    for (l <- 1 to 11) kraft += blCount(l).toLong << (11 - l)
    while (kraft > 2048) {
      var l = 10
      while (l > 0 && blCount(l) == 0) l -= 1
      blCount(l) -= 1
      blCount(l + 1) += 2
      blCount(11) -= 1
      kraft -= 1
    }
    // reassign: most frequent symbols take the shortest lengths
    val byFreq = present.sortBy(s => (-freq(s).toLong, s))
    var idx = 0
    for (l <- 1 to 11; _ <- 0 until blCount(l)) {
      lens(byFreq(idx)) = l
      idx += 1
    }
    lens
  }

  /** Huffman-compress `lits(0 until len)` into a complete LITERALS
    * section (header + direct-nibble weights + 1 or 4 backward
    * streams), canonical codes in the RFC §4.2.1 weight layout.
    * Returns null when Huffman cannot beat raw literals (or the
    * alphabet's top symbol exceeds the 128-weight
    * direct-header form — binary-heavy blocks then ship raw literals
    * and still compress through matches).
    */
  /** Encode-side Huffman table: canonical codes + the serialized tree
    * description. Built per-block by the encoder, or ONCE per corpus
    * and shipped inside a structured dictionary
    * (`encodeStructuredDictTrained`) so frames can reference it via
    * TREELESS literals blocks — the tree-description bytes (the
    * dominant per-frame cost on sub-KB records) then live in the dict
    * instead of every frame.
    */
  final class HufEnc private[Zstd] (
      private[Zstd] val code: Array[Int],
      private[Zstd] val nbb: Array[Int],
      private[Zstd] val maxPresent: Int,
      private[Zstd] val desc: Array[Byte]) {
    /** Can this table encode every literal in `lits(0 until len)`? */
    private[Zstd] def covers(lits: Array[Byte], len: Int): Boolean = {
      var i = 0
      while (i < len) {
        val s = lits(i) & 0xff
        if (s > maxPresent || nbb(s) == 0) return false
        i += 1
      }
      true
    }
  }

  /** Canonical-code construction from a byte histogram (null when a
    * table is impossible or pointless — <2 symbols, or an FSE weights
    * description that fails to shrink).
    */
  private def buildHufEnc(freq: Array[Int]): HufEnc = {
    var maxPresent = 255
    while (maxPresent >= 0 && freq(maxPresent) == 0) maxPresent -= 1
    val lens = huffmanLens(freq)
    if (lens == null) return null
    var tlog = 0
    for (s <- 0 to maxPresent if freq(s) > 0) tlog = math.max(tlog, lens(s))
    // canonical codes in the RFC §4.2.1 layout: weight w = tlog+1-len,
    // longest codes (weight 1) at the low end, natural symbol order
    // within a weight; a symbol's code is the shared high-bit prefix of
    // its table range
    val w = new Array[Int](maxPresent + 1)
    for (s <- 0 to maxPresent if freq(s) > 0) w(s) = tlog + 1 - lens(s)
    val rankCount = new Array[Int](13)
    for (s <- 0 to maxPresent if w(s) > 0) rankCount(w(s)) += 1
    val rankNext = new Array[Int](13)
    var acc = 0
    for (wt <- 1 to 12) { rankNext(wt) = acc; acc += rankCount(wt) << (wt - 1) }
    val code = new Array[Int](maxPresent + 1)
    val nbb = new Array[Int](maxPresent + 1)
    for (s <- 0 to maxPresent if w(s) > 0) {
      val start = rankNext(w(s))
      rankNext(w(s)) += 1 << (w(s) - 1)
      code(s) = start >> (w(s) - 1)
      nbb(s) = tlog + 1 - w(s)
    }
    // weights description: direct nibbles for ≤ 128 explicit symbols
    // (the last present symbol's weight implied by the power-of-two
    // gap), FSE-compressed weights beyond that (RFC §4.2.1.2)
    val nExplicit = maxPresent
    val desc: Array[Byte] =
      if (nExplicit <= 128) {
        val d = new Array[Byte](1 + (nExplicit + 1) / 2)
        d(0) = (127 + nExplicit).toByte
        var i = 0
        while (i < nExplicit) {
          val nib = w(i)
          val at = 1 + i / 2
          d(at) = (if (i % 2 == 0) (d(at) | (nib << 4))
                   else (d(at) | nib)).toByte
          i += 1
        }
        d
      } else {
        val f = fseCompressWeights(w, nExplicit)
        if (f == null) return null
        f
      }
    new HufEnc(code, nbb, maxPresent, desc)
  }

  /** Huffman LITERALS section with `table`: `treeless` (type 3) skips
    * the tree description — the decoder reuses its previous table
    * (the dictionary's, at frame start). Null when the form can't
    * beat raw literals, can't represent the block (header size forms,
    * uncovered symbols), or isn't allowed.
    */
  private def hufLiteralsWith(
      lits: Array[Byte], len: Int, table: HufEnc,
      treeless: Boolean): Array[Byte] = {
    if (table == null) return null
    if (treeless && !table.covers(lits, len)) return null
    val code = table.code
    val nbb = table.nbb
    val desc: Array[Byte] =
      if (treeless) Array.emptyByteArray else table.desc
    def streamBytes(from: Int, until: Int): Array[Byte] = {
      val fields = new scala.collection.mutable.ArrayBuffer[(Long, Int)](until - from)
      var j = from
      while (j < until) {
        val s = lits(j) & 0xff
        fields += ((code(s).toLong, nbb(s)))
        j += 1
      }
      packBackward(fields)
    }
    val fourStream = len >= 256
    val streams: Array[Array[Byte]] =
      if (!fourStream) Array(streamBytes(0, len))
      else {
        val per = (len + 3) / 4
        Array(streamBytes(0, per), streamBytes(per, 2 * per),
          streamBytes(2 * per, 3 * per), streamBytes(3 * per, len))
      }
    // Compressed_Size counts EVERYTHING after the literals header:
    // tree description + jump table + streams (RFC §3.1.1.3.1.1)
    val cmpSize = desc.length + streams.map(_.length).sum +
      (if (fourStream) 6 else 0)
    val regen = len
    // header: type 2 (fresh tree) or 3 (treeless), the smallest
    // size-format that fits both fields
    val tpe = if (treeless) 3L else 2L
    val hdr = new java.io.ByteArrayOutputStream()
    if (!fourStream && regen < 1024 && cmpSize < 1024) {
      val v = tpe | (0L << 2) | (regen.toLong << 4) | (cmpSize.toLong << 14)
      hdr.write((v & 0xff).toInt); hdr.write(((v >> 8) & 0xff).toInt)
      hdr.write(((v >> 16) & 0xff).toInt)
    } else if (fourStream && regen < 1024 && cmpSize < 1024) {
      val v = tpe | (1L << 2) | (regen.toLong << 4) | (cmpSize.toLong << 14)
      hdr.write((v & 0xff).toInt); hdr.write(((v >> 8) & 0xff).toInt)
      hdr.write(((v >> 16) & 0xff).toInt)
    } else if (fourStream && regen < 16384 && cmpSize < 16384) {
      val v = tpe | (2L << 2) | (regen.toLong << 4) | (cmpSize.toLong << 18)
      hdr.write((v & 0xff).toInt); hdr.write(((v >> 8) & 0xff).toInt)
      hdr.write(((v >> 16) & 0xff).toInt); hdr.write(((v >> 24) & 0xff).toInt)
    } else if (fourStream && regen < 262144 && cmpSize < 262144) {
      val v = tpe | (3L << 2) | (regen.toLong << 4) | (cmpSize.toLong << 22)
      hdr.write((v & 0xff).toInt); hdr.write(((v >> 8) & 0xff).toInt)
      hdr.write(((v >> 16) & 0xff).toInt); hdr.write(((v >> 24) & 0xff).toInt)
      hdr.write(((v >> 32) & 0xff).toInt)
    } else return null
    val total = hdr.size() + cmpSize
    val rawCost = len + (if (len <= 31) 1 else if (len <= 4095) 2 else 3)
    if (total >= rawCost) return null
    val out = new java.io.ByteArrayOutputStream(total)
    hdr.writeTo(out)
    out.write(desc)
    if (fourStream) {
      for (k <- 0 until 3) {
        out.write(streams(k).length & 0xff)
        out.write((streams(k).length >> 8) & 0xff)
      }
    }
    streams.foreach(out.write)
    out.toByteArray
  }

  /** Raw (or RLE when uniform) LITERALS section. */
  private def rawLiteralsSection(lits: Array[Byte], len: Int): Array[Byte] = {
    var rle = len >= 2
    var i = 1
    while (rle && i < len) { rle = lits(i) == lits(0); i += 1 }
    val ltype = if (rle) 1 else 0
    val out = new java.io.ByteArrayOutputStream()
    if (len <= 31) out.write((len << 3) | ltype)
    else if (len <= 4095) {
      out.write(((len & 0xF) << 4) | (1 << 2) | ltype)
      out.write(len >> 4)
    } else {
      out.write(((len & 0xF) << 4) | (3 << 2) | ltype)
      out.write((len >> 4) & 0xff)
      out.write((len >> 12) & 0xff)
    }
    if (rle) out.write(lits(0) & 0xff)
    else out.write(lits, 0, len)
    out.toByteArray
  }

  /** Cheapest valid LITERALS section among raw/RLE, a fresh per-block
    * Huffman table, and TREELESS (reusing `prev` — the dictionary's
    * table at frame start, or the last fresh table this frame).
    * Returns the section plus the fresh table IF the fresh form won
    * (the caller updates its prev-table state only when the block
    * actually ships compressed — a block that loses to raw never
    * changes the decoder's table state).
    */
  private def literalsSection(
      lits: Array[Byte], len: Int, prev: HufEnc): (Array[Byte], HufEnc) = {
    if (len == 0) return (Array(0.toByte), null) // raw, size 0
    var uniform = true
    var i = 1
    while (uniform && i < len) { uniform = lits(i) == lits(0); i += 1 }
    if (uniform) return (rawLiteralsSection(lits, len), null)
    val freq = new Array[Int](256)
    i = 0
    while (i < len) { freq(lits(i) & 0xff) += 1; i += 1 }
    val freshT = buildHufEnc(freq)
    val fresh = hufLiteralsWith(lits, len, freshT, treeless = false)
    val tree = hufLiteralsWith(lits, len, prev, treeless = true)
    val raw = rawLiteralsSection(lits, len)
    var best = raw
    var won: HufEnc = null
    if (tree != null && tree.length < best.length) { best = tree; won = null }
    if (fresh != null && fresh.length < best.length) {
      best = fresh; won = freshT
    }
    (best, won)
  }

  private val EncMaxInput = 1 << 26 // 64 MiB: executor-thread cap
  private val EncBlock = 1 << 17 // 128 KiB: Block_Maximum_Size
  private val EncMaxDist = 1 << 27 // keeps every offset code ≤ 27
  private val EncChainDepth = 64
  private val EncMinMatch = 4

  /** General zstd COMPRESSION (RFC 8878): hash-chain LZ77 over the
    * whole frame (windows span block boundaries; a supplied `dict`
    * extends the window backward as the §5 content prefix), greedy
    * parse with one-position lazy evaluation, literals through a
    * per-block canonical Huffman table, sequences through the
    * predefined FSE tables. Every block is emitted at the cheaper of
    * compressed/raw (RLE when uniform), so output never exceeds input
    * by more than the frame+block framing. Single-segment frame;
    * `dictId != 0` writes the Dictionary_ID field (decoders must then
    * be handed the dictionary). A non-empty `dict` with `dictId == 0`
    * is RAW-PREFIX mode (RFC 8878 §5 content-only prefix): no
    * Dictionary_ID field is written, so the frame is decodable only
    * by a decoder handed the same prefix out-of-band — deliberate,
    * not an omission; standard `zstd -d` without `-D` refuses such
    * frames.
    *
    * Verification: round-tripped by `decode` across the spec matrix
    * AND decoded byte-exact by foreign libzstd via ctypes
    * (`tools/verify_zstd_encoder.py`, run recorded in its header).
    */
  def encode(
      data: Array[Byte], dict: Array[Byte] = Array.emptyByteArray,
      dictId: Long = 0L, checksum: Boolean = false,
      dictHuf: HufEnc = null): Array[Byte] = {
    require(data.length <= EncMaxInput, "encode input exceeds 64 MiB cap")
    require(dict.length <= EncMaxInput, "dict exceeds 64 MiB cap")
    val base = dict.length
    val buf =
      if (base == 0) data
      else {
        val b = new Array[Byte](base + data.length)
        System.arraycopy(dict, 0, b, 0, base)
        System.arraycopy(data, 0, b, base, data.length)
        b
      }
    val n = buf.length
    val bos = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    // frame header: magic, single-segment descriptor, optional dict id,
    // FCS over the DATA only (the dict is window prefix, not content)
    bos.write(0x28); bos.write(0xB5); bos.write(0x2F); bos.write(0xFD)
    val contentSize = data.length.toLong
    val fcsCode =
      if (contentSize <= 255) 0
      else if (contentSize <= 65535L + 256) 1
      else 2
    val dictFlag = if (dictId == 0) 0 else 3
    val ckFlag = if (checksum) 0x04 else 0
    bos.write((fcsCode << 6) | 0x20 | ckFlag | dictFlag)
    if (dictFlag == 3) {
      bos.write((dictId & 0xff).toInt); bos.write(((dictId >> 8) & 0xff).toInt)
      bos.write(((dictId >> 16) & 0xff).toInt)
      bos.write(((dictId >> 24) & 0xff).toInt)
    }
    fcsCode match {
      case 0 => bos.write(contentSize.toInt)
      case 1 =>
        val v = (contentSize - 256).toInt
        bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
      case _ =>
        bos.write((contentSize & 0xff).toInt)
        bos.write(((contentSize >> 8) & 0xff).toInt)
        bos.write(((contentSize >> 16) & 0xff).toInt)
        bos.write(((contentSize >> 24) & 0xff).toInt)
    }
    def writeChecksum(): Unit = if (checksum) {
      val h = xxh64Low32(data)
      bos.write((h & 0xff).toInt); bos.write(((h >> 8) & 0xff).toInt)
      bos.write(((h >> 16) & 0xff).toInt); bos.write(((h >> 24) & 0xff).toInt)
    }
    if (data.length == 0) {
      bos.write(1); bos.write(0); bos.write(0) // last raw block, size 0
      writeChecksum()
      return bos.toByteArray
    }
    // previous-table state for TREELESS literals: starts at the
    // dictionary's trained table (when the caller shipped one in a
    // structured dict), advances to each fresh per-block table that
    // actually ships — mirroring the decoder's hufPrev exactly
    var hufPrev: HufEnc = dictHuf
    // hash chains over the whole buffer (dict prefix preloaded so
    // matches reach into it); table sized to the input
    var hashLog = 10
    while (hashLog < 17 && (1 << hashLog) < n) hashLog += 1
    val head = Array.fill(1 << hashLog)(-1)
    val chain = new Array[Int](n)
    def hash4(p: Int): Int = {
      val v = (buf(p) & 0xff) | ((buf(p + 1) & 0xff) << 8) |
        ((buf(p + 2) & 0xff) << 16) | ((buf(p + 3) & 0xff) << 24)
      (v * 0x9E3779B1) >>> (32 - hashLog)
    }
    def insert(p: Int): Unit =
      if (p + 4 <= n) { val h = hash4(p); chain(p) = head(h); head(h) = p }
    var p0 = 0
    while (p0 < base) { insert(p0); p0 += 1 }
    // (bestLen << 32) | offset, 0 when none
    def findMatch(p: Int, limit: Int): Long = {
      if (p + EncMinMatch > limit) return 0L
      var cand = head(hash4(p))
      var depth = EncChainDepth
      var bestLen = EncMinMatch - 1
      var bestOff = 0
      val maxLen = limit - p
      while (cand >= 0 && depth > 0 && p - cand <= EncMaxDist &&
        bestLen < maxLen) {
        // quick reject: the byte that would extend the current best
        if (cand + bestLen < n && buf(cand + bestLen) == buf(p + bestLen)) {
          var l = 0
          while (l < maxLen && buf(cand + l) == buf(p + l)) l += 1
          if (l > bestLen) { bestLen = l; bestOff = p - cand }
        }
        cand = chain(cand)
        depth -= 1
      }
      if (bestOff == 0) 0L else (bestLen.toLong << 32) | bestOff.toLong
    }
    // repeated-offset state mirrors the decoder's exactly (RFC
    // §3.1.1.5 initial values; updates below match decode's quirk
    // table including the literals_length-0 shift)
    val reps = Array(1L, 4L, 8L)
    def matchLenAt(p: Int, dist: Long, limit: Int): Int = {
      val cand = p - dist.toInt
      if (cand < 0 || dist <= 0 || dist > p.toLong) return 0
      var l = 0
      val maxLen = limit - p
      while (l < maxLen && buf(cand + l) == buf(p + l)) l += 1
      l
    }
    var segStart = base
    while (segStart < n) {
      val segEnd = math.min(segStart + EncBlock, n)
      val segLen = segEnd - segStart
      val lastBlock = segEnd == n
      // parse this block's content (matching against the whole window)
      val lls = new scala.collection.mutable.ArrayBuffer[Int]()
      val mls = new scala.collection.mutable.ArrayBuffer[Int]()
      val ofVals = new scala.collection.mutable.ArrayBuffer[Long]()
      val lits = new Array[Byte](segLen)
      var litLen = 0
      var anchor = segStart
      var p = segStart
      while (p < segEnd) {
        var m = findMatch(p, segEnd)
        // repeated offsets: cheaper on the wire (0–1 extra bits), so a
        // rep match within 1 byte of the best chain match wins; which
        // reps are addressable depends on the pending literal run
        val ll0 = p - anchor
        var repLen = 0
        var repVal = 0L
        // with a pending literal run, wire values 1..3 address
        // rep0..rep2; at ll == 0 the decoder shifts the index, so 1..2
        // address rep1..rep2 and rep0 is unreachable
        var ri = if (ll0 == 0) 1 else 0
        var slot = 1L
        while (ri < 3) {
          val l = matchLenAt(p, reps(ri), segEnd)
          if (l > repLen) { repLen = l; repVal = slot }
          ri += 1
          slot += 1
        }
        if (repLen >= EncMinMatch && repLen + 1 >= (m >>> 32).toInt) {
          // emit the rep match (no lazy step: reps stay cheap)
          System.arraycopy(buf, anchor, lits, litLen, ll0)
          litLen += ll0
          lls += ll0; mls += repLen; ofVals += repVal
          // decoder-mirrored rep update
          val idx = repVal.toInt + (if (ll0 == 0) 1 else 0)
          idx match {
            case 1 => ()
            case 2 =>
              val d = reps(1); reps(1) = reps(0); reps(0) = d
            case _ =>
              val d = reps(2); reps(2) = reps(1); reps(1) = reps(0)
              reps(0) = d
          }
          val stop = p + repLen
          while (p < stop) { insert(p); p += 1 }
          anchor = p
          m = 0L
        } else if (m == 0L) { insert(p); p += 1 }
        else {
          // lazy-1: a strictly longer match one byte later wins
          if (p + 1 < segEnd) {
            val m2 = findMatch(p + 1, segEnd)
            if ((m2 >>> 32) > (m >>> 32)) { insert(p); p += 1; m = 0L }
          }
          if (m != 0L) {
            val len = (m >>> 32).toInt
            val off = m & 0xFFFFFFFFL
            val ll = p - anchor
            System.arraycopy(buf, anchor, lits, litLen, ll)
            litLen += ll
            lls += ll; mls += len; ofVals += (off + 3)
            reps(2) = reps(1); reps(1) = reps(0); reps(0) = off
            val stop = p + len
            while (p < stop) { insert(p); p += 1 }
            anchor = p
          }
        }
      }
      val tail = segEnd - anchor
      System.arraycopy(buf, anchor, lits, litLen, tail)
      litLen += tail
      // assemble the cheapest valid block
      val nSeq = lls.length
      val (ls, freshT) = literalsSection(lits, litLen, hufPrev)
      val blkBytes: Array[Byte] =
        if (nSeq == 0) {
          val b = new Array[Byte](ls.length + 1)
          System.arraycopy(ls, 0, b, 0, ls.length)
          b(ls.length) = 0 // nbSeq = 0
          b
        } else {
          val ss = writeSeqSection(lls.toArray, mls.toArray, ofVals.toArray, nSeq)
          val b = new Array[Byte](ls.length + ss.length)
          System.arraycopy(ls, 0, b, 0, ls.length)
          System.arraycopy(ss, 0, b, ls.length, ss.length)
          b
        }
      val lastBit = if (lastBlock) 1 else 0
      var uniform = true
      var i = segStart + 1
      while (uniform && i < segEnd) { uniform = buf(i) == buf(segStart); i += 1 }
      if (uniform && segLen >= 4) {
        // RLE block: regenerated size on the wire, one content byte
        val hdr = lastBit | (1 << 1) | (segLen << 3)
        bos.write(hdr & 0xff); bos.write((hdr >> 8) & 0xff)
        bos.write((hdr >> 16) & 0xff)
        bos.write(buf(segStart) & 0xff)
      } else if (blkBytes.length < segLen) {
        val hdr = lastBit | (2 << 1) | (blkBytes.length << 3)
        bos.write(hdr & 0xff); bos.write((hdr >> 8) & 0xff)
        bos.write((hdr >> 16) & 0xff)
        bos.write(blkBytes)
        // the decoder's previous-table state advances only when a
        // fresh-tree literals section actually ships
        if (freshT != null) hufPrev = freshT
      } else {
        val hdr = lastBit | (segLen << 3) // raw
        bos.write(hdr & 0xff); bos.write((hdr >> 8) & 0xff)
        bos.write((hdr >> 16) & 0xff)
        bos.write(buf, segStart, segLen)
      }
      segStart = segEnd
    }
    writeChecksum()
    bos.toByteArray
  }
}
