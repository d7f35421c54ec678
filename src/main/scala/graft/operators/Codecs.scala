package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, EOFException, InputStream, OutputStream}

import scala.util.control.NonFatal

import com.github.luben.zstd.{ZstdException, ZstdIOException}
import net.jpountz.lz4.LZ4FrameOutputStream
import org.apache.commons.compress.compressors.bzip2.{BZip2CompressorInputStream, BZip2CompressorOutputStream}
import org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorInputStream
import org.tukaani.xz.{DeltaOptions, FilterOptions, LZMA2Options, MemoryLimitException, UnsupportedOptionsException, X86Options, XZInputStream, XZOutputStream}

/** xz, bzip2 and LZ4 archive codecs over the libraries Spark ships
  * (xz-java, commons-compress, lz4-java), behind one bounded reader.
  *
  * Error as value: a decode returns Left(reason) on any malformed,
  * truncated, checksum-failing or over-cap input — never a throw,
  * never partial output. The reader pulls at most `maxOut + 1` bytes,
  * so an input that inflates past the cap costs `maxOut`, not the bomb.
  * xz streams declare their dictionary size up front; the decoder's
  * memory limit is derived from `maxOut`, so a header asking for more
  * than the cap can use is refused before anything is allocated.
  *
  * The foreign fixtures under `src/test/resources/{xz,bzip2,lz4}` are
  * the parity gate for the decoders.
  */
object Codecs {

  val DefaultCap: Int = 1 << 26

  private object OverCap extends RuntimeException(null, null, false, false)

  /** Read `in` to its end; throws past `maxOut` bytes. */
  private def readAtMost(in: InputStream, maxOut: Int): Array[Byte] = {
    val out = in.readNBytes(math.min(maxOut.toLong + 1, Int.MaxValue - 8).toInt)
    if (out.length > maxOut) throw OverCap
    out
  }

  /** The one bounded reader: `open`'s stream to its end, at most
    * `maxOut` bytes; library failures map to the typed reasons callers
    * and specs match on.
    */
  private[graft] def bounded(maxOut: Int)(open: => InputStream): Either[String, Array[Byte]] =
    try {
      val in = open
      try Right(readAtMost(in, maxOut)) finally in.close()
    } catch { case NonFatal(e) => Left(reason(e)) }

  private[graft] def reason(e: Throwable): String = e match {
    case OverCap | _: MemoryLimitException => "output-cap"
    case _: UnsupportedOptionsException => "unsupported-filter"
    case x: ZstdException => Zstd.errorReason(x.getErrorCode)
    case x: ZstdIOException => Zstd.errorReason(x.getErrorCode)
    case _: EOFException => "truncated"
    case x if String.valueOf(x.getMessage).startsWith("content checksum") =>
      "content-checksum"
    case _ => "malformed"
  }

  // ------------------------------------------------------------------ xz

  /** LZMA2 decoder state beside the dictionary (xz-java's
    * `LZMA2InputStream.getMemoryUsage` is the dictionary plus 104 KiB);
    * 1 MiB leaves room for the BCJ and delta filters.
    */
  private val XzStateKiB = 1024

  /** Decode a complete `.xz` input: concatenated streams, stream
    * padding, every check type, BCJ and delta filters.
    */
  def xzDecode(b: Array[Byte], maxOut: Int = DefaultCap): Either[String, Array[Byte]] =
    bounded(maxOut)(new XZInputStream(new ByteArrayInputStream(b), maxOut / 1024 + XzStateKiB))

  /** Write one `.xz` stream (CRC64 check). `deltaDist` > 0 prepends a
    * delta filter and `bcj` an x86 BCJ filter, in the encode order
    * delta → x86 → LZMA2; `stored` keeps the payload in uncompressed
    * LZMA2 chunks. The dictionary is sized to the input, so the reader
    * allocates no more than the data needs.
    */
  def xzEncode(
      data: Array[Byte], bcj: Boolean = false, deltaDist: Int = 0,
      stored: Boolean = false): Array[Byte] = {
    require(deltaDist >= 0 && deltaDist <= 256, "delta dist 1..256")
    // preset 1 (fast mode, HC4 match finder): a per-row writer pays the
    // encoder's set-up on every call, which at preset 6 costs ~5x more
    val lzma2 = new LZMA2Options(1)
    lzma2.setDictSize(math.max(LZMA2Options.DICT_SIZE_MIN, math.min(data.length, 1 << 20)))
    if (stored) lzma2.setMode(LZMA2Options.MODE_UNCOMPRESSED)
    val filters = Seq[Option[FilterOptions]](
      Option.when(deltaDist > 0)(new DeltaOptions(deltaDist)),
      Option.when(bcj)(new X86Options()),
      Some(lzma2)).flatten.toArray
    val bos = new ByteArrayOutputStream(data.length / 2 + 64)
    val xz = new XZOutputStream(bos, filters)
    if (!stored) xz.write(data)
    else {
      // xz-java 1.10's uncompressed mode corrupts every LZMA2 chunk
      // after a block's first, so the stored writer ends a block per
      // 64 KiB chunk
      var p = 0
      while (p < data.length) {
        val n = math.min(1 << 16, data.length - p)
        xz.write(data, p, n)
        xz.endBlock()
        p += n
      }
    }
    xz.close()
    bos.toByteArray
  }

  private def write(data: Array[Byte])(open: OutputStream => OutputStream): Array[Byte] = {
    val bos = new ByteArrayOutputStream(data.length / 2 + 64)
    val out = open(bos)
    out.write(data)
    out.close()
    bos.toByteArray
  }

  // --------------------------------------------------------------- bzip2

  /** Decode a complete `.bz2` input, concatenated streams joined. */
  def bzip2Decode(b: Array[Byte], maxOut: Int = DefaultCap): Either[String, Array[Byte]] =
    bounded(maxOut)(new BZip2CompressorInputStream(new ByteArrayInputStream(b), true))

  /** Per-STREAM decode of a (possibly concatenated) `.bz2` input — the
    * multistream dump walk, where each stream is an independently
    * seekable batch and the boundaries carry meaning. Each stream is
    * opened alone and the next starts where its compressed bytes end;
    * `maxOut` caps the total.
    */
  def bzip2Streams(
      b: Array[Byte], maxOut: Int = DefaultCap): Either[String, Seq[Array[Byte]]] =
    if (b.isEmpty) Left("truncated")
    else try {
      val parts = Seq.newBuilder[Array[Byte]]
      var off = 0
      var left = maxOut
      while (off < b.length) {
        val in = new BZip2CompressorInputStream(
          new ByteArrayInputStream(b, off, b.length - off), false)
        try {
          val part = readAtMost(in, left)
          parts += part
          left -= part.length
          off += in.getCompressedCount.toInt
        } finally in.close()
      }
      Right(parts.result())
    } catch { case NonFatal(e) => Left(reason(e)) }

  def bzip2Encode(data: Array[Byte]): Array[Byte] =
    write(data)(new BZip2CompressorOutputStream(_,
      BZip2CompressorOutputStream.chooseBlockSize(data.length.toLong)))

  // ----------------------------------------------------------------- LZ4

  /** Decode a complete LZ4 input: data frames (linked or independent
    * blocks, both checksum kinds), skippable frames, concatenation.
    */
  def lz4Decode(b: Array[Byte], maxOut: Int = DefaultCap): Either[String, Array[Byte]] =
    bounded(maxOut)(new FramedLZ4CompressorInputStream(new ByteArrayInputStream(b), true))

  /** One LZ4 frame: independent 64 KiB blocks with a content checksum,
    * so truncation and corruption are both detectable. Written with
    * lz4-java, whose block compressor is over 10x faster than
    * commons-compress's on 20 KB shards.
    */
  def lz4Encode(data: Array[Byte]): Array[Byte] =
    write(data)(new LZ4FrameOutputStream(_, LZ4FrameOutputStream.BLOCKSIZE.SIZE_64KB,
      LZ4FrameOutputStream.FLG.Bits.BLOCK_INDEPENDENCE,
      LZ4FrameOutputStream.FLG.Bits.CONTENT_CHECKSUM))
}
