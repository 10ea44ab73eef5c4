package graft.core

import java.io.{EOFException, IOException, InputStream}

/** Pure-Scala Brotli (RFC 7932) decoder.
  *
  * The reference decodes `Content-Encoding: br` HTTP bodies and `.br`
  * WARC streams through the native brotli library
  * (fastwarc-py/fastwarc/warc.pyx:826, stream_io.pyx:771-856). No JVM
  * brotli codec ships with Spark, so this is a from-scratch
  * implementation of the format: stream/meta-block headers, canonical
  * prefix codes (simple + complex descriptors with run-length encoded
  * code lengths), block-type switching for all three categories, literal
  * context modeling, context maps with inverse move-to-front, the
  * ring-buffer distance cache, and static-dictionary references with the
  * 121 word transforms.
  *
  * The three standardized data artifacts the format fixes — the
  * 122,784-byte static dictionary (RFC 7932 Appendix A), the 2,048-byte
  * context lookup table (section 7.1) and the transform list
  * (Appendix B) — are loaded from resources extracted from the canonical
  * C library by `tools/extract_brotli_data.py` (public spec data, like
  * the WHATWG encoding table in [[Encodings]]).
  *
  * Decoding is streaming on both sides: input bytes are pulled from the
  * underlying stream on demand and output is produced through
  * [[BrotliInputStream.read]] with only the sliding window (at most
  * 16 MiB, usually 4 MiB) buffered — a multi-GB `.br` archive never
  * materializes.
  */
object Brotli {

  final class BrotliException(msg: String) extends IOException(msg)

  // — standardized data artifacts (see tools/extract_brotli_data.py) —

  private def resource(name: String, expect: Int): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/graft/$name")
    if (in == null) throw new IllegalStateException(s"missing resource $name")
    try {
      val buf = in.readAllBytes()
      require(buf.length == expect, s"$name: ${buf.length} bytes, want $expect")
      buf
    } finally in.close()
  }

  private[core] lazy val dictData: Array[Byte] = resource("brotli_dict.bin", 122784)

  /** NWORDS[len] = 1 << sizeBits(len), word lengths 4..24 (RFC 7932 §8). */
  private val sizeBits: Array[Int] = Array(
    0, 0, 0, 0, 10, 10, 11, 11, 10, 10, 10, 10, 10, 9, 9, 8, 7, 7, 8, 7, 7,
    6, 6, 5, 5)
  private val dictOffset: Array[Int] = {
    // lengths 0-3 carry no words at all (NWORDS = 0, not 1<<0)
    val off = new Array[Int](26)
    var i = 4
    while (i < 25) { off(i + 1) = off(i) + (i << sizeBits(i)); i += 1 }
    require(off(25) == 122784, s"dictionary offset table: ${off(25)}")
    off
  }

  /** 4 context modes x (256 p1-lut + 256 p2-lut); ctx = lut[p1]|lut2[p2]. */
  private lazy val contextLut: Array[Byte] = resource("brotli_context.bin", 2048)

  /** (prefix, op, suffix) word transforms; op 0=id, 1=ferment-first,
    * 2=ferment-all, 10+n=omit-first-n, 20+n=omit-last-n.
    */
  private lazy val transforms: Array[(Array[Byte], Int, Array[Byte])] = {
    val b = resource("brotli_transforms.bin", 649)
    val n = b(0) & 0xff
    val out = new Array[(Array[Byte], Int, Array[Byte])](n)
    var p = 1
    var i = 0
    while (i < n) {
      val pl = b(p) & 0xff; p += 1
      val prefix = java.util.Arrays.copyOfRange(b, p, p + pl); p += pl
      val op = b(p) & 0xff; p += 1
      val sl = b(p) & 0xff; p += 1
      val suffix = java.util.Arrays.copyOfRange(b, p, p + sl); p += sl
      out(i) = (prefix, op, suffix)
      i += 1
    }
    require(p == b.length, "transform data trailing bytes")
    out
  }

  // — fixed code tables (RFC 7932 §5, §6, §9.2) —

  private[core] val InsExtra: Array[Int] = Array(
    0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 7, 8, 9, 10, 12, 14, 24)
  private[core] val InsBase: Array[Int] = {
    val a = new Array[Int](24)
    var i = 1
    while (i < 24) { a(i) = a(i - 1) + (1 << InsExtra(i - 1)); i += 1 }
    a
  }
  private[core] val CopyExtra: Array[Int] = Array(
    0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 7, 8, 9, 10, 24)
  private[core] val CopyBase: Array[Int] = {
    val a = new Array[Int](24)
    a(0) = 2
    var i = 1
    while (i < 24) { a(i) = a(i - 1) + (1 << CopyExtra(i - 1)); i += 1 }
    a
  }
  /** Command-symbol cell -> (insert range start, copy range start). */
  private val InsertRangeLut = Array(0, 0, 8, 8, 0, 16, 8, 16, 16)
  private val CopyRangeLut = Array(0, 8, 0, 8, 16, 0, 16, 8, 16)

  /** Block-count code: symbol -> (offset, extra bits). */
  private val BlockLenOffset = Array(
    1, 5, 9, 13, 17, 25, 33, 41, 49, 65, 81, 97, 113, 145, 177, 209, 241,
    305, 369, 497, 753, 1265, 2289, 4337, 8433, 16625)
  private val BlockLenBits = Array(
    2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 6, 6, 7, 8, 9, 10, 11,
    12, 13, 24)

  /** Order in which code-length-code lengths appear (RFC 7932 §3.5). */
  private val CodeLengthOrder = Array(
    1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10, 11, 12, 13, 14, 15)
  /** Fixed prefix code for the code-length alphabet: 4-bit peek ->
    * (consumed bits, value).
    */
  private val ClcLen = Array(2, 2, 2, 3, 2, 2, 2, 4, 2, 2, 2, 3, 2, 2, 2, 4)
  private val ClcValue = Array(0, 4, 3, 2, 0, 4, 3, 1, 0, 4, 3, 2, 0, 4, 3, 5)

  /** One-shot decode with an output cap. */
  def decode(data: Array[Byte], maxOutput: Long = 1L << 30): Array[Byte] = {
    val in = new BrotliInputStream(new java.io.ByteArrayInputStream(data), maxOutput)
    try in.readAllBytes() finally in.close()
  }

  // — canonical prefix code, decoded bit by bit (first bit read is the
  //   most significant bit of the code, RFC 7932 §3.1) —

  private[core] final class PrefixCode(
      val counts: Array[Int], // counts(len) for len 1..15
      val symbols: Array[Int],
      val single: Int) { // >= 0: zero-bit single-symbol code

    def readSym(br: BitReader): Int = {
      if (single >= 0) return single
      var code = 0
      var first = 0
      var idx = 0
      var len = 1
      while (len <= 15) {
        code = (code << 1) | br.readBit()
        val cnt = counts(len)
        if (code - first < cnt) return symbols(idx + code - first)
        idx += cnt
        first = (first + cnt) << 1
        len += 1
      }
      throw new BrotliException("invalid prefix code read")
    }
  }

  private[core] object PrefixCode {
    /** Build from per-symbol code lengths (0 = unused). Brotli requires
      * complete codes; over- or under-subscription is an error.
      */
    def fromLengths(lengths: Array[Int]): PrefixCode = {
      val counts = new Array[Int](16)
      var nUsed = 0
      var lastSym = -1
      var i = 0
      while (i < lengths.length) {
        val l = lengths(i)
        if (l < 0 || l > 15) throw new BrotliException("bad code length")
        if (l > 0) { counts(l) += 1; nUsed += 1; lastSym = i }
        i += 1
      }
      if (nUsed == 0) throw new BrotliException("empty prefix code")
      if (nUsed == 1) return new PrefixCode(counts, Array(lastSym), lastSym)
      // completeness check over a 15-bit space
      var space = 0
      var len = 1
      while (len <= 15) {
        space += counts(len) << (15 - len)
        len += 1
      }
      if (space != (1 << 15)) throw new BrotliException("prefix code not complete")
      val offsets = new Array[Int](16)
      var acc = 0
      len = 1
      while (len <= 15) { offsets(len) = acc; acc += counts(len); len += 1 }
      val symbols = new Array[Int](nUsed)
      i = 0
      while (i < lengths.length) {
        if (lengths(i) > 0) { symbols(offsets(lengths(i))) = i; offsets(lengths(i)) += 1 }
        i += 1
      }
      new PrefixCode(counts, symbols, -1)
    }

    /** Simple-code length patterns (RFC 7932 §3.4). Lengths attach to the
      * LISTED symbol positions (the first listed symbol takes the short
      * code); canonical construction then orders equal-length symbols by
      * value, which is exactly the spec's "in increasing order" rule.
      */
    def simple(syms: Array[Int], treeSelect: Boolean): PrefixCode = {
      if (syms.length == 1)
        return new PrefixCode(new Array[Int](16), Array(syms(0)), syms(0))
      val lens = new Array[Int](syms.max + 1)
      syms.length match {
        case 2 => lens(syms(0)) = 1; lens(syms(1)) = 1
        case 3 => lens(syms(0)) = 1; lens(syms(1)) = 2; lens(syms(2)) = 2
        case 4 =>
          if (treeSelect) {
            lens(syms(0)) = 1; lens(syms(1)) = 2
            lens(syms(2)) = 3; lens(syms(3)) = 3
          } else syms.foreach(s => lens(s) = 2)
        case _ => throw new BrotliException("bad simple code")
      }
      fromLengths(lens)
    }
  }

  // — bit reader: LSB-first over a pull stream —

  private[core] final class BitReader(in: InputStream) {
    private var bitBuf: Long = 0L
    private var bitCnt: Int = 0
    private var eof = false
    // set when the virtual zero pad byte below has been injected: those 8
    // bits may satisfy final-meta-block FLAG reads, but must never be
    // served as DATA by readBytes (a truncated stream would otherwise
    // fabricate a 0x00 payload byte instead of failing)
    private var padInjected = false

    private def fill(need: Int): Unit = {
      while (bitCnt < need) {
        val b = in.read()
        if (b < 0) {
          if (eof) throw new EOFException("truncated brotli stream")
          // one virtual zero byte of padding is tolerated so final
          // meta-block flags ending mid-byte can complete
          eof = true
          padInjected = true
          bitCnt += 8
        } else {
          bitBuf |= (b.toLong & 0xff) << bitCnt
          bitCnt += 8
        }
      }
    }

    def readBit(): Int = {
      fill(1)
      val v = (bitBuf & 1L).toInt
      bitBuf >>>= 1
      bitCnt -= 1
      v
    }

    def readBits(n: Int): Int = {
      if (n == 0) return 0
      fill(n)
      val v = (bitBuf & ((1L << n) - 1)).toInt
      bitBuf >>>= n
      bitCnt -= n
      v
    }

    def peekBits(n: Int): Int = {
      fill(n)
      (bitBuf & ((1L << n) - 1)).toInt
    }

    def skipBits(n: Int): Unit = {
      fill(n)
      bitBuf >>>= n
      bitCnt -= n
    }

    def alignToByte(): Unit = {
      val drop = bitCnt & 7
      if ((bitBuf & ((1L << drop) - 1)) != 0)
        throw new BrotliException("non-zero padding bits")
      bitBuf >>>= drop
      bitCnt -= drop
    }

    /** Byte-aligned raw copy (uncompressed meta-blocks, metadata skip). */
    def readBytes(dst: Array[Byte], off: Int, len: Int): Unit = {
      require((bitCnt & 7) == 0, "not byte aligned")
      var o = off
      var remaining = len
      while (bitCnt > 0 && remaining > 0) {
        // the virtual pad byte is always the most recently filled (top)
        // byte; once only it remains, serving it would fabricate data
        if (padInjected && bitCnt <= 8)
          throw new EOFException("truncated brotli stream")
        dst(o) = (bitBuf & 0xff).toByte
        bitBuf >>>= 8
        bitCnt -= 8
        o += 1
        remaining -= 1
      }
      while (remaining > 0) {
        val n = in.read(dst, o, remaining)
        if (n < 0) throw new EOFException("truncated brotli stream")
        o += n
        remaining -= n
      }
    }
  }

  // — helpers shared with BrotliInputStream —

  private[core] def decodeWindowBits(br: BitReader): Int = {
    if (br.readBits(1) == 0) return 16
    var n = br.readBits(3)
    if (n != 0) return 17 + n
    n = br.readBits(3)
    if (n != 0) {
      if (n == 1) throw new BrotliException("reserved window bits")
      return 8 + n
    }
    17
  }

  /** NBLTYPES / NTREES encoding (RFC 7932 §9.2): 1..256. */
  private[core] def decodeVarLenUint8(br: BitReader): Int = {
    if (br.readBits(1) == 0) return 1
    val n = br.readBits(3)
    if (n == 0) 2 else (1 << n) + br.readBits(n) + 1
  }

  /** Read a prefix code descriptor (RFC 7932 §3.4-3.5). */
  private[core] def readPrefixCode(br: BitReader, alphabetSize: Int): PrefixCode = {
    val hskip = br.readBits(2)
    if (hskip == 1) {
      // simple code: 1-4 explicit symbols
      val nsym = br.readBits(2) + 1
      var alphabetBits = 0
      while ((1 << alphabetBits) < alphabetSize) alphabetBits += 1
      val syms = new Array[Int](nsym)
      var i = 0
      while (i < nsym) {
        val s = br.readBits(alphabetBits)
        if (s >= alphabetSize) throw new BrotliException("symbol out of range")
        var j = 0
        while (j < i) {
          if (syms(j) == s) throw new BrotliException("duplicate simple symbol")
          j += 1
        }
        syms(i) = s
        i += 1
      }
      val treeSelect = nsym == 4 && br.readBits(1) == 1
      PrefixCode.simple(syms, treeSelect)
    } else {
      // complex code: code lengths themselves prefix-coded
      val clcLengths = new Array[Int](18)
      var space = 0
      var numCodes = 0
      var i = hskip
      while (i < 18 && space < 32) {
        val p = br.peekBits(4)
        br.skipBits(ClcLen(p))
        val v = ClcValue(p)
        clcLengths(CodeLengthOrder(i)) = v
        if (v != 0) {
          space += 32 >> v
          numCodes += 1
        }
        i += 1
      }
      if (!(numCodes == 1 || space == 32))
        throw new BrotliException("invalid code length code")
      val clc = PrefixCode.fromLengths(clcLengths)

      val lengths = new Array[Int](alphabetSize)
      var symbol = 0
      var prevLen = 8 // default previous non-zero length (RFC 7932 §3.5)
      var repeat = 0 // cumulative length of the current 16/17 run
      var repeatLen = -1 // length being repeated (-1: no active run)
      var space2 = 0
      while (symbol < alphabetSize && space2 < (1 << 15)) {
        val s = clc.readSym(br)
        if (s < 16) {
          lengths(symbol) = s
          symbol += 1
          if (s != 0) {
            prevLen = s
            space2 += (1 << 15) >> s
          }
          repeat = 0
          repeatLen = -1
        } else {
          // chained repeats re-state the cumulative run length:
          // new = ((old - 2) << extra) + 3 + ReadBits(extra); emit delta
          val extra = if (s == 16) 2 else 3
          val newLen = if (s == 16) prevLen else 0
          if (repeatLen != newLen) { repeat = 0; repeatLen = newLen }
          val oldRepeat = repeat
          if (repeat > 0) repeat = (repeat - 2) << extra
          repeat += br.readBits(extra) + 3
          var n = repeat - oldRepeat
          if (n < 0 || symbol + n > alphabetSize)
            throw new BrotliException("code length run overflow")
          while (n > 0) {
            lengths(symbol) = newLen
            symbol += 1
            if (newLen != 0) space2 += (1 << 15) >> newLen
            n -= 1
          }
        }
      }
      if (space2 > (1 << 15)) throw new BrotliException("over-subscribed code")
      PrefixCode.fromLengths(lengths)
    }
  }

  /** Context map decode (RFC 7932 §7.3). */
  private[core] def readContextMap(br: BitReader, size: Int, nTrees: Int): Array[Byte] = {
    val map = new Array[Byte](size)
    if (nTrees == 1) return map
    val rleMax = if (br.readBits(1) == 1) br.readBits(4) + 1 else 0
    val code = readPrefixCode(br, nTrees + rleMax)
    var i = 0
    while (i < size) {
      val s = code.readSym(br)
      if (s == 0) { map(i) = 0; i += 1 }
      else if (s <= rleMax) {
        var run = (1 << s) + br.readBits(s)
        if (i + run > size) throw new BrotliException("context map run overflow")
        while (run > 0) { map(i) = 0; i += 1; run -= 1 }
      } else {
        map(i) = (s - rleMax).toByte
        i += 1
      }
    }
    if (br.readBits(1) == 1) inverseMoveToFront(map)
    map
  }

  private def inverseMoveToFront(map: Array[Byte]): Unit = {
    val mtf = new Array[Byte](256)
    var i = 0
    while (i < 256) { mtf(i) = i.toByte; i += 1 }
    i = 0
    while (i < map.length) {
      val idx = map(i) & 0xff
      val v = mtf(idx)
      var j = idx
      while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
      mtf(0) = v
      map(i) = v
      i += 1
    }
  }

  // — dictionary word transform (RFC 7932 §8, Appendix B) —

  /** Ferment ("uppercase") one position; returns chars consumed. */
  private def ferment(w: Array[Byte], i: Int): Int = {
    val c = w(i) & 0xff
    if (c < 192) {
      if (c >= 'a' && c <= 'z') w(i) = (c ^ 32).toByte
      1
    } else if (c < 224) {
      if (i + 1 < w.length) w(i + 1) = (w(i + 1) ^ 32).toByte
      2
    } else {
      if (i + 2 < w.length) w(i + 2) = (w(i + 2) ^ 5).toByte
      3
    }
  }

  private[core] def transformWord(word: Array[Byte], transformIdx: Int): Array[Byte] = {
    val (prefix, op, suffix) = transforms(transformIdx)
    var w = word
    if (op >= 20) w = java.util.Arrays.copyOfRange(w, 0, math.max(0, w.length - (op - 20)))
    else if (op >= 10) w = java.util.Arrays.copyOfRange(w, math.min(op - 10, w.length), w.length)
    else w = w.clone()
    if (op == 1) { if (w.length > 0) ferment(w, 0) }
    else if (op == 2) {
      var i = 0
      while (i < w.length) i += ferment(w, i)
    }
    val out = new Array[Byte](prefix.length + w.length + suffix.length)
    System.arraycopy(prefix, 0, out, 0, prefix.length)
    System.arraycopy(w, 0, out, prefix.length, w.length)
    System.arraycopy(suffix, 0, out, prefix.length + w.length, suffix.length)
    out
  }

  private[core] def dictionaryWord(copyLen: Int, distance: Int, maxDistance: Long): Array[Byte] = {
    if (copyLen < 4 || copyLen > 24)
      throw new BrotliException(s"invalid dictionary reference length $copyLen")
    val address = distance - maxDistance.toInt - 1
    val bits = sizeBits(copyLen)
    val wordIdx = address & ((1 << bits) - 1)
    val transformIdx = address >>> bits
    if (transformIdx >= transforms.length)
      throw new BrotliException(s"invalid dictionary transform $transformIdx")
    val off = dictOffset(copyLen) + wordIdx * copyLen
    val word = java.util.Arrays.copyOfRange(dictData, off, off + copyLen)
    if (transformIdx == 0) word else transformWord(word, transformIdx)
  }

  private[core] def literalContext(mode: Int, p1: Int, p2: Int): Int = {
    val base = mode << 9
    (contextLut(base + p1) & 0xff) | (contextLut(base + 256 + p2) & 0xff)
  }

  private[core] def blockLenOffset(sym: Int): Int = BlockLenOffset(sym)
  private[core] def blockLenBits(sym: Int): Int = BlockLenBits(sym)
  private[core] def insertRange(cell: Int): Int = InsertRangeLut(cell)
  private[core] def copyRange(cell: Int): Int = CopyRangeLut(cell)
}
