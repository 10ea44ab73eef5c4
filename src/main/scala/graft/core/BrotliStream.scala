package graft.core

import java.io.InputStream

import Brotli._

/** Streaming Brotli decoder: pulls compressed bytes on demand, produces
  * plaintext through `read`, and buffers only the sliding window (ring
  * buffer of 2^WBITS bytes). Resumable between `read` calls at any
  * literal/copy boundary, so `.br` WARC streams decode record by record
  * without materializing the archive (the shape of the reference's
  * BrotliStream, stream_io.pyx:771-856).
  *
  * @param maxOutput optional cap on total decoded bytes (gzip-bomb guard
  *                  parity with [[HttpDecode]]); breaching it throws
  *                  [[Brotli.BrotliException]].
  */
final class BrotliInputStream(in: InputStream, maxOutput: Long = -1L)
    extends InputStream {

  private val br = new BitReader(in)

  // stream state machine
  private final val StHeader = 0
  private final val StMetaBlock = 1
  private final val StUncompressed = 2
  private final val StCommands = 3
  private final val StDone = 4
  private var state = StHeader
  private var wasLast = false

  private var windowSize = 0
  private var ring: Array[Byte] = _
  private var ringMask = 0
  private var totalOut = 0L
  private var p1 = 0
  private var p2 = 0

  // meta-block state
  private var metaRemaining = 0
  private val numBlockTypes = new Array[Int](3)
  private val blockTypeCodes = new Array[PrefixCode](3)
  private val blockLenCodes = new Array[PrefixCode](3)
  private val blockLen = new Array[Int](3)
  // two most recent block types per category (rb1 = current)
  private val rb0 = new Array[Int](3)
  private val rb1 = new Array[Int](3)
  private var npostfix = 0
  private var ndirect = 0
  private var contextModes: Array[Int] = _
  private var contextMapL: Array[Byte] = _
  private var contextMapD: Array[Byte] = _
  private var literalCodes: Array[PrefixCode] = _
  private var commandCodes: Array[PrefixCode] = _
  private var distanceCodes: Array[PrefixCode] = _
  // last four distances; the spec's initial ring {16,15,11,4} is stored
  // write-index-first, so the LAST distance starts as 4 (RFC 7932 §4)
  private var d1 = 4
  private var d2 = 11
  private var d3 = 15
  private var d4 = 16

  // in-flight command state
  private var insertRemaining = 0
  private var copyRemaining = 0
  private var copyLenForContext = 0
  private var implicitDistance = false
  private var distanceResolved = false
  private var copyDistance = 0
  private var pending: Array[Byte] = _ // transformed dictionary word
  private var pendingPos = 0

  private val oneByte = new Array[Byte](1)

  override def read(): Int = {
    val n = read(oneByte, 0, 1)
    if (n < 0) -1 else oneByte(0) & 0xff
  }

  override def read(buf: Array[Byte], off: Int, len: Int): Int = {
    if (len == 0) return 0
    var produced = 0
    while (produced == 0 && state != StDone) {
      state match {
        case StHeader =>
          val wbits = decodeWindowBits(br)
          windowSize = (1 << wbits) - 16
          ring = new Array[Byte](1 << wbits)
          ringMask = (1 << wbits) - 1
          state = StMetaBlock
        case StMetaBlock =>
          readMetaBlockHeader()
        case StUncompressed =>
          val n = math.min(len - produced, metaRemaining)
          br.readBytes(buf, off + produced, n)
          var i = 0
          while (i < n) {
            val b = buf(off + produced + i) & 0xff
            ring((totalOut & ringMask).toInt) = b.toByte
            totalOut += 1
            p2 = p1; p1 = b
            i += 1
          }
          produced += n
          metaRemaining -= n
          checkCap()
          if (metaRemaining == 0) state = if (wasLast) StDone else StMetaBlock
        case StCommands =>
          produced += runCommands(buf, off + produced, len - produced)
      }
    }
    if (produced == 0 && state == StDone) -1 else produced
  }

  private def checkCap(): Unit =
    if (maxOutput >= 0 && totalOut > maxOutput)
      throw new BrotliException(s"decoded output exceeds cap $maxOutput")

  // — meta-block header (RFC 7932 §9.2) —

  private def readMetaBlockHeader(): Unit = {
    wasLast = br.readBits(1) == 1
    if (wasLast && br.readBits(1) == 1) { state = StDone; return } // ISLASTEMPTY
    val mnibbles = br.readBits(2) + 4
    if (mnibbles == 7) {
      // metadata block: skipped, never enters the output
      if (br.readBits(1) != 0) throw new BrotliException("reserved bit set")
      val mskipBytes = br.readBits(2)
      var skip = 0
      var i = 0
      while (i < mskipBytes) {
        val bits = br.readBits(8)
        if (i + 1 == mskipBytes && mskipBytes > 1 && bits == 0)
          throw new BrotliException("exuberant metadata length")
        skip |= bits << (i * 8)
        i += 1
      }
      // the field encodes MSKIPLEN - 1 (RFC 7932 §9.2); zero bytes = skip 0
      if (mskipBytes > 0) skip += 1
      br.alignToByte()
      val junk = new Array[Byte](math.min(skip, 4096))
      var remaining = skip
      while (remaining > 0) {
        val n = math.min(remaining, junk.length)
        br.readBytes(junk, 0, n)
        remaining -= n
      }
      state = if (wasLast) StDone else StMetaBlock
      return
    }
    var mlen = 0
    var i = 0
    while (i < mnibbles) {
      val bits = br.readBits(4)
      if (i + 1 == mnibbles && mnibbles > 4 && bits == 0)
        throw new BrotliException("exuberant meta-block length")
      mlen |= bits << (i * 4)
      i += 1
    }
    metaRemaining = mlen + 1
    if (!wasLast && br.readBits(1) == 1) { // ISUNCOMPRESSED
      br.alignToByte()
      state = StUncompressed
      return
    }
    readMetaBlockBody()
    state = StCommands
  }

  private def readMetaBlockBody(): Unit = {
    var c = 0
    while (c < 3) {
      numBlockTypes(c) = decodeVarLenUint8(br)
      rb0(c) = 1
      rb1(c) = 0
      if (numBlockTypes(c) > 1) {
        blockTypeCodes(c) = readPrefixCode(br, numBlockTypes(c) + 2)
        blockLenCodes(c) = readPrefixCode(br, 26)
        blockLen(c) = readBlockLen(blockLenCodes(c))
      } else {
        blockTypeCodes(c) = null
        blockLenCodes(c) = null
        blockLen(c) = 1 << 28
      }
      c += 1
    }
    npostfix = br.readBits(2)
    ndirect = br.readBits(4) << npostfix
    contextModes = new Array[Int](numBlockTypes(0))
    var i = 0
    while (i < contextModes.length) { contextModes(i) = br.readBits(2); i += 1 }
    val nTreesL = decodeVarLenUint8(br)
    contextMapL = readContextMap(br, 64 * numBlockTypes(0), nTreesL)
    val nTreesD = decodeVarLenUint8(br)
    contextMapD = readContextMap(br, 4 * numBlockTypes(2), nTreesD)
    literalCodes = readCodes(nTreesL, 256)
    commandCodes = readCodes(numBlockTypes(1), 704)
    distanceCodes = readCodes(nTreesD, 16 + ndirect + (48 << npostfix))
    insertRemaining = 0
    copyRemaining = 0
    pending = null
  }

  private def readCodes(n: Int, alphabet: Int): Array[PrefixCode] = {
    val out = new Array[PrefixCode](n)
    var i = 0
    while (i < n) { out(i) = readPrefixCode(br, alphabet); i += 1 }
    out
  }

  private def readBlockLen(code: PrefixCode): Int = {
    val sym = code.readSym(br)
    blockLenOffset(sym) + br.readBits(blockLenBits(sym))
  }

  /** Block-type switch (RFC 7932 §6): symbol 0 = second-to-last type,
    * 1 = last + 1 (mod count), k>=2 = type k-2.
    */
  private def switchBlockType(c: Int): Unit = {
    val sym = blockTypeCodes(c).readSym(br)
    var t = sym match {
      case 0 => rb0(c)
      case 1 => rb1(c) + 1
      case _ => sym - 2
    }
    if (t >= numBlockTypes(c)) t -= numBlockTypes(c)
    rb0(c) = rb1(c)
    rb1(c) = t
    blockLen(c) = readBlockLen(blockLenCodes(c))
  }

  // — the command loop, resumable at any output byte —

  private def emit(buf: Array[Byte], pos: Int, b: Int): Unit = {
    buf(pos) = b.toByte
    ring((totalOut & ringMask).toInt) = b.toByte
    totalOut += 1
    p2 = p1
    p1 = b & 0xff
  }

  private def runCommands(buf: Array[Byte], off: Int, maxLen: Int): Int = {
    var produced = 0
    while (produced < maxLen) {
      if (pending != null) {
        // transformed dictionary word in flight
        while (produced < maxLen && pendingPos < pending.length) {
          emit(buf, off + produced, pending(pendingPos) & 0xff)
          pendingPos += 1
          produced += 1
        }
        if (pendingPos == pending.length) pending = null
      } else if (insertRemaining > 0) {
        if (blockLen(0) == 0) switchBlockType(0)
        blockLen(0) -= 1
        val mode = contextModes(rb1(0))
        val ctx = literalContext(mode, p1, p2)
        val tree = literalCodes(contextMapL(rb1(0) * 64 + ctx) & 0xff)
        emit(buf, off + produced, tree.readSym(br))
        produced += 1
        insertRemaining -= 1
        metaRemaining -= 1
      } else if (copyRemaining > 0 && distanceResolved) {
        val n = math.min(maxLen - produced, copyRemaining)
        var i = 0
        while (i < n) {
          val b = ring(((totalOut - copyDistance) & ringMask).toInt) & 0xff
          emit(buf, off + produced, b)
          produced += 1
          i += 1
        }
        copyRemaining -= n
        metaRemaining -= n
      } else if (copyRemaining > 0) {
        resolveDistance()
      } else if (metaRemaining <= 0) {
        if (metaRemaining < 0)
          throw new BrotliException("meta-block length overrun")
        checkCap()
        state = if (wasLast) StDone else StMetaBlock
        return produced
      } else {
        readCommand()
      }
    }
    checkCap()
    produced
  }

  private def readCommand(): Unit = {
    if (blockLen(1) == 0) switchBlockType(1)
    blockLen(1) -= 1
    val cmd = commandCodes(rb1(1)).readSym(br)
    // cells 0-1 (cmd < 128) reuse the last distance and share the first
    // two range mappings; explicit-distance cells index the LUT after -2
    val cell0 = cmd >> 6
    implicitDistance = cell0 < 2
    val cell = if (cell0 >= 2) cell0 - 2 else cell0
    val insCode = insertRange(cell) + ((cmd >> 3) & 7)
    val cpCode = copyRange(cell) + (cmd & 7)
    insertRemaining = InsBase(insCode) + br.readBits(InsExtra(insCode))
    copyRemaining = CopyBase(cpCode) + br.readBits(CopyExtra(cpCode))
    copyLenForContext = copyRemaining
    distanceResolved = false
  }

  /** Distance is encoded AFTER the command's literals; resolve it when
    * the insert phase drains. If the meta-block ended inside the insert
    * phase the copy part never materializes (handled by metaRemaining<=0
    * firing first in the loop above).
    */
  private def resolveDistance(): Unit = {
    if (metaRemaining <= 0) { copyRemaining = 0; return }
    var distance = 0
    var push = false
    if (implicitDistance) {
      distance = d1
    } else {
      if (blockLen(2) == 0) switchBlockType(2)
      blockLen(2) -= 1
      val distCtx = math.min(copyLenForContext, 5) - 2
      val tree = distanceCodes(contextMapD(rb1(2) * 4 + distCtx) & 0xff)
      val dcode = tree.readSym(br)
      if (dcode == 0) distance = d1
      else if (dcode < 16) {
        distance = dcode match {
          case 1 => d2
          case 2 => d3
          case 3 => d4
          case 4 => d1 - 1
          case 5 => d1 + 1
          case 6 => d1 - 2
          case 7 => d1 + 2
          case 8 => d1 - 3
          case 9 => d1 + 3
          case 10 => d2 - 1
          case 11 => d2 + 1
          case 12 => d2 - 2
          case 13 => d2 + 2
          case 14 => d2 - 3
          case _ => d2 + 3
        }
        if (distance <= 0) throw new BrotliException("non-positive distance")
        push = true
      } else if (dcode < 16 + ndirect) {
        distance = dcode - 16 + 1
        push = true
      } else {
        val base = dcode - ndirect - 16
        val ndistbits = 1 + (base >> (npostfix + 1))
        val extra = br.readBits(ndistbits)
        val hcode = base >> npostfix
        val lcode = base & ((1 << npostfix) - 1)
        val offset = ((2 + (hcode & 1)) << ndistbits) - 4
        distance = ((offset + extra) << npostfix) + lcode + ndirect + 1
        push = true
      }
    }
    val maxDist = math.min(totalOut, windowSize.toLong)
    if (distance > maxDist) {
      // static dictionary reference; not entered into the distance ring
      val word = dictionaryWord(copyRemaining, distance, maxDist)
      metaRemaining -= word.length
      if (metaRemaining < 0)
        throw new BrotliException("dictionary word exceeds meta-block length")
      pending = word
      pendingPos = 0
      copyRemaining = 0
      distanceResolved = true
    } else {
      if (push) { d4 = d3; d3 = d2; d2 = d1; d1 = distance }
      copyDistance = distance
      distanceResolved = true
    }
  }
}
