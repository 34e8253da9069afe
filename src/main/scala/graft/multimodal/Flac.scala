package graft.multimodal

/** FLAC (RFC 9639) — the largest remaining byte-stat fallback that is
  * losslessly spec-decodable without patented DSP (r12 verdict #5). Both
  * halves are spec-derived, no reference code:
  *
  *  - [[decode]]: "fLaC" magic → metadata blocks (STREAMINFO carries
  *    rate/channels/bps/total) → frames. Each frame: 15-bit sync +
  *    blocking strategy, coded blocksize/rate/channel/bps fields, the
  *    UTF-8-style coded frame number, and a CRC-8 over the header bytes
  *    (poly 0x07) that is VERIFIED, as is the whole-frame CRC-16 (poly
  *    0x8005) footer — a tampered byte degrades to None (the declared
  *    byte-stat fallback), never to wrong samples. Subframes: CONSTANT,
  *    VERBATIM, FIXED orders 0–4 (polynomial predictors per §9.2.2) and
  *    LPC (quantized coefficients + shift, §9.2.3), each with wasted-bits
  *    support and rice-partitioned residuals (4-bit parameters, zigzag
  *    fold, unary quotient = n zeros then a one, 0b1111 escape to
  *    verbatim residuals, 5-bit-parameter method 0b01 likewise). All
  *    four stereo channel assignments reconstruct (independent,
  *    left-side, right-side, mid-side — the side channel at bps+1,
  *    §9.1.3); independent multi-channel decodes and interleaves.
  *  - [[encode]]: mono 16-bit, one frame per ≤4096-sample block, FIXED
  *    order-2 subframes (order 0 below 3 samples) or — for decoder
  *    coverage — an LPC subframe mathematically equal to the order-2
  *    predictor (coefs [2,−1], shift 0), rice partition order 1 with
  *    per-partition parameters chosen by the mean-residual rule.
  *    Losslessness is BY CONSTRUCTION (integer predictors + exact
  *    residual coding), which is what puts the whole codec inside a
  *    byte-replay hash gate: decode(encode(x)) must equal x for the gate
  *    to pass at all.
  */
object Flac {

  // ------------------------------------------------------------- CRCs
  private[multimodal] def crc8(bytes: Array[Byte], len: Int): Int = {
    var crc = 0
    var i = 0
    while (i < len) {
      crc ^= bytes(i) & 0xff
      var b = 0
      while (b < 8) { crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff; b += 1 }
      i += 1
    }
    crc
  }

  private[multimodal] def crc16(bytes: Array[Byte], from: Int, len: Int): Int = {
    var crc = 0
    var i = from
    while (i < from + len) {
      crc ^= (bytes(i) & 0xff) << 8
      var b = 0
      while (b < 8) { crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff else (crc << 1) & 0xffff; b += 1 }
      i += 1
    }
    crc
  }

  // ------------------------------------------------------ bit-level IO
  private final class BitWriter {
    private val buf = new java.io.ByteArrayOutputStream()
    private var acc = 0L
    private var nAcc = 0
    def writeBits(v: Long, n: Int): Unit = {
      var left = n
      while (left > 0) {
        val take = math.min(left, 8 - nAcc)
        val shift = left - take
        val bits = (v >>> shift) & ((1L << take) - 1)
        acc = (acc << take) | bits
        nAcc += take
        left -= take
        if (nAcc == 8) { buf.write(acc.toInt & 0xff); acc = 0; nAcc = 0 }
      }
    }
    def writeUnary(q: Int): Unit = { var i = 0; while (i < q) { writeBits(0, 1); i += 1 }; writeBits(1, 1) }
    def alignByte(): Unit = if (nAcc > 0) writeBits(0, 8 - nAcc)
    def toBytes: Array[Byte] = { alignByte(); buf.toByteArray }
  }

  private final class BitReader(bytes: Array[Byte], startByte: Int) {
    private var pos = startByte * 8L
    def bytePos: Int = ((pos + 7) / 8).toInt
    def readBits(n: Int): Long = {
      var v = 0L
      var left = n
      while (left > 0) {
        val byteIdx = (pos / 8).toInt
        if (byteIdx >= bytes.length) throw new IllegalStateException("EOF")
        val bitOff = (pos % 8).toInt
        val take = math.min(left, 8 - bitOff)
        val b = bytes(byteIdx) & 0xff
        val bits = (b >>> (8 - bitOff - take)) & ((1 << take) - 1)
        v = (v << take) | bits
        pos += take
        left -= take
      }
      v
    }
    def readSigned(n: Int): Long = {
      val u = readBits(n)
      if (n == 0) 0L else if ((u & (1L << (n - 1))) != 0) u - (1L << n) else u
    }
    def readUnary(): Int = {
      var q = 0
      while (readBits(1) == 0L) q += 1
      q
    }
    def alignByte(): Unit = if (pos % 8 != 0) pos += 8 - pos % 8
  }

  // ------------------------------------------------------------ encode
  /** Stereo channel-assignment modes (RFC 9639 §9.1.3): independent L/R,
    * and the three decorrelations — left-side (L, L−R), right-side
    * (L−R, R), mid-side ((L+R)>>1, L−R). The side channel carries
    * bps+1 bits. */
  sealed trait StereoMode { def code: Int }
  case object IndependentStereo extends StereoMode { val code = 1 }
  case object LeftSide extends StereoMode { val code = 8 }
  case object RightSide extends StereoMode { val code = 9 }
  case object MidSide extends StereoMode { val code = 10 }

  /** Stereo 16-bit FLAC stream; left/right must be equal-length. */
  def encodeStereo(left: Array[Int], right: Array[Int],
                   mode: StereoMode = MidSide,
                   sampleRate: Int = 8000): Array[Byte] = {
    require(left.length == right.length && left.nonEmpty, "equal nonempty channels")
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    out.write(streamInfo(left.length, sampleRate, channels = 2))
    val blockMax = 4096
    var off = 0
    var frameNo = 0
    while (off < left.length) {
      val n = math.min(blockMax, left.length - off)
      val l = java.util.Arrays.copyOfRange(left, off, off + n)
      val r = java.util.Arrays.copyOfRange(right, off, off + n)
      val (ch0, ch1, bps0, bps1) = mode match {
        case IndependentStereo => (l, r, 16, 16)
        case LeftSide => (l, Array.tabulate(n)(i => l(i) - r(i)), 16, 17)
        case RightSide => (Array.tabulate(n)(i => l(i) - r(i)), r, 17, 16)
        case MidSide => (Array.tabulate(n)(i => (l(i) + r(i)) >> 1),
          Array.tabulate(n)(i => l(i) - r(i)), 16, 17)
      }
      out.write(encodeFrameChannels(Seq((ch0, bps0), (ch1, bps1)), mode.code,
        frameNo, lpc = false))
      off += n
      frameNo += 1
    }
    out.toByteArray
  }

  private def streamInfo(totalSamples: Long, sampleRate: Int,
                         channels: Int): Array[Byte] = {
    val si = new BitWriter
    si.writeBits(0x80, 8); si.writeBits(34, 24)
    val minBs = math.min(totalSamples, 4096L).max(16L)
    si.writeBits(minBs, 16)
    si.writeBits(math.max(minBs, math.min(totalSamples, 4096L)), 16)
    si.writeBits(0, 24); si.writeBits(0, 24)
    si.writeBits(sampleRate, 20); si.writeBits(channels - 1, 3)
    si.writeBits(15, 5) // bps-1 = 15 (decorrelated side bps is per-frame)
    si.writeBits(totalSamples, 36)
    (0 until 16).foreach(_ => si.writeBits(0, 8))
    si.toBytes
  }

  /** Mono 16-bit FLAC stream of `samples` (each in [−32768, 32767]).
    * `lpc = true` emits the order-2-equivalent LPC subframe instead of
    * the FIXED one (same residuals — exercises the decoder's LPC path). */
  def encode(samples: Array[Int], sampleRate: Int = 8000,
             lpc: Boolean = false): Array[Byte] = {
    require(samples.nonEmpty, "Flac.encode: empty signal")
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    out.write(streamInfo(samples.length.toLong, sampleRate, channels = 1))
    val blockMax = 4096
    var off = 0
    var frameNo = 0
    while (off < samples.length) {
      val n = math.min(blockMax, samples.length - off)
      out.write(encodeFrameChannels(
        Seq((java.util.Arrays.copyOfRange(samples, off, off + n), 16)),
        chCode = 0, frameNo, lpc))
      off += n
      frameNo += 1
    }
    out.toByteArray
  }

  /** One frame of `channels` (samples, bps) subframes under channel
    * assignment `chCode`. The header's bps field stays the 16-bit code —
    * a decorrelated side channel's +1 bit is implied by the assignment,
    * exactly as the spec defines it. */
  private def encodeFrameChannels(channels: Seq[(Array[Int], Int)], chCode: Int,
                                  frameNo: Int, lpc: Boolean): Array[Byte] = {
    val blockLen = channels.head._1.length
    val w = new BitWriter
    w.writeBits(0x3ffe, 14) // sync
    w.writeBits(0, 1) // reserved
    w.writeBits(0, 1) // fixed blocksize stream
    w.writeBits(0x7, 4) // blocksize: 16-bit value at end of header
    w.writeBits(0, 4) // sample rate: from STREAMINFO
    w.writeBits(chCode, 4)
    w.writeBits(0x4, 3) // bps: 16
    w.writeBits(0, 1) // reserved
    // coded (UTF-8-style) frame number — our streams stay < 128 frames
    require(frameNo < 128, "encoder emits single-byte coded frame numbers")
    w.writeBits(frameNo, 8)
    w.writeBits(blockLen - 1L, 16)
    val headBytes = w.toBytes
    val frame = new java.io.ByteArrayOutputStream()
    frame.write(headBytes)
    frame.write(crc8(headBytes, headBytes.length))
    val body = new BitWriter
    channels.foreach { case (block, bps) => writeSubframe(body, block, bps, lpc) }
    body.alignByte()
    frame.write(body.toBytes)
    val fb = frame.toByteArray
    val c16 = crc16(fb, 0, fb.length)
    frame.write((c16 >> 8) & 0xff); frame.write(c16 & 0xff)
    frame.toByteArray
  }

  /** One FIXED (or LPC-equivalent) subframe + rice residuals. */
  private def writeSubframe(body: BitWriter, block: Array[Int], bps: Int,
                            lpc: Boolean): Unit = {
    val order = if (block.length < 3) 0 else 2
    val mask = (1L << bps) - 1
    if (lpc && order == 2) {
      body.writeBits(0, 1); body.writeBits(32 | (order - 1), 6); body.writeBits(0, 1)
      var i = 0
      while (i < order) { body.writeBits(block(i).toLong & mask, bps); i += 1 }
      body.writeBits(15 - 1, 4) // qlp precision 15
      body.writeBits(0, 5) // shift 0
      // coefs [2, -1] at precision 15: the order-2 fixed predictor
      body.writeBits(2L & 0x7fff, 15); body.writeBits((-1L) & 0x7fff, 15)
    } else {
      body.writeBits(0, 1); body.writeBits(8 + order, 6); body.writeBits(0, 1)
      var i = 0
      while (i < order) { body.writeBits(block(i).toLong & mask, bps); i += 1 }
    }
    val res = new Array[Long](block.length - order)
    var i = order
    while (i < block.length) {
      val r = order match {
        case 0 => block(i).toLong
        case 2 => block(i).toLong - 2L * block(i - 1) + block(i - 2)
      }
      res(i - order) = r
      i += 1
    }
    // rice method 0b00, partition order 1 when splittable (first
    // partition n/2 − order samples, second n/2), else order 0
    body.writeBits(0, 2)
    val po = if (block.length % 2 == 0 && block.length / 2 > order && block.length >= 4) 1 else 0
    body.writeBits(po, 4)
    val parts: Seq[Array[Long]] =
      if (po == 1) {
        val half = block.length / 2
        Seq(res.take(half - order), res.drop(half - order))
      } else Seq(res)
    parts.foreach { p =>
      val k = riceParam(p)
      body.writeBits(k, 4)
      p.foreach { r =>
        val u = (r << 1) ^ (r >> 63) // zigzag
        body.writeUnary((u >>> k).toInt)
        if (k > 0) body.writeBits(u & ((1L << k) - 1), k)
      }
    }
  }

  /** Mean-based rice parameter: smallest k with mean(u) < 2^k (the
    * classic estimator), capped at 14 (15 is the escape code). */
  private def riceParam(res: Array[Long]): Int = {
    if (res.isEmpty) return 0
    val mean = res.map(r => ((r << 1) ^ (r >> 63)).toDouble).sum / res.length
    var k = 0
    while (k < 14 && (1L << k) < mean) k += 1
    k
  }

  // ------------------------------------------------------------ decode
  private val BlockSizes = Array(-1, 192, 576, 1152, 2304, 4608, -8, -16,
    256, 512, 1024, 2048, 4096, 8192, 16384, 32768)
  private val SampleRates = Array(-1, 88200, 176400, 192000, 8000, 16000,
    22050, 24000, 32000, 44100, 48000, 96000, -8, -16, -160, -2)

  /** (channels, totalSamples, interleaved samples) or None when the
    * payload is not a FLAC stream this decoder covers (bad magic, failed
    * CRC, stereo decorrelation, reserved codes). */
  def decode(bytes: Array[Byte]): Option[(Int, Int, Array[Double])] = {
    if (bytes.length < 42 || bytes(0) != 'f' || bytes(1) != 'L' ||
      bytes(2) != 'a' || bytes(3) != 'C') return None
    try {
      var pos = 4
      var last = false
      var bps = 0; var channels = 0; var total = 0L
      var sawStreamInfo = false
      while (!last) {
        val hdr = bytes(pos) & 0xff
        last = (hdr & 0x80) != 0
        val btype = hdr & 0x7f
        val len = ((bytes(pos + 1) & 0xff) << 16) | ((bytes(pos + 2) & 0xff) << 8) |
          (bytes(pos + 3) & 0xff)
        if (btype == 0) {
          sawStreamInfo = true
          val r = new BitReader(bytes, pos + 4)
          r.readBits(16); r.readBits(16); r.readBits(24); r.readBits(24)
          r.readBits(20)
          channels = r.readBits(3).toInt + 1
          bps = r.readBits(5).toInt + 1
          total = r.readBits(36)
        }
        pos += 4 + len
      }
      if (!sawStreamInfo || channels < 1 || bps < 4) return None
      val out = Array.newBuilder[Double]
      var decoded = 0L // inter-channel samples decoded so far
      while (decoded < total) {
        val (inter, next) = decodeFrame(bytes, pos, channels, bps) match {
          case Some(v) => v
          case None => return None
        }
        val take = math.min((inter.length / channels).toLong, total - decoded).toInt
        var i = 0
        while (i < take * channels) { out += inter(i).toDouble; i += 1 }
        decoded += take
        pos = next
      }
      val arr = out.result()
      Some((channels, (total min Int.MaxValue).toInt, arr))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** One frame at byte `pos` → (interleaved samples, next byte pos). */
  private def decodeFrame(bytes: Array[Byte], pos: Int, channels: Int,
                          siBps: Int): Option[(Array[Long], Int)] = {
    val r = new BitReader(bytes, pos)
    if (r.readBits(14) != 0x3ffe) return None
    r.readBits(1) // reserved
    r.readBits(1) // blocking strategy
    val bsCode = r.readBits(4).toInt
    val srCode = r.readBits(4).toInt
    val chCode = r.readBits(4).toInt
    val bpsCode = r.readBits(3).toInt
    r.readBits(1)
    // coded number (UTF-8 style, 1–7 bytes)
    val first = r.readBits(8).toInt
    var extra = 0
    var mask = 0x80
    while ((first & mask) != 0) { extra += 1; mask >>= 1 }
    if (extra == 1 || extra > 6) return None
    var e = 0
    while (e < math.max(0, extra - 1)) { if ((r.readBits(8).toInt & 0xc0) != 0x80) return None; e += 1 }
    val blockSize = bsCode match {
      case 0 => return None
      case 6 => r.readBits(8).toInt + 1
      case 7 => r.readBits(16).toInt + 1
      case c => BlockSizes(c)
    }
    srCode match {
      case 12 => r.readBits(8)
      case 13 | 14 => r.readBits(16)
      case 15 => return None
      case _ => ()
    }
    if (chCode > 10) return None // reserved assignments
    val nCh = if (chCode < 8) chCode + 1 else 2
    if (nCh != channels) return None
    val bps = bpsCode match {
      case 0 => siBps
      case 1 => 8
      case 2 => 12
      case 4 => 16
      case 5 => 20
      case 6 => 24
      case 7 => 32
      case _ => return None
    }
    // header CRC-8: everything from the sync byte up to here
    val headLen = r.bytePos - pos
    val crcGot = r.readBits(8).toInt
    if (crc8(java.util.Arrays.copyOfRange(bytes, pos, pos + headLen), headLen) != crcGot)
      return None
    // decorrelated stereo: the SIDE channel carries bps+1 bits (left-side
    // and mid-side put it second, right-side first)
    def chBps(c: Int): Int = chCode match {
      case 8 if c == 1 => bps + 1
      case 9 if c == 0 => bps + 1
      case 10 if c == 1 => bps + 1
      case _ => bps
    }
    val raw = Array.ofDim[Array[Long]](nCh)
    var c = 0
    while (c < nCh) {
      raw(c) = decodeSubframe(r, blockSize, chBps(c)) match {
        case Some(v) => v
        case None => return None
      }
      c += 1
    }
    // undo the stereo decorrelation (RFC 9639 §9.1.3)
    val chans: Array[Array[Long]] = chCode match {
      case 8 => // left-side: (L, L−R)
        Array(raw(0), Array.tabulate(blockSize)(i => raw(0)(i) - raw(1)(i)))
      case 9 => // right-side: (L−R, R)
        Array(Array.tabulate(blockSize)(i => raw(1)(i) + raw(0)(i)), raw(1))
      case 10 => // mid-side: ((L+R)>>1, L−R)
        val l = new Array[Long](blockSize); val rr = new Array[Long](blockSize)
        var i = 0
        while (i < blockSize) {
          val side = raw(1)(i)
          val mid2 = (raw(0)(i) << 1) | (side & 1L)
          l(i) = (mid2 + side) >> 1; rr(i) = (mid2 - side) >> 1
          i += 1
        }
        Array(l, rr)
      case _ => raw
    }
    r.alignByte()
    val frameLen = r.bytePos - pos
    val crc16Got = (r.readBits(8).toInt << 8) | r.readBits(8).toInt
    if (crc16(bytes, pos, frameLen) != crc16Got) return None
    val inter = new Array[Long](blockSize * nCh)
    var i = 0
    while (i < blockSize) {
      var cc = 0
      while (cc < nCh) { inter(i * nCh + cc) = chans(cc)(i); cc += 1 }
      i += 1
    }
    Some((inter, r.bytePos)) // bytePos already past the 2 CRC bytes
  }

  private def decodeSubframe(r: BitReader, n: Int, bps: Int): Option[Array[Long]] = {
    if (r.readBits(1) != 0) return None
    val t = r.readBits(6).toInt
    val wastedFlag = r.readBits(1)
    val wasted = if (wastedFlag == 1) r.readUnary() + 1 else 0
    val eff = bps - wasted
    val out: Option[Array[Long]] =
      if (t == 0) { // CONSTANT
        val v = r.readSigned(eff)
        Some(Array.fill(n)(v))
      } else if (t == 1) { // VERBATIM
        Some(Array.fill(n)(r.readSigned(eff)))
      } else if (t >= 8 && t <= 12) { // FIXED order 0..4
        val order = t - 8
        val warm = Array.fill(order)(r.readSigned(eff))
        decodeResiduals(r, n, order).map { res =>
          val x = new Array[Long](n)
          System.arraycopy(warm, 0, x, 0, order)
          var i = order
          while (i < n) {
            val p = order match {
              case 0 => 0L
              case 1 => x(i - 1)
              case 2 => 2 * x(i - 1) - x(i - 2)
              case 3 => 3 * x(i - 1) - 3 * x(i - 2) + x(i - 3)
              case 4 => 4 * x(i - 1) - 6 * x(i - 2) + 4 * x(i - 3) - x(i - 4)
            }
            x(i) = p + res(i - order)
            i += 1
          }
          x
        }
      } else if (t >= 32) { // LPC order 1..32
        val order = t - 31
        val warm = Array.fill(order)(r.readSigned(eff))
        val precCode = r.readBits(4).toInt
        if (precCode == 15) return None // reserved
        val prec = precCode + 1
        val shift = r.readSigned(5).toInt
        if (shift < 0) return None
        val coefs = Array.fill(order)(r.readSigned(prec))
        decodeResiduals(r, n, order).map { res =>
          val x = new Array[Long](n)
          System.arraycopy(warm, 0, x, 0, order)
          var i = order
          while (i < n) {
            var acc = 0L
            var j = 0
            while (j < order) { acc += coefs(j) * x(i - 1 - j); j += 1 }
            x(i) = (acc >> shift) + res(i - order)
            i += 1
          }
          x
        }
      } else None
    out.map(x => if (wasted > 0) x.map(_ << wasted) else x)
  }

  private def decodeResiduals(r: BitReader, n: Int, order: Int): Option[Array[Long]] = {
    val method = r.readBits(2).toInt
    if (method > 1) return None
    val pBits = if (method == 0) 4 else 5
    val escape = if (method == 0) 0xf else 0x1f
    val po = r.readBits(4).toInt
    val parts = 1 << po
    if (n % parts != 0 || n / parts <= order) return None
    val res = new Array[Long](n - order)
    var idx = 0
    var p = 0
    while (p < parts) {
      val cnt = (n / parts) - (if (p == 0) order else 0)
      val k = r.readBits(pBits).toInt
      if (k == escape) {
        val vb = r.readBits(5).toInt
        var i = 0
        while (i < cnt) { res(idx) = r.readSigned(vb); idx += 1; i += 1 }
      } else {
        var i = 0
        while (i < cnt) {
          val q = r.readUnary().toLong
          val u = (q << k) | (if (k > 0) r.readBits(k) else 0L)
          res(idx) = (u >>> 1) ^ -(u & 1L) // un-zigzag
          idx += 1; i += 1
        }
      }
      p += 1
    }
    Some(res)
  }
}
