package graft.operators

/** BCJ x86 branch-converter decode — the `.xz` filter id 0x04 that
  * real `xz -F x86`-built archives (and most distro `.tar.xz`
  * payloads of compiled code) carry in front of LZMA2. The encoder
  * rewrites the rel32 operand of CALL/JMP (0xE8/0xE9) instructions to
  * absolute addresses so identical call targets compress; the decoder
  * here reverses it. Implemented from the public algorithm (the LZMA
  * SDK / xz `x86` branch filter is public domain and the algorithm is
  * documented in the xz file-format ecosystem); validated
  * differentially against xz-java's X86Options via XzSpec and
  * the XzDiff sweep (graft.tools.XzDiff, test sources).
  *
  * The transform is size-preserving and runs in place over one
  * block's uncompressed bytes (filter state is per-block in .xz).
  * `startOffset` is the optional 4-byte filter property (defaults 0).
  *
  * The mask machinery below tracks which of the previous bytes were
  * 0x00/0xFF at positions that would have been converted — the
  * encoder refuses some overlapping patterns, and the decoder must
  * replay the same accept/reject decisions byte for byte or it
  * desyncs from the encoder's choices.
  */
object Bcj {

  private val MaskToAllowed =
    Array(true, true, true, false, true, false, false, false)
  private val MaskToBit = Array(0, 1, 2, 2, 3, 3, 3, 3)

  @inline private def msb(b: Int): Boolean = b == 0x00 || b == 0xFF

  /** In-place x86 BCJ decode of one block's bytes. */
  def x86Decode(buf: Array[Byte], startOffset: Long): Unit = {
    if (buf.length < 5) return
    val nowPos = startOffset.toInt // filter positions are mod 2^32
    var prevMask = 0
    var prevPos = nowPos - 5 // "far away" start: first match gets mask 0
    val limit = buf.length - 5
    var pos = 0
    while (pos <= limit) {
      val op = buf(pos) & 0xff
      if (op != 0xE8 && op != 0xE9) pos += 1
      else {
        val offset = (nowPos + pos) - prevPos
        prevPos = nowPos + pos
        if (offset > 5) prevMask = 0
        else {
          var i = 0
          while (i < offset) { prevMask &= 0x77; prevMask <<= 1; i += 1 }
        }
        var b = buf(pos + 4) & 0xff
        if (msb(b) && MaskToAllowed((prevMask >>> 1) & 7) &&
          (prevMask >>> 1) < 0x10) {
          var src = (b << 24) | ((buf(pos + 3) & 0xff) << 16) |
            ((buf(pos + 2) & 0xff) << 8) | (buf(pos + 1) & 0xff)
          var dest = 0
          var loop = true
          while (loop) {
            dest = src - (nowPos + pos + 5) // decode direction
            if (prevMask == 0) loop = false
            else {
              val i = MaskToBit(prevMask >>> 1)
              b = (dest >>> (24 - i * 8)) & 0xff
              if (!msb(b)) loop = false
              else src = dest ^ (if (i == 0) -1 else (1 << (32 - i * 8)) - 1)
            }
          }
          // top byte becomes a sign extension of bit 24
          buf(pos + 4) = (0 - ((dest >>> 24) & 1)).toByte
          buf(pos + 3) = (dest >>> 16).toByte
          buf(pos + 2) = (dest >>> 8).toByte
          buf(pos + 1) = dest.toByte
          pos += 5
          prevMask = 0
        } else {
          prevMask |= 1
          if (msb(b)) prevMask |= 0x10
          pos += 1
        }
      }
    }
  }

  // ----------------------------------------------------------------
  // The stateless fixed-width converters (one page each, from the
  // same public filter family as x86). All run in place over one
  // block; `startOffset` is the optional filter property. Each is
  // validated differentially against BOTH liblzma (CPython's lzma)
  // and xz-java in the sweep.
  // ----------------------------------------------------------------

  /** ARM (filter 0x07): 32-bit BL (0xEB opcode byte), 4-aligned. */
  def armDecode(buf: Array[Byte], startOffset: Long): Unit = {
    val now = startOffset.toInt
    var i = 0
    while (i + 4 <= buf.length) {
      if ((buf(i + 3) & 0xff) == 0xEB) {
        val src = (((buf(i + 2) & 0xff) << 16) | ((buf(i + 1) & 0xff) << 8) |
          (buf(i) & 0xff)) << 2
        val dest = (src - (now + i + 8)) >>> 2
        buf(i + 2) = (dest >>> 16).toByte
        buf(i + 1) = (dest >>> 8).toByte
        buf(i) = dest.toByte
      }
      i += 4
    }
  }

  /** ARM-Thumb (0x08): 16-bit BL pair (0xF0.., 0xF8..), 2-aligned. */
  def armThumbDecode(buf: Array[Byte], startOffset: Long): Unit = {
    val now = startOffset.toInt
    var i = 0
    while (i + 4 <= buf.length) {
      if ((buf(i + 1) & 0xF8) == 0xF0 && (buf(i + 3) & 0xF8) == 0xF8) {
        val src = (((buf(i + 1) & 7) << 19) | ((buf(i) & 0xff) << 11) |
          ((buf(i + 3) & 7) << 8) | (buf(i + 2) & 0xff)) << 1
        val dest = (src - (now + i + 4)) >>> 1
        buf(i + 1) = (0xF0 | ((dest >>> 19) & 7)).toByte
        buf(i) = (dest >>> 11).toByte
        buf(i + 3) = (0xF8 | ((dest >>> 8) & 7)).toByte
        buf(i + 2) = dest.toByte
        i += 2
      }
      i += 2
    }
  }

  /** PowerPC (0x05): big-endian `b` / `bl` (0x48 opcode group, low
    * bits AA=0 LK=1), 4-aligned. */
  def ppcDecode(buf: Array[Byte], startOffset: Long): Unit = {
    val now = startOffset.toInt
    var i = 0
    while (i + 4 <= buf.length) {
      if ((buf(i) & 0xFC) == 0x48 && (buf(i + 3) & 3) == 1) {
        val src = ((buf(i) & 3) << 24) | ((buf(i + 1) & 0xff) << 16) |
          ((buf(i + 2) & 0xff) << 8) | (buf(i + 3) & 0xFC)
        val dest = src - (now + i)
        buf(i) = (0x48 | ((dest >>> 24) & 3)).toByte
        buf(i + 1) = (dest >>> 16).toByte
        buf(i + 2) = (dest >>> 8).toByte
        buf(i + 3) = ((buf(i + 3) & 3) | (dest & 0xFC)).toByte
      }
      i += 4
    }
  }

  /** SPARC (0x09): big-endian CALL (0x40 with clear/0x7F with set
    * high bits), 4-aligned; the result re-canonicalizes the sign
    * bits exactly as the reference does. */
  def sparcDecode(buf: Array[Byte], startOffset: Long): Unit = {
    val now = startOffset.toInt
    var i = 0
    while (i + 4 <= buf.length) {
      val b0 = buf(i) & 0xff
      val b1 = buf(i + 1) & 0xff
      if ((b0 == 0x40 && (b1 & 0xC0) == 0) ||
        (b0 == 0x7F && (b1 & 0xC0) == 0xC0)) {
        val src = ((b0 << 24) | (b1 << 16) | ((buf(i + 2) & 0xff) << 8) |
          (buf(i + 3) & 0xff)) << 2
        var dest = (src - (now + i)) >>> 2
        dest = (0x40000000 - (dest & 0x400000)) | 0x40000000 |
          (dest & 0x3FFFFF)
        buf(i) = (dest >>> 24).toByte
        buf(i + 1) = (dest >>> 16).toByte
        buf(i + 2) = (dest >>> 8).toByte
        buf(i + 3) = dest.toByte
      }
      i += 4
    }
  }

  /** ARM64 (0x0A): BL imm26 (pc in words) + ADRP imm21 (pc in 4 KiB
    * pages, only the ±512 MiB range converts), 4-aligned. */
  def arm64Decode(buf: Array[Byte], startOffset: Long): Unit = {
    val now = startOffset.toInt
    var i = 0
    while (i + 4 <= buf.length) {
      val instr = (buf(i) & 0xff) | ((buf(i + 1) & 0xff) << 8) |
        ((buf(i + 2) & 0xff) << 16) | ((buf(i + 3) & 0xff) << 24)
      val pc = now + i
      var out = 0
      var write = false
      if ((instr >>> 26) == 0x25) { // BL
        write = true
        out = 0x94000000 | ((instr - (pc >>> 2)) & 0x03FFFFFF)
      } else if ((instr & 0x9F000000) == 0x90000000) { // ADRP
        val src = ((instr >>> 29) & 3) | ((instr >>> 3) & 0x001FFFFC)
        // only +/-512 MiB converts: imm21's top nibble all-0 or all-1
        if ((src & 0x001E0000) == 0 || (src & 0x001E0000) == 0x001E0000) {
          write = true
          val dest = src - (pc >>> 12)
          out = (instr & 0x9000001F) | ((dest & 3) << 29) |
            ((dest & 0x0003FFFC) << 3) |
            ((0 - (dest & 0x00020000)) & 0x00E00000)
        }
      }
      if (write) {
        buf(i) = out.toByte
        buf(i + 1) = (out >>> 8).toByte
        buf(i + 2) = (out >>> 16).toByte
        buf(i + 3) = (out >>> 24).toByte
      }
      i += 4
    }
  }

  /** RISC-V branch/address converter decode (xz filter id 0x0B, the
    * last member of the pre-filter family). Semantics extracted
    * BLACK-BOX from liblzma 5.8 (chosen-plaintext probes of
    * `xz --filters='riscv lzma2'`, the derivation in
    * tools/fuzz_riscv_diff.py's header) and pinned differentially
    * against it — no xz source was available or consulted on this
    * system. The encoder's scheme, as recovered:
    *
    *   - JAL with rd = x1/x5 (byte0 0xEF, byte1 & 0x0D == 0): the
    *     scattered J-immediate becomes the absolute HALFWORD address
    *     ((jimm + pc) >> 1, 20 bits) stored byte-reversed in bits
    *     12..31; advance 4.
    *   - AUIPC rd ∉ {x0,x2} whose NEXT word has (w2 & 3) == 3 and
    *     rs1(w2) == rd — the "pair shape" — is PACKED: word1 becomes
    *     the marker `inst2[19:0] << 12 | 0x117` (an AUIPC-x2 no
    *     compiler emits), word2 the absolute address
    *     (imm20 << 12) + signext(imm12) + pc stored BIG-endian;
    *     advance 8.
    *   - AUIPC-x2 words whose imm happens to LOOK like a packed
    *     marker ((imm & 3) == 3, rs1(imm) ∉ {0,2}) are ESCAPED into
    *     the pair-shape space the packing vacated: word1' =
    *     (w2 >>> 12) << 12 | rs1(imm) << 7 | 0x17, word2' =
    *     (w2 & 0xFFF) << 20 | imm; advance 8. The two swaps make the
    *     whole transform a bijection.
    *   - Non-converting AUIPCs still consume scan positions: a failed
    *     pair advances 6, a failed marker/escape 4 — the decoder must
    *     replay the exact same skips or it desyncs.
    *
    * This decode reverses all of it in place. */
  def riscvDecode(buf: Array[Byte], startOffset: Long): Unit = {
    val pc0 = startOffset.toInt
    val n = buf.length
    @inline def w32(p: Int): Int =
      (buf(p) & 0xff) | ((buf(p + 1) & 0xff) << 8) |
        ((buf(p + 2) & 0xff) << 16) | ((buf(p + 3) & 0xff) << 24)
    @inline def put32(p: Int, v: Int): Unit = {
      buf(p) = v.toByte; buf(p + 1) = (v >>> 8).toByte
      buf(p + 2) = (v >>> 16).toByte; buf(p + 3) = (v >>> 24).toByte
    }
    var i = 0
    while (i + 8 <= n) {
      val b0 = buf(i) & 0xff
      if (b0 == 0xEF && (buf(i + 1) & 0x0D) == 0) {
        val w = w32(i)
        val a = ((w >>> 24) & 0xFF) | (((w >>> 16) & 0xFF) << 8) |
          (((w >>> 12) & 0xF) << 16)
        val imm = ((a << 1) - (pc0 + i)) & 0x1FFFFF
        put32(i, ((imm >>> 20) & 1) << 31 | ((imm >>> 1) & 0x3FF) << 21 |
          ((imm >>> 11) & 1) << 20 | ((imm >>> 12) & 0xFF) << 12 |
          (w & 0xFFF))
        i += 4
      } else if ((b0 & 0x7F) == 0x17) {
        val w1 = w32(i)
        val w2 = w32(i + 4)
        if ((w1 & 0xE80) != 0) {
          val rd = (w1 >>> 7) & 0x1F
          if ((w2 & 3) == 3 && ((w2 >>> 15) & 0x1F) == rd) {
            // pair shape: an escaped AUIPC-x2 — restore it
            val imm20 = w2 & 0xFFFFF
            put32(i, (imm20 << 12) | 0x117)
            put32(i + 4, ((w2 >>> 20) & 0xFFF) | ((w1 >>> 12) << 12))
            i += 8
          } else i += 6
        } else {
          var unpacked = false
          if ((w1 & 0xFFF) == 0x117) {
            val inst2 = w1 >>> 12
            val rs1 = (inst2 >>> 15) & 0x1F
            if ((inst2 & 3) == 3 && rs1 != 0 && rs1 != 2) {
              // packed marker: restore (AUIPC rs1, inst2 + imm12)
              val addr = ((buf(i + 4) & 0xff) << 24) |
                ((buf(i + 5) & 0xff) << 16) |
                ((buf(i + 6) & 0xff) << 8) | (buf(i + 7) & 0xff)
              val rel = addr - (pc0 + i)
              val imm12 = rel & 0xFFF
              val imm20 = ((rel + 0x800) >>> 12) & 0xFFFFF
              put32(i, (imm20 << 12) | (rs1 << 7) | 0x17)
              put32(i + 4, (imm12 << 20) | (inst2 & 0xFFFFF))
              i += 8
              unpacked = true
            }
          }
          if (!unpacked) i += 4
        }
      } else i += 2
    }
  }

  /** xz delta filter (0x03) decode: `out[i] += out[i - dist]` with a
    * zeroed pre-history, dist 1..256 from the 1-byte property. */
  def deltaDecode(buf: Array[Byte], dist: Int): Unit = {
    var i = dist
    while (i < buf.length) {
      buf(i) = (buf(i) + buf(i - dist)).toByte
      i += 1
    }
  }

  /** Branch slots per IA-64 bundle template (indexed by the 5-bit
    * template field): bit k set = slot k holds a convertible branch. */
  private val Ia64Branches = Array(
    0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0,
    4, 4, 6, 6, 0, 0, 7, 7,
    4, 4, 0, 0, 4, 4, 0, 0)

  /** IA-64 (0x06): 16-byte bundles of three 41-bit slots; a relative
    * `brl`-class branch (opcode 5, the middle 27 bits zero) carries a
    * 21-bit, 16-byte-scaled displacement split across the slot. */
  def ia64Decode(buf: Array[Byte], startOffset: Long): Unit = {
    val now = startOffset.toInt
    var i = 0
    while (i + 16 <= buf.length) {
      val template = buf(i) & 0x1F
      val mask = Ia64Branches(template)
      var slot = 0
      while (slot < 3) {
        if (((mask >> slot) & 1) != 0) {
          val bitPos = 5 + slot * 41
          val bytePos = bitPos >> 3
          val bitRes = bitPos & 7
          var instruction = 0L
          var k = 0
          while (k < 6) {
            instruction |= (buf(i + bytePos + k) & 0xffL) << (8 * k)
            k += 1
          }
          var instNorm = instruction >>> bitRes
          // brl class: opcode 5 with btype (3 bits at bit 9) zero —
          // pinned against liblzma: a 27-bit-zeros over-restriction
          // here silently skips real branches
          if (((instNorm >>> 37) & 0xF) == 5 &&
            ((instNorm >>> 9) & 0x7) == 0) {
            var src = ((instNorm >>> 13) & 0xFFFFF) |
              (((instNorm >>> 36) & 1) << 20)
            src <<= 4
            var dest = (src - (now + i).toLong) & 0xFFFFFFFFL // mod 2^32
            dest >>>= 4
            instNorm &= ~(0x8FFFFFL << 13)
            instNorm |= (dest & 0xFFFFF) << 13
            instNorm |= (dest & 0x100000) << (36 - 20)
            instruction &= (1L << bitRes) - 1
            instruction |= instNorm << bitRes
            k = 0
            while (k < 6) {
              buf(i + bytePos + k) = (instruction >>> (8 * k)).toByte
              k += 1
            }
          }
        }
        slot += 1
      }
      i += 16
    }
  }
}
