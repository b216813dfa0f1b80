package graft.index

import scala.collection.mutable.ArrayBuffer

/** Bit-packed block codec for docId-sorted posting lists, with block-max
  * metadata for WAND pruning (SURVEY.md §7.2 M2).
  *
  * The reference keeps postings as insertion-ordered string-keyed map entries
  * (`"tfScore#docID"` → docLen, reference: indexing.go:130-139) — pointer-heavy
  * and uncompressed. The rebuild packs each (term, shard) posting run into a
  * single binary blob of blocks of ≤ 128 postings, each block self-describing:
  *
  *   block  = varint(count), varint(firstDocId - prevBlockLastDocId), varint(minDl),
  *            then for count ≥ 2: byte(wGap), byte(wTf), byte(wDl) and three
  *              bit-packed, byte-aligned columns at those widths —
  *              gap − 1 (count − 1 values), tf − 1 and dl − minDl (count each);
  *            for count = 1: varint(tf − 1)
  *   blocks = repeat( varint(firstDocId - prevFirst), varint(lastDocId - firstDocId),
  *                    varint(maxTf), varint(minDl), varint(byteOffsetDelta),
  *                    varint(count) )                       // one per block
  *
  * Each block picks its own widths, so a dense block of a hot term packs its
  * gaps in a bit or two. `blocks` is the skip index: block metadata stores
  * (maxTf, minDl) rather than a precomputed max *score* so the BM25 upper
  * bound can be formed with the live avgdl at query time (tf/(tf+c) is
  * increasing in tf and decreasing in dl, so (maxTf, minDl) dominates every
  * posting in the block). The blob alone decodes without it
  * (`posting_explode`).
  *
  * Every reader goes through one [[Cursor]]: it unpacks a block's docIds
  * when it enters the block and reads tf and dl from the packed columns only
  * for the postings it is asked about.
  */
object PostingCodec {

  val BlockSize = 128

  /** The blob layout [[encode]] writes. A store records it in its manifest
    * and in each postings done-marker; a store without it holds the older
    * delta+varint blobs, which no reader decodes. */
  val Format = "packed128"

  final case class BlockMeta(
      firstDocId: Long,
      lastDocId: Long,
      maxTf: Int,
      minDl: Int,
      offset: Int, // byte offset of the block's header in the blob
      count: Int
  )

  // ---- varint primitives (unsigned LEB128) ----

  @inline def writeVarint(buf: ArrayBuffer[Byte], value: Long): Unit = {
    var v = value
    require(v >= 0, s"varint requires non-negative value, got $v")
    while ((v & ~0x7fL) != 0) {
      buf += ((v & 0x7f) | 0x80).toByte
      v >>>= 7
    }
    buf += v.toByte
  }

  /** Reads one varint starting at `pos(0)`; advances `pos(0)`. */
  @inline def readVarint(bytes: Array[Byte], pos: Array[Int]): Long = {
    var result = 0L
    var shift = 0
    var i = pos(0)
    var b = 0
    do {
      b = bytes(i) & 0xff
      result |= (b & 0x7fL) << shift
      shift += 7
      i += 1
    } while ((b & 0x80) != 0)
    pos(0) = i
    result
  }

  // ---- bit packing ----

  /** Bits needed for `max` (0 for 0). */
  private def width(max: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(max)

  /** Appends `n` values of `w` bits each, least significant bit first, then
    * pads to a whole byte. */
  private def pack(buf: ArrayBuffer[Byte], vals: Array[Long], n: Int, w: Int): Unit = {
    var cur = 0L
    var filled = 0
    var i = 0
    while (i < n) {
      var v = vals(i)
      var left = w
      while (left > 0) {
        val take = math.min(left, 8 - filled)
        cur |= (v & ((1L << take) - 1)) << filled
        filled += take
        v >>>= take
        left -= take
        if (filled == 8) { buf += cur.toByte; cur = 0L; filled = 0 }
      }
      i += 1
    }
    if (filled > 0) buf += cur.toByte
  }

  // ---- encode ----

  /** Encodes docId-sorted (docId, tf, dl) triplets (tf ≥ 1, dl ≥ 0).
    * @return (blockMetaBytes, blobBytes) */
  def encode(postings: Array[(Long, Int, Int)]): (Array[Byte], Array[Byte]) = {
    val blob = new ArrayBuffer[Byte](postings.length * 3 + 16)
    val blocks = new ArrayBuffer[Byte](postings.length / BlockSize * 8 + 16)
    val gaps = new Array[Long](BlockSize)
    val tfs = new Array[Long](BlockSize)
    val dls = new Array[Long](BlockSize)
    var prevLast = 0L
    var prevBlockFirst = 0L
    var prevOffset = 0
    var i = 0
    while (i < postings.length) {
      val n = math.min(BlockSize, postings.length - i)
      val blockOffset = blob.length
      val firstDoc = postings(i)._1
      require(if (i == 0) firstDoc >= 0 else firstDoc > prevLast,
        s"postings must be strictly docId-sorted: $firstDoc after $prevLast")
      var maxTf = 0
      var minDl = Int.MaxValue
      var orGap = 0L // OR of a column's values: its width is the OR's
      var orTf = 0L
      var j = 0
      while (j < n) {
        val (d, tf, dl) = postings(i + j)
        require(tf >= 1 && dl >= 0, s"posting ($d, $tf, $dl) needs tf >= 1 and dl >= 0")
        if (j > 0) {
          val prev = postings(i + j - 1)._1
          require(d > prev, s"postings must be strictly docId-sorted: $d after $prev")
          gaps(j - 1) = d - prev - 1
          orGap |= gaps(j - 1)
        }
        tfs(j) = tf - 1L
        orTf |= tfs(j)
        if (tf > maxTf) maxTf = tf
        if (dl < minDl) minDl = dl
        j += 1
      }
      writeVarint(blob, n.toLong)
      writeVarint(blob, firstDoc - prevLast)
      writeVarint(blob, minDl.toLong)
      if (n == 1) writeVarint(blob, tfs(0))
      else {
        var orDl = 0L
        j = 0
        while (j < n) { dls(j) = postings(i + j)._3.toLong - minDl; orDl |= dls(j); j += 1 }
        val wGap = width(orGap)
        val wTf = width(orTf)
        val wDl = width(orDl)
        blob += wGap.toByte
        blob += wTf.toByte
        blob += wDl.toByte
        pack(blob, gaps, n - 1, wGap)
        pack(blob, tfs, n, wTf)
        pack(blob, dls, n, wDl)
      }
      val lastDoc = postings(i + n - 1)._1
      writeVarint(blocks, firstDoc - prevBlockFirst)
      writeVarint(blocks, lastDoc - firstDoc)
      writeVarint(blocks, maxTf.toLong)
      writeVarint(blocks, minDl.toLong)
      writeVarint(blocks, (blockOffset - prevOffset).toLong)
      writeVarint(blocks, n.toLong)
      prevBlockFirst = firstDoc
      prevOffset = blockOffset
      prevLast = lastDoc
      i += n
    }
    (blocks.toArray, blob.toArray)
  }

  // ---- decode ----

  def decodeBlocks(blocks: Array[Byte]): Array[BlockMeta] = {
    val out = new ArrayBuffer[BlockMeta]()
    val pos = Array(0)
    var prevFirst = 0L
    var prevOffset = 0
    while (pos(0) < blocks.length) {
      val first = prevFirst + readVarint(blocks, pos)
      val last = first + readVarint(blocks, pos)
      val maxTf = readVarint(blocks, pos).toInt
      val minDl = readVarint(blocks, pos).toInt
      val offset = prevOffset + readVarint(blocks, pos).toInt
      val count = readVarint(blocks, pos).toInt
      out += BlockMeta(first, last, maxTf, minDl, offset, count)
      prevFirst = first
      prevOffset = offset
    }
    out.toArray
  }

  /** Postings in a list, summed from its block metadata (nothing decoded). */
  def postingCount(blocks: Array[Byte]): Long = {
    val pos = Array(0)
    var n = 0L
    while (pos(0) < blocks.length) {
      var f = 0
      while (f < 5) { readVarint(blocks, pos); f += 1 }
      n += readVarint(blocks, pos)
    }
    n
  }

  /** Full sequential decode (tests). */
  def decodeAll(blob: Array[Byte]): Array[(Long, Int, Int)] = {
    val out = new ArrayBuffer[(Long, Int, Int)]()
    val c = new Cursor(blob)
    while (c.next()) out += ((c.docId, c.tf, c.dl))
    out.toArray
  }

  /** The one reader of an encoded posting list. `next()` walks the blob
    * block by block; with the list's block metadata, `advanceTo(docId)`
    * also seeks at block granularity (decoding nothing it skips), and the
    * block accessors serve WAND's bounds. Entering a block unpacks its docIds
    * into a buffer allocated once, sized by block 0 (the largest: every
    * block but the last holds [[BlockSize]] postings); tf and dl are read
    * from the packed columns on request, for the current posting only.
    */
  final class Cursor(blob: Array[Byte], blockMeta: Array[BlockMeta]) {

    /** A cursor over the blob alone: `next()`/`advanceTo` walk it in order. */
    def this(blob: Array[Byte]) = this(blob, null)

    private val pos = Array(0)
    private var exhausted = blob.length == 0 || (blockMeta != null && blockMeta.isEmpty)
    private val docs = new Array[Long](if (exhausted) 0 else readVarint(blob, pos).toInt)
    private var blockIdx = 0
    private var count = 0 // postings in the current block
    private var i = -1 // the current posting's index in its block
    private var minDl = 0
    private var singleTf = 0 // the tf of a one-posting block
    private var wTf = 0
    private var wDl = 0
    private var tfBase = 0 // byte offsets of the packed tf and dl columns
    private var dlBase = 0
    private var nextBlock = 0 // byte offset of the following block
    private var curDoc = -1L

    if (!exhausted) loadBlock(0, 0, 0L)

    /** Enters block `bi`, whose header starts at byte `offset`, and unpacks
      * its docIds; `prevLast` is the last docId of block `bi - 1` (0 for
      * the first). */
    private def loadBlock(bi: Int, offset: Int, prevLast: Long): Unit = {
      blockIdx = bi
      i = -1
      pos(0) = offset
      count = readVarint(blob, pos).toInt
      val first = prevLast + readVarint(blob, pos)
      minDl = readVarint(blob, pos).toInt
      docs(0) = first
      if (count == 1) {
        singleTf = readVarint(blob, pos).toInt + 1
        nextBlock = pos(0)
      } else {
        val p = pos(0)
        val wGap = blob(p).toInt
        wTf = blob(p + 1).toInt
        wDl = blob(p + 2).toInt
        val gapBase = p + 3
        tfBase = gapBase + (((count - 1) * wGap + 7) >>> 3)
        dlBase = tfBase + ((count * wTf + 7) >>> 3)
        nextBlock = dlBase + ((count * wDl + 7) >>> 3)
        var d = first
        var j = 1
        if (wGap <= 56) {
          // one pass over the gap column, a byte at a time into a bit buffer
          val mask = (1L << wGap) - 1
          var buf = 0L
          var have = 0
          var at = gapBase
          while (j < count) {
            while (have < wGap) { buf |= (blob(at) & 0xffL) << have; have += 8; at += 1 }
            d += (buf & mask) + 1
            buf >>>= wGap
            have -= wGap
            docs(j) = d
            j += 1
          }
        } else while (j < count) {
          val bit = (j - 1) * wGap
          d += (column(gapBase, bit, 32) | (column(gapBase, bit + 32, wGap - 32) << 32)) + 1
          docs(j) = d
          j += 1
        }
      }
    }

    private def exhaust(): Boolean = { exhausted = true; curDoc = Long.MaxValue; false }

    /** Advances to the next posting; returns false when exhausted. */
    def next(): Boolean = {
      if (exhausted) return false
      i += 1
      if (i >= count) {
        if (nextBlock >= blob.length) return exhaust()
        loadBlock(blockIdx + 1, nextBlock, docs(count - 1))
        i = 0
      }
      curDoc = docs(i)
      true
    }

    /** Positions the cursor at the first posting with docId >= target.
      * Returns false if no such posting exists. */
    def advanceTo(target: Long): Boolean = {
      if (exhausted) return false
      if (curDoc >= target) return true
      // block-level skip over the metadata
      if (blockMeta != null && blockMeta(blockIdx).lastDocId < target) {
        var bi = blockIdx + 1
        while (bi < blockMeta.length && blockMeta(bi).lastDocId < target) bi += 1
        if (bi >= blockMeta.length) return exhaust()
        loadBlock(bi, blockMeta(bi).offset, blockMeta(bi - 1).lastDocId)
      }
      while (curDoc < target) if (!next()) return false
      true
    }

    def docId: Long = curDoc
    def tf: Int = if (count == 1) singleTf else column(tfBase, i * wTf, wTf).toInt + 1
    def dl: Int = if (count == 1) minDl else minDl + column(dlBase, i * wDl, wDl).toInt

    /** The `w`-bit value (w ≤ 32) at bit `bit` of the column at byte `base`:
      * the tf and dl columns are never wider than 31 bits. */
    private def column(base: Int, bit: Int, w: Int): Long = {
      if (w == 0) return 0L
      var at = base + (bit >>> 3)
      val end = base + ((bit + w + 7) >>> 3)
      var v = 0L
      var s = 0
      while (at < end) { v |= (blob(at) & 0xffL) << s; s += 8; at += 1 }
      (v >>> (bit & 7)) & ((1L << w) - 1)
    }
    def isExhausted: Boolean = exhausted
    def currentBlock: BlockMeta = blockMeta(blockIdx)

    /** Max docId of the current block (WAND shallow-advance bound). */
    def blockLastDocId: Long =
      if (exhausted) Long.MaxValue else blockMeta(blockIdx).lastDocId

    /** Shallow pointer: the block that could contain `target` (searched from
      * the current block forward, metadata only — nothing is decoded).
      * None if `target` cannot appear at or after the cursor position. */
    def blockFor(target: Long): Option[BlockMeta] = {
      val bi = blockIndexFor(target)
      if (bi < 0 || blockMeta(bi).firstDocId > target) None // past the end, or a gap
      else Some(blockMeta(bi))
    }

    /** Allocation-free shallow pointer (the WAND inner loop calls this once
      * per refinement per cursor — an Option per call was measurable):
      * index of the first not-yet-passed block whose lastDocId ≥ `target`,
      * or -1 when `target` falls past every remaining block. Unlike
      * [[blockFor]] the GAP case (block.firstDocId > target) still returns
      * the index — the caller reads the boundary fields to distinguish it. */
    def blockIndexFor(target: Long): Int = {
      if (exhausted) return -1
      var bi = blockIdx
      while (bi < blockMeta.length && blockMeta(bi).lastDocId < target) bi += 1
      if (bi >= blockMeta.length) -1 else bi
    }

    def blockFirstDocId(bi: Int): Long = blockMeta(bi).firstDocId
    def blockLastDocIdAt(bi: Int): Long = blockMeta(bi).lastDocId
    def blockMaxTf(bi: Int): Int = blockMeta(bi).maxTf
    def blockMinDl(bi: Int): Int = blockMeta(bi).minDl
  }
}
