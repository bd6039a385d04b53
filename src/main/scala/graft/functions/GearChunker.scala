package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** FastCDC-style gear-hash content-defined chunking — the PRODUCTION
  * counterpart of the md5-window chunker in
  * [[graft.queries.DocQueries.cdcChunks]]: O(1) per byte instead of O(W)
  * (one shift-add-lookup), with the min/max chunk bounds real deployments
  * need (min suppresses pathological boundary runs, max bounds chunk state
  * under adversarial content — the sequential suppression that cannot be
  * expressed as a window function, which is why THIS variant is spec-pinned
  * while the md5-window variant carries the SQL oracle).
  *
  * Gear recurrence (Xia et al., FastCDC / ddelta): h = (h << 1) + G[b];
  * a boundary lands after byte i when (h & Mask) == 0 and the chunk has
  * reached MinLen; a chunk is force-cut at MaxLen. The shift-out gives the
  * hash an implicit context window (bit p of h depends on the last p+1
  * bytes), so boundaries are content-local and an edit re-synchronizes
  * within one context window — the shift-invariance that makes CDC the
  * storage-dedup layer for 100-TB blob/corpus stores.
  *
  * Determinism: the 256-entry gear table derives from md5("gear:i") — no
  * RNG, reproducible from the source alone. Chunk identity is FNV-1a 64
  * over the chunk's bytes.
  */
object GearChunker {

  /** Boundary mask: 5 spread bits at positions 8..20 — P(boundary) = 2^-5
    * (avg chunk ~32 bytes on random input), context window 21 bytes. */
  final val Mask: Long = (1L << 8) | (1L << 11) | (1L << 14) | (1L << 17) | (1L << 20)
  final val MinLen = 8
  final val MaxLen = 128

  private def tableFrom(prefix: String): Array[Long] = {
    Array.tabulate(256) { i =>
      val d = Digests.md5Utf8(s"$prefix:$i")
      var h = 0L
      var j = 0
      while (j < 8) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
      h
    }
  }

  /** First 8 bytes of md5("gear:" + i), big-endian, per table slot. */
  val gearTable: Array[Long] = tableFrom("gear")

  /** Independent second table (md5("gear2:" + i)) for the BLOCKING walk's
    * second pass: same recurrence, different boundary placement, so the
    * two passes' clean-chunk events are quasi-independent under scattered
    * edits (measured: the 2-seed union lifts e8-scattered planted recall
    * 0.82 → 0.88 over one seed alone at the same mask). */
  val gearTable2: Array[Long] = tableFrom("gear2")

  /** FNV-1a 64 over bytes [from, until). */
  def fnv64(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h ^= bytes(i) & 0xffL
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Chunk spans over the raw bytes: (start0, len) pairs, tiling [0, n). */
  def boundaries(bytes: Array[Byte]): Array[(Int, Int)] =
    boundariesWith(bytes, gearTable, Mask, MinLen, MaxLen)

  /** The same suppressed walk with every constant a parameter — one walk
    * definition shared by the storage chunker above and the fuzzy-blocking
    * chunkers below, so their SQL replays pin a single recurrence. */
  def boundariesWith(bytes: Array[Byte], table: Array[Long], mask: Long,
                     minLen: Int, maxLen: Int): Array[(Int, Int)] = {
    val n = bytes.length
    if (n == 0) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var start = 0
    var h = 0L
    var i = 0
    while (i < n) {
      h = (h << 1) + table(bytes(i) & 0xff)
      val len = i - start + 1
      if ((len >= minLen && (h & mask) == 0L && i != n - 1) || len == maxLen) {
        out += ((start, len))
        start = i + 1
        h = 0L // restart the hash per chunk: boundaries stay content-local
      }
      i += 1
    }
    if (start < n) out += ((start, n - start))
    out.toArray
  }

  /** Chunks of a UTF8String as (start 1-based byte offset, len, fnv64). */
  def chunks(s: UTF8String): Array[(Int, Int, Long)] = {
    val bytes = s.getBytes
    boundaries(bytes).map { case (st, ln) =>
      (st + 1, ln, fnv64(bytes, st, st + ln))
    }
  }

  /** The ORACLE-ABLE sibling of [[boundaries]]: the same gear table, shift-
    * add recurrence and mask, with the three sequential-only features
    * disabled — no per-chunk hash restart, no MinLen suppression, no MaxLen
    * force-cut — and the walk over CODEPOINTS (table index `cp & 0xff`)
    * instead of bytes so both engines substring identically on non-ASCII.
    *
    * Why this is exactly SQL-replayable: with no restart, bit p of h
    * depends only on the last p+1 inputs, and the mask's top bit is 2^20,
    * so `h_i & Mask = (Σ_{k=0..20} G[cp_{i-k}]·2^k mod 2^21) & Mask` — a
    * pure 21-codepoint window sum per position, no sequential state at
    * all. The production walk's restart/min/max only move boundaries
    * NEAR other boundaries; the hash math this variant pins down (table
    * constants, recurrence, mask test) is byte-for-byte the production
    * path's. Returns (start0, len) codepoint spans tiling [0, n). */
  def rawChunks(s: String): Array[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var h = 0L
    var charIdx = 0
    var cpIdx = 0
    var start = 0
    while (charIdx < s.length) {
      val cp = s.codePointAt(charIdx)
      charIdx += Character.charCount(cp)
      cpIdx += 1
      h = (h << 1) + gearTable(cp & 0xff)
      if ((h & Mask) == 0L && charIdx < s.length) {
        out += ((start, cpIdx - start))
        start = cpIdx
      }
    }
    if (cpIdx > start) out += ((start, cpIdx - start))
    out.toArray
  }

  /** The gear table reduced mod 2^21 — the only bits that can ever reach
    * the mask test; what the SQL oracle embeds. */
  def gearTableLow21: Array[Long] = gearTable.map(_ & 0x1FFFFFL)

  // ------------------------------------------------- fuzzy-blocking walk
  // A SECOND chunker parameterization used as a near-dup BLOCKING signal
  // (not a storage chunker): smaller chunks (P(boundary)=2^-4 after MinLen,
  // ~22-byte average on the fixture text, max 64) so a ~300-char document
  // carries ~14 chunks per pass and a scattered single-character edit
  // dirties only the chunk it lands in — the pigeonhole complement to
  // shingle-MinHash banding, whose shingles a scattered edit destroys
  // token-by-token. Two independent gear tables run the same walk; a pair
  // is a candidate when ANY pass of either doc shares a clean chunk.

  /** Blocking mask: 4 spread bits at 8..17 — P(boundary) = 2^-4, context
    * window 18 bytes (top bit 2^17). */
  final val BlockMask: Long = (1L << 8) | (1L << 11) | (1L << 14) | (1L << 17)
  final val BlockMinLen = 8
  final val BlockMaxLen = 64

  /** Tag XORed into pass-2 keys so the two passes' buckets stay disjoint
    * (a cross-pass content collision is harmless but inflates buckets);
    * 2^64/phi — the usual public mixing constant. */
  final val BlockSeed2Tag: Long = 0x9e3779b97f4a7c15L

  /** Distinct blocking keys of a document: fnv64 over each chunk of the
    * pass-1 walk, plus fnv64 XOR [[BlockSeed2Tag]] over each chunk of the
    * pass-2 walk. */
  def blockKeys(s: UTF8String): Array[Long] = {
    val bytes = s.getBytes
    val out = new java.util.LinkedHashSet[java.lang.Long]
    boundariesWith(bytes, gearTable, BlockMask, BlockMinLen, BlockMaxLen)
      .foreach { case (st, ln) =>
        out.add(fnv64(bytes, st, st + ln)): Unit
      }
    boundariesWith(bytes, gearTable2, BlockMask, BlockMinLen, BlockMaxLen)
      .foreach { case (st, ln) =>
        out.add(fnv64(bytes, st, st + ln) ^ BlockSeed2Tag): Unit
      }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    arr
  }

  /** Both blocking tables reduced mod 2^18 (the blocking mask tops at
    * 2^17) — what the blocking walk's SQL replay embeds. */
  def blockTablesLow18: (Array[Long], Array[Long]) =
    (gearTable.map(_ & 0x3FFFFL), gearTable2.map(_ & 0x3FFFFL))
}
