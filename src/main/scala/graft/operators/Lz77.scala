package graft.operators

/** Shared greedy hash-chain LZ77 primitives (late r14) — ONE match
  * finder behind both entropy coders ([[ZstdEncode]]'s zstd frames
  * and [[XzEncode]]'s LZMA chunks, which had grown a verbatim
  * copy): 4-byte multiplicative hash, bounded chain walk with the
  * mismatch-accelerated probe (only candidates that can beat the
  * current best get a full compare), sparse every-2nd insertion of
  * consumed match bodies, and INPUT-SIZED tables — a ~400-byte
  * corpus shard no longer allocates the full 1.5 MiB head/prev
  * pair per call (the review-flagged GC churn in the jsonl write
  * lanes and the per-member 7z builder). */
private[operators] object Lz77 {

  final val MinMatch = 4

  def hash4(b: Array[Byte], i: Int, hashLog: Int): Int = {
    (Bytes.le32(b, i) * -1640531535) >>> (32 - hashLog)
  }

  /** Probe the chain for the best match at `i` and INSERT i into
    * it. Returns (len << 32) | (offset & 0xffffffff); len 0 when
    * nothing ≥ MinMatch was found. `goodEnough` stops the chain
    * walk early once a match that long is in hand. */
  def probe(data: Array[Byte], i: Int, matchLimit: Int,
      maxLen0: Int, goodEnough: Int, chainDepth: Int,
      head: Array[Int], prev: Array[Int], hashLog: Int): Long = {
    var bestLen = 0
    var bestOff = 0
    if (i + MinMatch <= matchLimit) {
      val h = hash4(data, i, hashLog)
      var cand = head(h)
      var depth = 0
      val maxL = math.min(matchLimit - i, maxLen0)
      while (cand >= 0 && depth < chainDepth) {
        // only rescan candidates that can BEAT the current best:
        // the byte at bestLen must already match (cuts the chain
        // walk from O(chain × matchLen) to ~one probe per loser)
        if (cand < i && (bestLen == 0 ||
          (bestLen < maxL &&
            data(cand + bestLen) == data(i + bestLen)))) {
          val l = java.util.Arrays.mismatch(data, cand,
            cand + maxL, data, i, i + maxL)
          val len = if (l < 0) maxL else l
          if (len >= MinMatch && len > bestLen) {
            bestLen = len; bestOff = i - cand
            // good enough — further chain walking can only add a
            // few bits of offset savings at real cost
            if (bestLen >= goodEnough) depth = chainDepth
          }
        }
        cand = prev(cand & (prev.length - 1))
        depth += 1
      }
      prev(i & (prev.length - 1)) = head(h)
      head(h) = i
    }
    (bestLen.toLong << 32) | (bestOff.toLong & 0xffffffffL)
  }

  /** Sparse (every 2nd position) insertion of a consumed match
    * body into the chain. */
  def insertSkipped(data: Array[Byte], from: Int, stop: Int,
      head: Array[Int], prev: Array[Int], hashLog: Int): Unit = {
    var k = from
    while (k < stop) {
      val h = hash4(data, k, hashLog)
      prev(k & (prev.length - 1)) = head(h)
      head(h) = k
      k += 2
    }
  }

  /** Input-sized chain tables: (head, prev, hashLog). hashLog
    * grows with n up to `maxLog` (12 floor); prev is a power of
    * two covering n up to 2^18 (beyond that positions alias, which
    * only costs ratio, never correctness). */
  def tables(n: Int, maxLog: Int): (Array[Int], Array[Int], Int) = {
    var hl = 12
    while (hl < maxLog && (1 << hl) < n) hl += 1
    var ps = 1 << 12
    while (ps < (1 << 18) && ps < n) ps <<= 1
    (Array.fill(1 << hl)(-1), Array.fill(ps)(-1), hl)
  }
}
