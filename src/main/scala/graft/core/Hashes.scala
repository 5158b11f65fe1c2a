package graft.core

import java.nio.charset.StandardCharsets

/** Deterministic hash kernels (pure Scala, no Spark deps). */
object Hashes {
  // ---- FNV-1 64-bit (matches Go's hash/fnv New64, used by the reference
  // for MVT feature ids: /root/reference/src/diagonal.works/b6/api/tiles.go:10-32) ----
  final val FnvOffset = -3750763034362895579L // 14695981039346656037
  final val FnvPrime  = 1099511628211L

  def fnv1(bytes: Array[Byte]): Long = {
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) {
      h = h * FnvPrime
      h ^= (bytes(i) & 0xffL)
      i += 1
    }
    h
  }

  /** FNV-1 of little-endian(typeCode) ++ namespace ++ little-endian(value) —
    * byte-for-byte the reference's TileFeatureID. */
  def tileFeatureId(typeCode: Long, namespace: String, value: Long): Long = {
    var h = FnvOffset
    def mixLe(v: Long): Unit = {
      var k = 0
      while (k < 8) { h = h * FnvPrime; h ^= ((v >>> (8 * k)) & 0xffL); k += 1 }
    }
    mixLe(typeCode)
    val ns = namespace.getBytes(StandardCharsets.UTF_8)
    var i = 0
    while (i < ns.length) { h = h * FnvPrime; h ^= (ns(i) & 0xffL); i += 1 }
    mixLe(value)
    h
  }

  // ---- splitmix64: the fixture phash generator (FIXTURES.md §1) ----
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ---- 64-bit string hash (FNV-1a) for dedup/minhash token hashing ----
  def fnv1a(s: String): Long = {
    var h = FnvOffset
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h = h * FnvPrime
      i += 1
    }
    h
  }

  /** MinHash signature of a token set: for each of `k` permutations
    * h_i(x) = splitmix64(x + i * GOLDEN), take the minimum over tokens. */
  def minhash(tokenHashes: Array[Long], k: Int): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    var t = 0
    while (t < tokenHashes.length) {
      val base = tokenHashes(t)
      var i = 0
      while (i < k) {
        val h = splitmix64(base + i * 0x9E3779B97F4A7C15L)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      t += 1
    }
    sig
  }

  /** SimHash (64-bit) of weighted token hashes. */
  def simhash(tokenHashes: Array[Long]): Long = {
    val counts = new Array[Int](64)
    var t = 0
    while (t < tokenHashes.length) {
      val h = tokenHashes(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003,
    * SIGMOD "Winnowing: Local Algorithms for Document Fingerprinting" §4 —
    * the MOSS algorithm) over a k-gram hash sequence: slide a window of
    * `w` consecutive gram hashes; in each window select the minimum,
    * taking the RIGHTMOST position on ties (the paper's rule — it
    * minimizes the fingerprint density); each selected POSITION is
    * recorded once even when consecutive windows re-select it. Guarantee
    * (paper §3): any substring match of length >= w + k - 1 shares at
    * least one selected fingerprint, which is what makes the pair join
    * over selected hashes a sound near-dup candidate generator.
    *
    * O(n) via a monotone deque; the golden oracle recomputes selection
    * with an independent per-window right-to-left rescan
    * (graft.oracle.Golden.winnowSelect), so the deque logic itself is
    * gate-checked. Returns (hash, gram index) in selection order. */
  def winnow(grams: Array[Long], w: Int): Array[(Long, Int)] = {
    require(w >= 1, s"winnow: window must be >= 1, got $w")
    if (grams.length < w) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    val dq = new java.util.ArrayDeque[Int]()
    var last = -1
    var i = 0
    while (i < grams.length) {
      // >= pop: an equal older value is discarded, so the deque front is
      // always the rightmost occurrence of the window minimum
      while (!dq.isEmpty && grams(dq.peekLast) >= grams(i)) dq.pollLast()
      dq.addLast(i)
      if (dq.peekFirst <= i - w) dq.pollFirst()
      if (i >= w - 1 && dq.peekFirst != last) {
        last = dq.peekFirst
        out += ((grams(last), last))
      }
      i += 1
    }
    out.toArray
  }

  /** Karp-Rabin rolling-hash document fingerprint: polynomial hash of the
    * whole string, base 257 mod 2^61-1. */
  def fingerprint(s: String): Long = {
    val M = (1L << 61) - 1
    var h = 0L
    var i = 0
    while (i < s.length) {
      // h = (h * 257 + c) mod M, using 128-bit-free mulmod via Math.multiplyHigh
      val hi = Math.multiplyHigh(h, 257L)
      val lo = h * 257L
      // fold 2^64 mod (2^61-1) = 8: (hi*2^64 + lo) mod M = (hi*8 + lo) mod M
      var v = (lo & M) + (((lo >>> 61) | (hi << 3)) & M) + (hi >>> 58)
      if (v >= M) v -= M
      h = v + s.charAt(i).toLong
      if (h >= M) h -= M
      i += 1
    }
    h
  }
}
