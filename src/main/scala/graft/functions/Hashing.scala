package graft.functions

import graft.core.{TextKeys, WhitespaceTokenizer}
import scala.util.hashing.MurmurHash3

/** Deterministic sketch hashes for near-duplicate detection (the
  * training-data-pipeline dedup operators; see builder brief + SURVEY §7.1#7).
  *
  * MinHash: word 3-gram shingles → 64-bit shingle hash → k=64 universal-hash
  * permutations ((a*h+b) mod p), banded 16×4 for LSH bucketing.
  * SimHash: 64-bit sign-aggregated token-hash sketch.
  * All seeds fixed → stable across runs/executors (idempotent re-runs, the
  * reference's stable-key property X3 applied to sketches).
  */
object Hashing {
  val NumPerm = 64
  val Bands = 16
  val RowsPerBand: Int = NumPerm / Bands // 4
  val ShingleSize = 3
  private val Prime = (1L << 61) - 1 // Mersenne prime 2^61-1

  /** splitmix64 finalizer — the one canonical copy (coefficient seeding and
    * the winnowing rolling hash both mix through it).
    */
  private[graft] def fmix64(x0: Long): Long = {
    var z = x0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // Fixed pseudo-random coefficients (splitmix64 from seed 42).
  private val (coeffA, coeffB): (Array[Long], Array[Long]) = {
    var state = 42L
    def next(): Long = { state += 0x9E3779B97F4A7C15L; fmix64(state) }
    val a = Array.fill(NumPerm)(math.abs(next()) % (Prime - 1) + 1)
    val b = Array.fill(NumPerm)(math.abs(next()) % Prime)
    (a, b)
  }

  private def mod61(x: Long): Long = {
    // x mod (2^61-1) without division, for non-negative products folded below
    val r = (x & Prime) + (x >>> 61)
    if (r >= Prime) r - Prime else r
  }

  /** 64-bit hash of a shingle string (two murmur32 halves). */
  def hash64(s: String): Long = {
    val h1 = MurmurHash3.stringHash(s, 0x9747b28c)
    val h2 = MurmurHash3.stringHash(s, 0x85ebca6b)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  def shingles(text: String, k: Int = ShingleSize): Array[Long] = {
    val toks = WhitespaceTokenizer.tokens(TextKeys.normalizeForFingerprint(text))
    if (toks.length < k) {
      if (toks.isEmpty) Array.empty else Array(hash64(toks.mkString(" ")))
    } else {
      Array.tabulate(toks.length - k + 1)(i => hash64(toks.slice(i, i + k).mkString(" ")))
    }
  }

  /** k-permutation MinHash signature of the word-shingle set. */
  def minhashSignature(text: String): Array[Long] = {
    val sh = shingles(text)
    val sig = Array.fill(NumPerm)(Long.MaxValue)
    var si = 0
    while (si < sh.length) {
      val h = sh(si) & Long.MaxValue // non-negative
      var i = 0
      while (i < NumPerm) {
        // (a*h + b) mod p via 128-bit-free folding: split h into hi/lo 31-bit
        val v = mod61(mod61(multiplyMod(coeffA(i), h)) + coeffB(i))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      si += 1
    }
    sig
  }

  /** (a*b) mod 2^61-1 without overflow, using 128-bit decomposition. */
  private def multiplyMod(a: Long, b: Long): Long = {
    val aHi = a >>> 32; val aLo = a & 0xffffffffL
    val bHi = b >>> 32; val bLo = b & 0xffffffffL
    // a*b = aHi*bHi*2^64 + (aHi*bLo + aLo*bHi)*2^32 + aLo*bLo
    val hi = mod61(aHi * bHi) // *2^64 ≡ *8 (mod 2^61-1)
    val mid = mod61(aHi * bLo + aLo * bHi)
    val lo = mod61(aLo * bLo)
    // 2^64 mod p = 8; 2^32 mod p = 2^32
    mod61(mod61(hi * 8L) + mod61(multiplyModPow32(mid)) + lo)
  }
  private def multiplyModPow32(x: Long): Long = {
    // x * 2^32 mod (2^61-1): shift left 32 = value split across the 61-bit fold
    val hi = x >>> 29 // bits above 2^61 after <<32
    val lo = (x << 32) & Prime
    mod61(hi + lo)
  }

  /** Estimated Jaccard from two signatures: fraction of agreeing slots. */
  def estimatedJaccard(a: Array[Long], b: Array[Long]): Double = {
    var eq = 0; var i = 0
    while (i < NumPerm) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / NumPerm
  }

  /** LSH band hashes: one 64-bit hash per band of the signature. */
  def bandHashes(sig: Array[Long]): Array[Long] =
    Array.tabulate(Bands) { b =>
      var h = 1125899906842597L
      var r = 0
      while (r < RowsPerBand) { h = h * 31 + sig(b * RowsPerBand + r); r += 1 }
      h
    }

  /** 64-bit SimHash over whitespace tokens of the normalized text. */
  def simhash64(text: String): Long = {
    val toks = WhitespaceTokenizer.tokens(TextKeys.normalizeForFingerprint(text))
    val acc = new Array[Int](64)
    var t = 0
    while (t < toks.length) {
      val h = hash64(toks(t))
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) acc(bit) += 1 else acc(bit) -= 1
        bit += 1
      }
      t += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (acc(bit) > 0) out |= (1L << bit); bit += 1 }
    out
  }

  def hammingDistance(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Winnowing document fingerprints (the MOSS scheme: character k-gram
    * rolling hash, then the minimum hash of every w-hash window is
    * selected, rightmost minimum on ties). Guarantee: two documents
    * sharing any substring of length ≥ w+k−1 (after fingerprint
    * normalization) share at least one fingerprint, and no gap between
    * selected positions exceeds w — detection density is tunable without
    * hashing every k-gram into the index. Selection runs on a monotone
    * deque (O(n), not O(n·w)); raw rolling hashes pass through a
    * splitmix64 finalizer so min-selection sees well-mixed values.
    * Returns the distinct selected hashes sorted (set semantics — these
    * are the overlap join keys).
    */
  def winnowFingerprints(text: String, k: Int = 8, w: Int = 16): Array[Long] = {
    val s = TextKeys.normalizeForFingerprint(text)
    val n = s.length
    if (n == 0) return Array.empty
    if (n <= k) return Array(fmix64(hash64(s)))
    val base = 1000003L
    var powK1 = 1L // base^(k-1), wrapping
    var i = 1
    while (i < k) { powK1 *= base; i += 1 }
    val m = n - k + 1
    val hashes = new Array[Long](m)
    var h = 0L
    i = 0
    while (i < k) { h = h * base + s.charAt(i); i += 1 }
    hashes(0) = fmix64(h)
    i = 1
    while (i < m) {
      h = (h - s.charAt(i - 1) * powK1) * base + s.charAt(i + k - 1)
      hashes(i) = fmix64(h)
      i += 1
    }
    val selected = scala.collection.mutable.LongMap.empty[Unit]
    val deque = new java.util.ArrayDeque[Int]() // indices, hashes increasing
    var lastPicked = -1
    i = 0
    while (i < m) {
      // pop >= so an equal newer hash wins: rightmost-minimum tie rule
      while (!deque.isEmpty && hashes(deque.peekLast) >= hashes(i)) deque.pollLast()
      deque.addLast(i)
      if (deque.peekFirst <= i - w) deque.pollFirst()
      if (i >= w - 1 || i == m - 1) { // every full window; short texts pick once
        val min = deque.peekFirst
        if (min != lastPicked) { selected(hashes(min)) = (); lastPicked = min }
      }
      i += 1
    }
    val out = selected.keysIterator.toArray
    java.util.Arrays.sort(out)
    out
  }

  /** Exact word-ngram Jaccard of two texts (verification pass after LSH). */
  def ngramJaccard(a: String, b: String, k: Int = ShingleSize): Double = {
    val sa = shingles(a, k).toSet
    val sb = shingles(b, k).toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else {
      val inter = sa.intersect(sb).size
      inter.toDouble / (sa.size + sb.size - inter)
    }
  }
}
