package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Scalar text utilities (SURVEY §2.8 X1-X7).
  * Independent reimplementations of the behaviors at
  * /root/reference/chunking/chunkers/base_chunker.py:193-306 and
  * /root/reference/jobs/blob_storage_indexer.py:1402-1440.
  */
object TextKeys {

  /** X1: human title from a filename — strip extension, `[_-]` → space,
    * split camelCase boundaries, title-case words.
    */
  def titleFromFilename(fileName: String): String = {
    val base = fileName.replaceFirst("""\.[^.]+$""", "")
    val spaced = base.replaceAll("[_-]+", " ")
      .replaceAll("(?<=[a-z0-9])(?=[A-Z])", " ")
    spaced.split("\\s+").filter(_.nonEmpty)
      .map(w => s"${w.head.toUpper}${w.tail}").mkString(" ")
  }

  /** X2: sanitize to a key-safe slug: non [A-Za-z0-9_-] runs → '-', trimmed. */
  def sanitizeKey(s: String): String =
    s.replaceAll("[^A-Za-z0-9_-]+", "-").replaceAll("-{2,}", "-")
      .stripPrefix("-").stripSuffix("-")

  def sha1Hex(s: String): String =
    MessageDigest.getInstance("SHA-1").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  /** X3: stable chunk key "{base}-c%05d"; bases over 128 chars are shortened
    * to a 118-char prefix + 10-hex sha1 so keys stay unique and bounded.
    */
  def stableChunkKey(parentUrl: String, chunkId: Int): String = {
    val base0 = sanitizeKey(parentUrl)
    val base =
      if (base0.length <= 128) base0
      else base0.take(117) + "-" + sha1Hex(base0).take(10)
    f"$base-c$chunkId%05d"
  }

  /** X4: truncate to maxBytes of UTF-8 without splitting a codepoint. */
  def utf8SafeTruncate(s: String, maxBytes: Int): String = {
    if (s == null) return null
    val bytes = s.getBytes(UTF_8)
    if (bytes.length <= maxBytes) return s
    var end = maxBytes
    // back off over continuation bytes (10xxxxxx)
    while (end > 0 && (bytes(end) & 0xC0) == 0x80) end -= 1
    new String(bytes, 0, end, UTF_8)
  }

  /** X6: iterative token-bounded truncation — trim by a shrinking character
    * step until within maxTokens (cap 100 iterations like the reference).
    */
  def truncateToTokens(s: String, maxTokens: Int, tok: Tokenizer = Tokenize.default): String = {
    if (s == null || tok.count(s) <= maxTokens) return s
    var cur = s
    var step = math.max(1, cur.length / 2)
    var iters = 0
    while (tok.count(cur) > maxTokens && iters < 100 && cur.nonEmpty) {
      cur = cur.dropRight(math.min(step, cur.length))
      if (tok.count(cur) <= maxTokens && step > 1) {
        // overshoot: restore and halve the step for a finer pass
        val candidate = s.take(math.min(s.length, cur.length + step))
        if (tok.count(candidate) <= maxTokens) cur = candidate
        step = math.max(1, step / 2)
      }
      iters += 1
    }
    cur
  }

  /** Rolling polynomial fingerprint of normalized text (document
    * fingerprinting for the dedup/text-analysis operators).
    */
  def rollingFingerprint(s: String): Long = {
    val norm = normalizeForFingerprint(s)
    var h = 1125899906842597L // large prime
    var i = 0
    while (i < norm.length) { h = 31 * h + norm.charAt(i); i += 1 }
    h
  }

  /** lower-case, strip non-alphanumerics, collapse whitespace. */
  def normalizeForFingerprint(s: String): String =
    if (s == null) "" else
      s.toLowerCase.replaceAll("""[^\p{L}\p{N}\s]""", "").replaceAll("\\s+", " ").trim
}
