package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import javax.crypto.spec.PBEKeySpec
import javax.crypto.{Mac, SecretKey, SecretKeyFactory}
import scala.collection.concurrent.TrieMap

/** Digest machinery matching the reference's `recordmapping/Digester.java`:
  *
  *  - `digest(alg)`: a JCE `MessageDigest` over the ordered pieces; string
  *    pieces contribute their UTF-8 bytes, absent (null) pieces contribute
  *    nothing, and the result is always present (`Digester.java:61-78`).
  *  - `digest(alg, seed)`: HMAC (`"hmac" + alg without dashes`) keyed by a
  *    PBKDF2-derived secret — 100,000 iterations over a static
  *    `"divolte" + 8-byte` personalisation salt, key length = MAC output
  *    length (`Digester.java:145-192`). Key derivation is expensive and done
  *    once per (algorithm, seed), cached; per-row work is just the MAC.
  */
object Digests {

  // Reference Digester.java:178-181 — fixed personalisation vector.
  private val StaticSalt: Array[Byte] =
    Array[Byte]('d', 'i', 'v', 'o', 'l', 't', 'e',
      0xb6.toByte, 0x87.toByte, 0xe2.toByte, 0xd9.toByte, 0xaa.toByte,
      0x06.toByte, 0x03.toByte, 0x72.toByte)

  private val keyCache = TrieMap.empty[(String, String), SecretKey]

  private def macAlgorithm(algorithm: String): String =
    "Hmac" + algorithm.replace("-", "")

  def deriveKey(algorithm: String, seed: String): SecretKey = {
    val macAlg = macAlgorithm(algorithm)
    keyCache.getOrElseUpdate((macAlg, seed), {
      val mac = Mac.getInstance(macAlg)
      val factory = SecretKeyFactory.getInstance("PBKDF2With" + macAlg)
      // NB: the reference passes Mac.getMacLength() (a byte count) where
      // PBEKeySpec expects bits (`Digester.java:155,186-188`) — so the
      // derived key is e.g. 32 *bits* for HmacSHA256. Kept for parity.
      factory.generateSecret(
        new PBEKeySpec(seed.toCharArray, StaticSalt, 100000, mac.getMacLength))
    })
  }

  private val md5PerThread =
    ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** md5 of the UTF-8 bytes of `s` on this thread's one MD5 digest — the
    * sketch and shingle hashes call it per token, where a fresh
    * `getInstance` (or Guava's `Hashing.md5()`, which clones one) per call
    * would cost more than the hash. */
  def md5Utf8(s: String): Array[Byte] =
    md5PerThread.get().digest(s.getBytes(StandardCharsets.UTF_8))

  /** Plain digest of the non-null pieces, in order. Never null. */
  def digest(algorithm: String, pieces: Array[String]): Array[Byte] = {
    val md = MessageDigest.getInstance(algorithm)
    var i = 0
    while (i < pieces.length) {
      if (pieces(i) != null) md.update(pieces(i).getBytes(StandardCharsets.UTF_8))
      i += 1
    }
    md.digest()
  }

  /** Per-thread initialized-Mac cache keyed by (algorithm, seed): JCE
    * Mac.getInstance is a synchronized provider lookup and init() re-runs
    * the key schedule — per-ROW cost on the hot digest path. doFinal()
    * resets the Mac, so a cached instance is reusable indefinitely.
    *
    * Every current caller passes a plan-time-literal seed (the DSL compiles
    * the mapping's seed string into the expression), so the key space is
    * tiny; the LRU bound below is a belt-and-braces guard so a future
    * per-row or high-cardinality seed degrades to cache misses instead of
    * leaking Mac instances per executor thread. */
  private final val MacCacheMax = 64
  private val macCache = ThreadLocal.withInitial[
      java.util.LinkedHashMap[(String, String), Mac]](() =>
    new java.util.LinkedHashMap[(String, String), Mac](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Mac]): Boolean =
        size() > MacCacheMax
    })

  /** Seeded (HMAC) digest of the non-null pieces, in order. Never null. */
  def hmacDigest(algorithm: String, seed: String, pieces: Array[String]): Array[Byte] = {
    val mac = macCache.get().computeIfAbsent((algorithm, seed), { _ =>
      val m = Mac.getInstance(macAlgorithm(algorithm))
      m.init(deriveKey(algorithm, seed))
      m
    })
    var i = 0
    while (i < pieces.length) {
      if (pieces(i) != null) mac.update(pieces(i).getBytes(StandardCharsets.UTF_8))
      i += 1
    }
    mac.doFinal()
  }
}
