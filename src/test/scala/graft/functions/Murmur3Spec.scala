package graft.functions

import com.google.common.hash.Hashing
import graft.state.DuplicateMemory
import java.nio.charset.StandardCharsets
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Bit-parity with the exact Guava function the reference uses for the
  * request checksum (`ClientSideCookieEventHandler.java:206-216`). */
class Murmur3Spec extends AnyFunSuite {

  @annotation.nowarn("cat=deprecation") // parity with the reference's call
  private def guava32(s: String): Int =
    Hashing.murmur3_32().hashString(s, StandardCharsets.UTF_8).asInt()

  private val rng = new Random(42)
  private def randomStrings(n: Int): Seq[String] =
    (0 until n).map { _ =>
      val len = rng.nextInt(64)
      // mix of ASCII and BMP unicode (excluding surrogates)
      String.valueOf(Array.fill(len) {
        if (rng.nextBoolean()) (32 + rng.nextInt(95)).toChar
        else (0x100 + rng.nextInt(0xD700)).toChar
      })
    }

  test("published x86_32 vectors") {
    assert(Murmur3.hash32(Array.emptyByteArray) === 0)
    assert(Murmur3.hashStringUtf8("") === 0)
    assert(Murmur3.hashStringUtf8("abc") === guava32("abc"))
    assert(Murmur3.hashStringUtf8("hello") === guava32("hello"))
  }

  test("parity with Guava murmur3_32 on 500 random strings") {
    randomStrings(500).foreach { s =>
      assert(Murmur3.hashStringUtf8(s) === guava32(s), s"for string: $s")
    }
  }

  test("canonical checksum string example hashes stably") {
    // shape from ClientSideCookieEventHandler.buildNormalizedChecksumString
    val canonical = "c=i0rjfnxd;e=pageView0;l=http://example.com/,;"
    assert(Murmur3.hashStringUtf8(canonical) === guava32(canonical))
  }

  test("x64_128 low word matches Guava") {
    randomStrings(200).foreach { s =>
      val bytes = s.getBytes(StandardCharsets.UTF_8)
      val expected = Hashing.murmur3_128().hashBytes(bytes).asLong()
      assert(Murmur3.hash128x64Low(bytes) === expected, s"for string: $s")
    }
  }

  test("non-BMP text hashes its UTF-8 bytes, as divolte.js sends them") {
    // the deprecated murmur3_32().hashString differs on supplementary chars
    Seq("emoji \uD83D\uDE00 x", "lone \uD83D surrogate", "\uDE00").foreach { s =>
      assert(Murmur3.hashStringUtf8(s) === Murmur3.hash32(s.getBytes(StandardCharsets.UTF_8)),
        s"for string: $s")
    }
    assert(Murmur3.hashStringUtf8("emoji \uD83D\uDE00 x") === -67675412)
  }

  test("dedup slot and signature hash the ids' UTF-16LE code units") {
    val ids = Seq("party-\uD83D\uDE00", "session-1", "event-\uD83D\uDE00-2")
    val hash = java.nio.ByteBuffer.wrap(Hashing.murmur3_128()
      .hashBytes(ids.mkString.getBytes(StandardCharsets.UTF_16LE)).asBytes())
    val slotCount = 1 << 20
    val expected = ((hash.getInt(0) & Int.MaxValue) % slotCount, hash.getLong(8))
    assert(DuplicateMemory.slotAndSignature(slotCount, ids: _*) === expected)
    // pinned from the hand-written x64_128 this replaced
    assert(expected === ((176406, -3585577080108821084L)))
  }
}
