package graft.functions

import com.google.common.hash.Hashing
import java.nio.charset.StandardCharsets

/** MurmurHash3 through Guava, the library the reference calls for the
  * request checksum (`ClientSideCookieEventHandler.java:206-216`, x86_32 of
  * the UTF-8 canonical string). `murmur3_32_fixed` is the x86_32 function
  * the reference's deprecated `Hashing.murmur3_32` meant: the two agree on
  * bytes, but the deprecated `hashString` mis-encodes supplementary-plane
  * text.
  */
object Murmur3 {

  def hash32(data: Array[Byte]): Int = Hashing.murmur3_32_fixed().hashBytes(data).asInt()

  /** UTF-8 string hash — `null`-tolerant for StaticInvoke call sites. */
  def hashStringUtf8(s: String): java.lang.Integer =
    if (s == null) null
    else java.lang.Integer.valueOf(
      Hashing.murmur3_32_fixed().hashString(s, StandardCharsets.UTF_8).asInt())

  /** MurmurHash3 x64_128, low 64 bits (Guava `asLong()`). */
  def hash128x64Low(data: Array[Byte]): Long = Hashing.murmur3_128().hashBytes(data).asLong()
}
