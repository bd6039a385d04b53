package graft.functions

import java.net.URLDecoder
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** Query-string → multi-value map, matching the reference's semantics
  * (`recordmapping/QueryStringParser.java:37-89`): first `=` splits key from
  * value, later `=` chars belong to the value; a segment with no `=` becomes
  * a key with value `""`; repeated keys accumulate in encounter order; keys
  * and values are percent-decoded (UTF-8, `+` = space); a decode failure
  * (malformed escape) yields an empty map for the whole string.
  */
object QueryStrings {

  def parse(qs: String): Map[String, Seq[String]] = {
    if (qs == null) return Map.empty
    val result = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
    def add(rawKey: String, rawValue: String): Unit = {
      val k = URLDecoder.decode(rawKey, StandardCharsets.UTF_8)
      val v = URLDecoder.decode(rawValue, StandardCharsets.UTF_8)
      result.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    }
    try {
      for (segment <- qs.split("&", -1) if segment.nonEmpty) {
        val eq = segment.indexOf('=')
        if (eq >= 0) add(segment.substring(0, eq), segment.substring(eq + 1))
        else add(segment, "")
      }
      // NOTE: .toMap discards the LinkedHashMap's encounter order (the
      // emitted Catalyst map is hash-ordered); consumers that need order
      // re-sort (checksum canonicalization) or use splitHeaderValue
      result.view.mapValues(_.toSeq).toMap
    } catch {
      case _: IllegalArgumentException => Map.empty // malformed percent-escape
    }
  }
}
