package graft.sources

import com.google.common.hash.Hashing
import graft.SparkSpec
import graft.functions.GraftFunctions._
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** End-to-end source decode tests, mirroring the reference's canonical
  * browser request (`DslRecordMapperTest.java:62-87`) and JSON container
  * (`JsonEventHandler.java:104-127`). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  @annotation.nowarn("cat=deprecation")
  private def checksum(params: Map[String, String]): String = {
    // buildNormalizedChecksumString: sorted keys, k=, each value + ',', then ';'
    val canonical = params.toSeq.filter(_._1 != "x").sortBy(_._1)
      .map { case (k, v) => s"$k=$v," + ";" }.mkString
    val h = Hashing.murmur3_32().hashString(canonical, StandardCharsets.UTF_8).asInt()
    java.lang.Long.toString(h.toLong, 36)
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  private val partyTs = System.currentTimeMillis()
  private val params = Map(
    "p" -> s"0:${java.lang.Long.toString(partyTs, 36)}:partyIdPayload",
    "s" -> s"0:${java.lang.Long.toString(partyTs, 36)}:sessionIdPayload",
    "v" -> "pv0001",
    "e" -> "pv0001:0",
    "c" -> "i0rjfnxd",
    "n" -> "f",
    "f" -> "t",
    "l" -> "http://example.com/path?q=1",
    "r" -> "https://ref.example.org/",
    "w" -> "m8", "h" -> "go",   // 800 x 600 in base36
    "i" -> "zik0zj",            // Int.MaxValue in base36
    "j" -> "go",
    "k" -> "2",
    "t" -> "pageView",
    "u" -> "(sfoo!bar!dcount!16!)")

  private def queryString(ps: Map[String, String]): String =
    ps.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${enc(v)}" }.mkString("&")

  test("canonical browser request decodes fully") {
    val qs = queryString(params + ("x" -> checksum(params)))
    val df = BrowserSource.decode(Seq(qs).toDF("qs"), "qs")
    val row = df.collect()(0)
    assert(!row.getAs[Boolean]("corrupt"))
    assert(row.getAs[String]("partyId") === params("p"))
    assert(row.getAs[String]("sessionId") === params("s"))
    assert(row.getAs[String]("eventId") === "pv0001:0")
    assert(row.getAs[String]("eventType") === "pageView")
    assert(row.getAs[Boolean]("firstInSession"))
    assert(!row.getAs[Boolean]("newPartyId"))
    assert(row.getAs[Long]("clientTime") === java.lang.Long.parseLong("i0rjfnxd", 36))
    assert(row.getAs[Long]("partyIdTime") === partyTs)
    assert(row.getAs[String]("eventParameters") === """{"foo":"bar","count":42}""")
    val browser = row.getAs[Row]("browser")
    assert(browser.getAs[String]("pageViewId") === "pv0001")
    assert(browser.getAs[String]("location") === "http://example.com/path?q=1")
    assert(browser.getAs[Int]("viewportPixelWidth") === 800)
    assert(browser.getAs[Int]("viewportPixelHeight") === 600)
    assert(browser.getAs[Int]("screenPixelWidth") === Int.MaxValue)
    assert(browser.getAs[Int]("devicePixelRatio") === 2)
  }

  test("tampered request is flagged corrupt, not dropped") {
    val good = queryString(params + ("x" -> checksum(params)))
    val tampered = good.replace("pageView", "pageVieX")
    val missing = queryString(params) // no checksum at all
    val df = BrowserSource.decode(
      Seq(good, tampered, missing).toDF("qs"), "qs")
    val flags = df.select("corrupt").as[Boolean].collect()
    assert(flags === Array(false, true, true))
    // rows survive with fields decoded (flag-not-filter, reference semantics)
    assert(df.filter(col("corrupt")).select("partyId").as[String].collect()
      .forall(_ == params("p")))
  }

  test("decode stays a single narrow stage (no shuffle)") {
    val qs = queryString(params + ("x" -> checksum(params)))
    val plan = BrowserSource.decode(Seq(qs).toDF("qs"), "qs")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("json container decodes") {
    val body =
      """{"event_type":"custom","session_id":"0:i0rjfnxd:sess","event_id":"ev1",
        |"is_new_party":true,"is_new_session":false,
        |"client_timestamp_iso":"2026-08-12T10:00:00.000+02:00",
        |"parameters":{"a":[1,2],"b":"x"}}""".stripMargin.replace("\n", "")
    val df = JsonSource.decode(
      Seq(("0:i0rjfnxd:party", body)).toDF("pid", "body"), "body", "pid")
    val row = df.collect()(0)
    assert(!row.getAs[Boolean]("corrupt"))
    assert(row.getAs[String]("sessionId") === "0:i0rjfnxd:sess")
    assert(row.getAs[String]("eventType") === "custom")
    assert(row.getAs[Boolean]("newPartyId"))
    assert(!row.getAs[Boolean]("firstInSession"))
    // 2026-08-12T10:00+02:00 == 08:00Z
    assert(row.getAs[Long]("clientTime") === 1786521600000L)
    assert(row.getAs[String]("eventParameters") === """{"a":[1,2],"b":"x"}""")
  }

  test("json container: a repeated key keeps its last value in every field") {
    val body =
      """{"event_type":"first","session_id":"s","event_id":"e",
        |"is_new_party":true,"is_new_session":false,
        |"client_timestamp_iso":"2026-08-12T10:00:00.000+02:00",
        |"parameters":{"a":1},"event_type":"last","parameters":{"b":2}}""".stripMargin
        .replace("\n", "")
    val row = JsonSource.decode(Seq(("p", body)).toDF("pid", "body"), "body", "pid")
      .select("eventType", "eventParameters").collect()(0)
    assert((row.getString(0), row.getString(1)) === (("last", """{"b":2}""")))
  }

  test("json body-size limit: 4096-byte boundary, octet semantics") {
    // cutoff = maximum_body_size rounded up to the 4096-byte receive chunk
    // (AsyncRequestBodyReceiver.java:69,100-104): 4096 accepted, 4097 not
    def bodyOf(padBytes: Int, pad: String): String = {
      val pre = """{"session_id":"s","event_id":"e","is_new_party":true,""" +
        """"is_new_session":false,"client_timestamp_iso":"2023-05-06T07:08:09Z",""" +
        """"parameters":{"pad":""""
      val suf = "\"}}"
      pre + pad * (padBytes / pad.getBytes("UTF-8").length) + suf
    }
    val base = bodyOf(0, "x").getBytes("UTF-8").length
    val atLimit = bodyOf(4096 - base, "x")
    val overByOne = bodyOf(4097 - base, "x")
    // 2100 'é' = 4200 bytes but only 2100 chars: rejects iff check is octets
    val multibyte = bodyOf(4200, "é")
    assert(atLimit.getBytes("UTF-8").length == 4096)
    assert(overByOne.getBytes("UTF-8").length == 4097)
    assert(multibyte.length < 4096 && multibyte.getBytes("UTF-8").length > 4096)
    val rows = JsonSource.decode(
      Seq(("p1", atLimit), ("p2", overByOne), ("p3", multibyte))
        .toDF("pid", "body"), "body", "pid")
      .select("partyId", "bodyOversized", "sessionId")
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getString(2)))
    assert(rows(0) == (("p1", false, "s")))
    assert(rows(1) == ((null, true, null)))
    assert(rows(2) == ((null, true, null)))
  }

  // ------------------------------------------------------------------
  // Replay of the reference's RECORDED wire requests
  // (`RequestChecksumTest.java:44-94`): real query strings with known
  // checksum verdicts, pinning the percent-decode + canonicalization +
  // murmur3_32 chain against the reference's own vectors — including the
  // non-ASCII event type whose UTF-8 bytes the checksum covers.
  private val RecordedBase =
    "p=0%3Ai1t84hgy%3A5AF359Zjq5kUy98u4wQjlIZzWGhN~GlG&" +
    "s=0%3Ai1t84hgy%3A95CbiPCYln_1e0a6rFvuRkDkeNnc6KC8&" +
    "v=0%3A1fF6GFGjDOQiEx_OxnTm_tl4BH91eGLF&" +
    "e=0%3A1fF6GFGjDOQiEx_OxnTm_tl4BH91eGLF0&" +
    "c=i1t8q2b6&n=f&f=f&l=http%3A%2F%2Flocalhost%3A8290%2F&" +
    "i=1ak&j=sj&k=2&w=uq&h=qd&t=pageView"

  private val RecordedUnicode =
    "p=0%3Ai1t84hgy%3Aparty&s=0%3Ai1t84hgy%3Asession&" +
    "v=0%3ApageView&e=0%3AeventId&" +
    "c=i1t8q2b6&n=f&f=f&l=http%3A%2F%2Flocalhost%3A8290%2F&" +
    "i=1ak&j=sj&k=2&w=uq&h=qd&" +
    "t=%E1%BB%A5%C3%B1%E2%9A%95%C2%A9%C2%BA%E1%B8%8C%E2%84%A8&x=-ql2p2c"

  private val RecordedSentinel =
    "p=0%3Ai1t84hgy%3Aparty&s=0%3Ai1t84hgy%3Asession&" +
    "v=0%3ApageView&e=0%3AeventId&" +
    "c=i1t8q2b6&n=f&f=f&l=http%3A%2F%2Flocalhost%3A8290%2F&" +
    "i=1ak&j=sj&k=2&w=uq&h=qd&t=sentinelEvent&x=-y99lem"

  test("reference recorded requests: checksum verdicts replay exactly") {
    val cases = Seq(
      RecordedBase + "&x=si9804" -> false, // good checksum
      RecordedBase + "&x=si9805" -> true,  // off by one
      RecordedBase -> true,                // checksum missing
      RecordedBase + "&x" -> true,         // partial: bare key
      RecordedBase + "&x=" -> true,        // partial: empty value
      RecordedUnicode -> false,
      RecordedSentinel -> false)
    val df = BrowserSource.decode(cases.map(_._1).toDF("qs"), "qs")
    val flags = df.select("corrupt").as[Boolean].collect()
    assert(flags === cases.map(_._2).toArray)
  }

  test("reference recorded requests: fields decode to the wire values") {
    val df = BrowserSource.decode(
      Seq(RecordedBase + "&x=si9804", RecordedUnicode).toDF("qs"), "qs")
    val rows = df.collect()
    val good = rows(0)
    assert(good.getAs[String]("partyId") === "0:i1t84hgy:5AF359Zjq5kUy98u4wQjlIZzWGhN~GlG")
    assert(good.getAs[String]("sessionId") === "0:i1t84hgy:95CbiPCYln_1e0a6rFvuRkDkeNnc6KC8")
    assert(good.getAs[String]("eventType") === "pageView")
    assert(good.getAs[Long]("clientTime") === java.lang.Long.parseLong("i1t8q2b6", 36))
    assert(good.getAs[Long]("partyIdTime") === java.lang.Long.parseLong("i1t84hgy", 36))
    val b = good.getAs[Row]("browser")
    assert(b.getAs[String]("location") === "http://localhost:8290/")
    assert(b.getAs[Int]("viewportPixelWidth") === java.lang.Integer.parseInt("uq", 36))
    assert(b.getAs[Int]("viewportPixelHeight") === java.lang.Integer.parseInt("qd", 36))
    assert(b.getAs[Int]("screenPixelWidth") === java.lang.Integer.parseInt("1ak", 36))
    assert(b.getAs[Int]("screenPixelHeight") === java.lang.Integer.parseInt("sj", 36))
    assert(b.getAs[Int]("devicePixelRatio") === 2)
    assert(rows(1).getAs[String]("eventType") === "ụñ⚕©ºḌℨ")
  }

  test("expression functions work through SQL plans") {
    val df = Seq("d16!", "sx!", "bogus").toDF("code")
      .select(mincodeToJson(col("code")).as("json"))
    assert(df.as[String].collect() === Array("42", "\"x\"", null))
    val b36 = Seq("zz", "-1", "!bad").toDF("s")
      .select(base36ToLong(col("s")).as("v")).as[java.lang.Long].collect()
    assert(b36 === Array(1295L, -1L, null))
  }
}
