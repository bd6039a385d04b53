package graft.perfbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema

/** One generated wire event: a browser GET query string (kind 0) or a JSON
  * POST body (kind 1) plus its transport columns. `expectPeer` is the
  * address the decoder must resolve (the XFF header's rightmost entry, or
  * the transport address); `eventTimeMs` drives the streaming watermark. */
final case class Ev(
    seq: Long, kind: Int, qs: String, body: String, partyIdParam: String,
    userAgentString: String, remoteHost: String, xForwardedFor: String,
    requestTimestamp: Long, eventTimeMs: Long, expectPeer: String)

/** Exact counts the generator injected, and what each sink must receive. */
final case class Truth(total: Long, browser: Long, json: Long, corrupt: Long,
                       resends: Long, oversize: Long, xff: Long) {
  /** Rows the slot memory flags: every exact re-send, plus every oversize
    * JSON row after the first — an oversize body decodes to all-null
    * identifiers, and null identifiers hash alike. */
  def flagged: Long = resends + math.max(oversize - 1, 0L)
  /** Rows surviving discardCorrupted + discardDuplicates. */
  def clean: Long = total - corrupt - flagged
  def add(e: Ev, corruptEv: Boolean, resend: Boolean, oversizeEv: Boolean): Truth = copy(
    total = total + 1,
    browser = browser + (if (e.kind == 0) 1 else 0),
    json = json + (if (e.kind == 1) 1 else 0),
    corrupt = corrupt + (if (corruptEv) 1 else 0),
    resends = resends + (if (resend) 1 else 0),
    oversize = oversize + (if (oversizeEv) 1 else 0),
    xff = xff + (if (e.xForwardedFor != null) 1 else 0))
}
object Truth { val empty: Truth = Truth(0, 0, 0, 0, 0, 0, 0) }

/** Murmur3 x86_32 (seed 0), written independently of the engine so the
  * generator's checksums do not share a defect with the decoder. */
object Murmur3x86 {
  def hash32(data: Array[Byte]): Int = {
    val c1 = 0xcc9e2d51; val c2 = 0x1b873593
    var h = 0
    val n = data.length / 4
    var i = 0
    while (i < n) {
      val o = i * 4
      var k = (data(o) & 0xff) | ((data(o + 1) & 0xff) << 8) |
        ((data(o + 2) & 0xff) << 16) | ((data(o + 3) & 0xff) << 24)
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2
      h ^= k; h = Integer.rotateLeft(h, 13); h = h * 5 + 0xe6546b64
      i += 1
    }
    var k = 0
    val t = n * 4
    (data.length & 3) match {
      case 3 => k ^= (data(t + 2) & 0xff) << 16; k ^= (data(t + 1) & 0xff) << 8; k ^= data(t) & 0xff
      case 2 => k ^= (data(t + 1) & 0xff) << 8; k ^= data(t) & 0xff
      case 1 => k ^= data(t) & 0xff
      case _ =>
    }
    if ((data.length & 3) != 0) { k *= c1; k = Integer.rotateLeft(k, 15); k *= c2; h ^= k }
    h ^= data.length
    h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13; h *= 0xc2b2ae35; h ^= h >>> 16
    h
  }
}

/** Shares of the injected event kinds. */
final case class Mix(jsonShare: Double = 0.10, corruptShare: Double = 0.02,
                     resendShare: Double = 0.03, oversizeShare: Double = 0.05,
                     xffShare: Double = 0.05)

/** Seeded wire-event generator. Everything it emits derives from `seed`;
  * the UA pool and the geo ranges are fixed so every seed shares them. */
final class LoadGen(seed: Long, mix: Mix = Mix(), eventTimeStepMs: Long = 5L) {
  import LoadGen._
  private val rnd = new java.util.Random(seed)
  private var seq = 0L
  private var truth = Truth.empty
  private val recent = new Array[Ev](64) // re-send candidates (never corrupt/oversize)
  private var nRecent = 0
  private val parties = Array.tabulate(4096)(i => divolteId(BaseTs + i * 997L))
  private val sessions = Array.tabulate(4096)(i => divolteId(BaseTs + i * 991L + 17))

  def groundTruth: Truth = truth

  private def divolteId(ts: Long): String = {
    val b = new Array[Byte](18); rnd.nextBytes(b)
    s"0:${java.lang.Long.toString(ts, 36)}:${java.util.Base64.getUrlEncoder.encodeToString(b)}"
  }

  def next(): Ev = {
    val s = seq; seq += 1
    val reqTs = BaseTs + s * eventTimeStepMs
    if (nRecent > 0 && rnd.nextDouble() < mix.resendShare) {
      // exact re-send of a recent valid event: same payload, arrives later
      val o = recent(rnd.nextInt(math.min(nRecent, recent.length)))
      val e = o.copy(seq = s, requestTimestamp = reqTs)
      truth = truth.add(e, corruptEv = false, resend = true, oversizeEv = false)
      return e
    }
    val party = rnd.nextInt(parties.length)
    val ua = UaPool(zipf(rnd.nextDouble()))
    val client = clientIp()
    val xff = rnd.nextDouble() < mix.xffShare
    val (remote, header) =
      if (xff) ("10.0.0.1", s"${ip(rnd.nextInt())}, $client") else (client, null)
    val isJson = rnd.nextDouble() < mix.jsonShare
    if (!isJson) {
      val corrupt = rnd.nextDouble() < mix.corruptShare
      val qs = browserQs(s, party, reqTs, corrupt)
      val e = Ev(s, 0, qs, null, null, ua, remote, header, reqTs, reqTs, client)
      truth = truth.add(e, corrupt, resend = false, oversizeEv = false)
      if (!corrupt) remember(e)
      e
    } else {
      val oversize = rnd.nextDouble() < mix.oversizeShare
      val body = jsonBody(s, party, reqTs, oversize)
      val e = Ev(s, 1, null, body, parties(party), ua, remote, header, reqTs, reqTs, client)
      truth = truth.add(e, corruptEv = false, resend = false, oversizeEv = oversize)
      if (!oversize) remember(e)
      e
    }
  }

  def take(n: Int): Vector[Ev] = Vector.fill(n)(next())

  private def remember(e: Ev): Unit = { recent(nRecent % recent.length) = e; nRecent += 1 }

  private def clientIp(): String =
    if (rnd.nextDouble() < 0.9) {
      val r = GeoRanges(rnd.nextInt(GeoRanges.length))
      ip((r._1 + rnd.nextInt((r._2 - r._1 + 1).toInt)).toInt)
    } else s"203.0.${rnd.nextInt(256)}.${rnd.nextInt(256)}" // no geo match

  private def browserQs(s: Long, party: Int, ts: Long, corrupt: Boolean): String = {
    val b36 = (v: Long) => java.lang.Long.toString(v, 36)
    val params = Seq(
      "p" -> parties(party), "s" -> sessions(party),
      "v" -> s"pv$s", "e" -> s"pv$s:0", "c" -> b36(ts - rnd.nextInt(2000)),
      "n" -> (if (rnd.nextInt(10) == 0) "t" else "f"),
      "f" -> (if (rnd.nextInt(5) == 0) "t" else "f"),
      "l" -> s"https://shop.example/p/${rnd.nextInt(5000)}?ref=${rnd.nextInt(50)}",
      "r" -> s"https://search.example/q?w=${rnd.nextInt(1000)}",
      "w" -> b36(320 + rnd.nextInt(1600)), "h" -> b36(480 + rnd.nextInt(900)),
      "i" -> b36(320 + rnd.nextInt(2200)), "j" -> b36(480 + rnd.nextInt(1000)),
      "k" -> b36(1 + rnd.nextInt(3)),
      "t" -> EventTypes(rnd.nextInt(EventTypes.length)),
      "u" -> s"(dk!${b36(rnd.nextInt(100000))}!)")
    val sum = checksum(params)
    val x = if (corrupt) sum + 1 else sum
    (params :+ ("x" -> b36(x)))
      .map { case (k, v) => k + "=" + URLEncoder.encode(v, UTF_8) }.mkString("&")
  }

  private def jsonBody(s: Long, party: Int, ts: Long, oversize: Boolean): String = {
    val iso = java.time.Instant.ofEpochMilli(ts).toString
    val pad = if (oversize) "\"pad\":\"" + "z" * (4200 + rnd.nextInt(800)) + "\"," else ""
    s"""{"event_type":"${EventTypes(rnd.nextInt(EventTypes.length))}",""" +
      s""""session_id":"${sessions(party)}","event_id":"js$s",""" +
      s""""is_new_party":${rnd.nextInt(10) == 0},"is_new_session":${rnd.nextInt(5) == 0},""" +
      s""""client_timestamp_iso":"$iso","parameters":{$pad"item":${rnd.nextInt(10000)}}}"""
  }
}

object LoadGen {
  val BaseTs = 1714521600000L // 2024-05-01T00:00:00Z
  val EventTypes = Array("pageView", "click", "addToCart", "purchase", "search", "scroll")

  /** The browser checksum: murmur3_32 over the sorted-key canonical string
    * `k=v1,v2,;` of every parameter but `x` (decoded values). */
  def checksum(params: Seq[(String, String)]): Long = {
    val sb = new StringBuilder
    params.filter(_._1 != "x").groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, vs) =>
      sb.append(k).append('=')
      vs.foreach { case (_, v) => sb.append(v).append(',') }
      sb.append(';')
    }
    Murmur3x86.hash32(sb.toString.getBytes(UTF_8)).toLong
  }

  def ip(v: Int): String = s"${(v >>> 24) & 255}.${(v >>> 16) & 255}.${(v >>> 8) & 255}.${v & 255}"

  /** 2,048 /24 geo ranges spread over four /8s. */
  val GeoRanges: Array[(Long, Long)] = Array.tabulate(2048) { i =>
    val first8 = Array(31L, 62L, 81L, 145L)(i % 4)
    val start = (first8 << 24) + ((i / 4).toLong << 8) * 7
    (start, start + 255)
  }

  /** City-dim rows (MaxMindDb.CityDimSchema) for every geo range. */
  def geoRows: Seq[Row] = GeoRanges.toSeq.zipWithIndex.map { case ((s, e), i) =>
    val cc = Countries(i % Countries.length)
    new GenericRowWithSchema(Array[Any](s, e,
      (100000L + i), s"City$i", "EU", 6255148L, "Europe", cc, (2000000L + i % Countries.length),
      s"Country-$cc", 40.0 + (i % 200) / 10.0, (i % 300) / 10.0 - 10.0, null, "Europe/Amsterdam",
      null, null, null, f"${i % 9999}%04d", cc, (2000000L + i % Countries.length), s"Country-$cc",
      null, null, null, null, null, null, (64500L + i % 100), s"AS Org ${i % 100}", null, null, null,
      false, false), graft.sources.MaxMindDb.CityDimSchema)
  }
  private val Countries = Array("NL", "DE", "FR", "BE", "ES", "IT", "PL", "SE")

  /** Several thousand distinct UA strings — more than the 1000-entry
    * per-thread UA cache, so Zipf-skewed draws partly miss it. */
  val UaPool: Array[String] = {
    val b = Array.newBuilder[String]
    for (maj <- 90 to 129; bld <- 0 until 30)
      b += s"Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/$maj.0.${4400 + bld * 7}.${bld * 3} Safari/537.36"
    for (maj <- 90 to 129; m <- 0 until 15)
      b += s"Mozilla/5.0 (X11; Linux x86_64; rv:$maj.0) Gecko/20100101 Firefox/$maj.$m"
    for (a <- 13 to 17; c <- 0 until 8; d <- 0 until 10)
      b += s"Mozilla/5.0 (iPhone; CPU iPhone OS ${a}_${c}_$d like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/$a.$c Mobile/15E148 Safari/604.1"
    for (a <- 9 to 14; model <- 900 until 1000 by 4; maj <- 110 to 119)
      b += s"Mozilla/5.0 (Linux; Android $a; SM-G$model) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/$maj.0.0.0 Mobile Safari/537.36"
    for (v <- 0 until 50) b += s"Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html) v$v"
    b.result()
  }

  /** Zipf(s = 1) over the pool by inverse CDF. */
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(UaPool.length)(i => 1.0 / (i + 1))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  def zipf(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, UaPool.length - 1)
  }
}
