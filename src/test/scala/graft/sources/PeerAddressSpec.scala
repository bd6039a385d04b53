package graft.sources

import graft.SparkSpec
import graft.functions.PeerAddresses
import org.apache.spark.sql.functions._

/** X-Forwarded-For resolution parity with the reference's
  * `ProxyAdjacentPeerAddressHandler.java:40-59` (rightmost entry of the
  * header, `InetAddress` parse, keep the transport address on failure) —
  * except hostname entries, which the reference would DNS-resolve and this
  * engine deliberately rejects (documented in
  * [[graft.functions.PeerAddresses]]).
  */
class PeerAddressSpec extends SparkSpec {
  import spark.implicits._

  private def r(xff: String): String = PeerAddresses.resolveXff(xff)

  test("rightmost entry wins; single entries pass through") {
    assert(r("203.0.113.7") == "203.0.113.7")
    assert(r("10.0.0.1, 203.0.113.9") == "203.0.113.9")
    assert(r("a, b, 198.51.100.4") == "198.51.100.4")
    assert(r("  198.51.100.4  ") == "198.51.100.4")
  }

  test("non-literals return null (engine keeps transport address)") {
    assert(r(null) == null)
    assert(r("") == null)
    assert(r("evil.example.com") == null)
    assert(r("203.0.113.9:8080") == null)   // getByName would fail too
    assert(r("256.1.2.3") == null)
    assert(r("1.2.3") == null)
    assert(r("1.2.3.4.5") == null)
    assert(r("01.2.3.4") == null)           // octal-ambiguous, rejected
    assert(r("10.0.0.1,") == null)          // empty rightmost entry
  }

  test("IPv6 parses and normalizes exactly like java.net (no DNS path)") {
    // Java's Inet6Address.getHostAddress: full 8 groups, lowercase hex,
    // no leading zeros, never compressed.
    assert(r("2001:db8::1") == "2001:db8:0:0:0:0:0:1")
    assert(r("[2001:DB8::2]") == "2001:db8:0:0:0:0:0:2") // brackets, case
    assert(r("::1") == "0:0:0:0:0:0:0:1")
    assert(r("fe80::") == "fe80:0:0:0:0:0:0:0")
    assert(r("1:2:3:4:5:6:7:8") == "1:2:3:4:5:6:7:8")
    // v4-mapped collapses to an Inet4Address, as getByName does
    assert(r("::ffff:203.0.113.77") == "203.0.113.77")
    assert(r("::ffff:cb00:714d") == "203.0.113.77")
  }

  test("malformed IPv6 rejected") {
    assert(r(":::1") == null)
    assert(r("1::2::3") == null)
    assert(r("1:2:3:4:5:6:7") == null)        // 7 groups, no ::
    assert(r("1:2:3:4:5:6:7:8:9") == null)
    assert(r("1:2:3:4:5:6:7:8::") == null)    // :: must elide >= 1 group
    assert(r("12345::") == null)              // group > 4 hex digits
    assert(r("g::1") == null)
    assert(r("fe80::1%eth0") == null)         // zone ids not in XFF
    assert(r("::ffff:1.2.3.4:80") == null)
    assert(r("1.2.3.4::5") == null)           // v4 must be the tail
  }

  test("zone ids, unclosed brackets and non-ASCII digits are rejected; " +
       "IPv4-compatible literals stay IPv6") {
    assert(r("fe80::1%1") == null)            // numeric zone
    assert(r("[fe80::1%eth0]") == null)       // named zone inside brackets
    assert(r("[::1") == null)
    assert(r("\u0661.\u0662.\u0663.\u0664") == null) // Arabic-Indic 1.2.3.4
    assert(r("::1.2.3.4") == "0:0:0:0:0:0:102:304")
    assert(r("::1.2.3.4") == java.net.InetAddress.getByName("::1.2.3.4").getHostAddress)
  }

  test("short and zero-padded IPv4 forms keep the transport address") {
    // the JDK's literal parser accepts these; Guava does not (a documented
    // divergence in PeerAddresses)
    val forms = Seq("4", "00.1.1.1", "1.2.3.04", "6.00")
    forms.foreach(f => assert(r(f) == null, f))
    val raw = forms.map(f => ("10.9.9.9", f, "e=1"))
      .toDF("remoteHost", "xForwardedFor", "qs")
    assert(BrowserSource.decode(raw, "qs").select("remoteHost").as[String].collect()
      .toSeq === Seq.fill(forms.size)("10.9.9.9"))
  }

  test("parser agrees with java.net on every literal it accepts") {
    val cases = Seq("203.0.113.7", "0.0.0.0", "255.255.255.255",
      "2001:db8::1", "::1", "fe80::", "::ffff:10.1.2.3",
      "1:2:3:4:5:6:7:8", "::", "2001:db8:85a3::8a2e:370:7334")
    cases.foreach { s =>
      val bytes = PeerAddresses.parseIpLiteral(s)
      assert(bytes != null, s)
      assert(java.net.InetAddress.getByAddress(bytes).getHostAddress ==
        java.net.InetAddress.getByName(s).getHostAddress, s)
    }
  }

  test("rewrite applies inside the source decode path, scheme from proto") {
    val raw = Seq(
      (1L, "10.9.9.9", "198.51.100.7", "https", "e=1"),
      (2L, "10.9.9.9", "bogus.host", "https, http", "e=2"),
      (3L, "10.9.9.9", null, null, "e=3"))
      .toDF("id", "remoteHost", "xForwardedFor", "xForwardedProto", "qs")
      .withColumn("scheme", lit("http"))
    val out = BrowserSource.decode(raw, "qs")
      .select("id", "remoteHost", "scheme")
      .collect().map(x => x.getLong(0) -> ((x.getString(1), x.getString(2)))).toMap
    assert(out(1L) == ("198.51.100.7", "https"))
    assert(out(2L) == ("10.9.9.9", "https"))   // hostname → keep transport
    assert(out(3L) == ("10.9.9.9", "http"))    // absent header → untouched
  }
}
