package graft.functions

import com.google.common.net.InetAddresses
import java.net.InetAddress

/** X-Forwarded-For peer-address resolution — the reference's
  * `ProxyAdjacentPeerAddressHandler.java:40-59`, which runs BEFORE any
  * mapping: the proxy-adjacent hop (the entry after the LAST comma of the
  * last `X-Forwarded-For` header) replaces the transport source address,
  * and an unparseable entry leaves the transport address untouched.
  *
  * [[resolveXff]] returns the normalized IP literal or null; callers
  * compose the reference's keep-old-on-failure with a plain
  * `coalesce(resolveXff(xff), remoteHost)` so the fallback stays in
  * whole-stage codegen.
  *
  * Literals parse with Guava's `InetAddresses.forString`, which never
  * touches DNS, and format with `getHostAddress`, so `::FFFF:1.2.3.4` →
  * `1.2.3.4` and `2001:db8::1` → `2001:db8:0:0:0:0:0:1`. For the
  * dotted-quad and IPv6 forms `PeerAddressSpec` checks against
  * `InetAddress.getByName`, that is the reference's
  * `InetSocketAddress(getByName(v), 0).getHostString`.
  *
  * Two divergences from `InetAddress.getByName`:
  *  - the reference would DNS-resolve a HOSTNAME in the header (blocking
  *    the accept thread per request); a data engine cannot do per-row DNS,
  *    so only IP literals resolve and hostnames fall through to the
  *    transport address — the standard behavior for every XFF entry a real
  *    proxy writes;
  *  - the JDK's literal parser also takes short and zero-padded IPv4
  *    forms (`4`, `6.00`, `00.1.1.1`, `1.2.3.04`; JDK 17 reads them as
  *    0.0.0.4, 6.0.0.0, 0.1.1.1, 1.2.3.4). Guava rejects them, so such an
  *    entry keeps the transport address. Whether the reference's
  *    `getByName` resolves them the same way was not checked against it.
  *
  * IPv6 zone ids (`fe80::1%eth0`) are rejected before Guava sees them:
  * `forString` resolves a zone through the host's `NetworkInterface`, so
  * the result would depend on the executor's network devices, and a proxy
  * never writes a zone into the header.
  */
object PeerAddresses {

  /** Rightmost XFF entry → normalized IP literal, or null when the header
    * is null/blank or the entry is not a valid IP literal. */
  def resolveXff(s: String): String = {
    if (s == null) return null
    val a = literal(s.substring(s.lastIndexOf(',') + 1).trim)
    if (a == null) null else a.getHostAddress
  }

  /** IP literal → 4 or 16 address bytes, or null. One optional pair of
    * brackets is stripped (getByName accepts `[::1]`). */
  def parseIpLiteral(s: String): Array[Byte] = {
    val a = literal(s)
    if (a == null) null else a.getAddress
  }

  private def literal(s0: String): InetAddress = {
    if (s0 == null) return null
    val s =
      if (s0.length >= 2 && s0.charAt(0) == '[' && s0.charAt(s0.length - 1) == ']')
        s0.substring(1, s0.length - 1)
      else s0
    // a zone id is resolved through NetworkInterface (see above); Guava
    // also reads non-ASCII Unicode digits, which java.net does not
    if (s.indexOf('%') >= 0 || s.exists(_ > '\u007f')) null
    else try InetAddresses.forString(s) catch { case _: IllegalArgumentException => null }
  }
}
