package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

/** User-facing Column API over the graft expression library — the Spark
  * equivalent of the reference mapping DSL's value producers (SURVEY.md §2B).
  */
object GraftFunctions {

  // ------------------------------------------------------------ wire codecs
  /** Mincode event-parameter payload → JSON string; null if malformed. */
  def mincodeToJson(c: Column): Column = column(MincodeToJson(expression(c)))

  /** Guava-compatible murmur3_32 over the string's UTF-8 bytes. */
  def murmur3Utf8(c: Column): Column = column(Murmur3Utf8(expression(c)))

  /** Rightmost X-Forwarded-For IP literal (normalized), null if absent or
    * not a literal ([[XffPeerAddress]]). */
  def xffPeerAddress(xff: Column): Column = column(XffPeerAddress(expression(xff)))

  /** Effective peer address behind proxies: the rightmost XFF entry when it
    * is a valid IP literal, else the transport remote host unchanged — the
    * reference's ProxyAdjacentPeerAddressHandler, as one codegen'd column. */
  def resolvePeerAddress(xff: Column, remoteHost: Column): Column =
    coalesce(xffPeerAddress(xff), remoteHost)

  /** Reference tryParse base-36 semantics: null on malformed/overflow. */
  def base36ToLong(c: Column): Column = column(Base36ToLong(expression(c)))

  /** Parse-once URI component struct (reference parseUri memoization) —
    * scheme/host/port/path/rawPath/query/rawQuery/fragment/rawFragment. */
  def parseUri(c: Column): Column = column(UriParse(expression(c)))

  /** 64-bit SimHash of a text (md5-low-64 token hash, tf-weighted votes). */
  def simhash64(c: Column): Column = column(SimHash64(expression(c)))

  /** Threshold levenshtein with early abandon; contract-identical to the
    * built-in `levenshtein(a, b, k)` (distance if <= k, else -1). */
  def levenshteinBounded(a: Column, b: Column, k: Int): Column =
    column(LevenshteinBounded(expression(a), expression(b), k))

  /** 64-bucket saturated code-point histogram ([[CharHist]]) — the
    * per-document half of the sound fuzzy-verify prune. */
  def charHist64(c: Column): Column = column(CharHist64Expr(expression(c)))

  /** L1 distance between two [[charHist64]] histograms; `l1 <= 2k` is a
    * necessary condition for `levenshteinBounded(a, b, k) >= 0`. */
  def histL1(a: Column, b: Column): Column =
    column(HistL1Expr(expression(a), expression(b)))

  /** Quantile estimate from a [[TDigest]] digest column. */
  def tdigestQuantile(digest: Column, q: Double): Column =
    column(TDigestQuantileExpr(expression(digest), q))

  /** Unicode normalization (NFC/NFD/NFKC/NFKD) — corpus-cleaning first
    * stage ([[UnicodeNormalize]]; codegen'd). */
  def unicodeNormalize(c: Column, form: String = "NFC"): Column =
    column(UnicodeNormalize(expression(c), form))

  /** FastCDC gear-hash chunking ([[GearChunker]]): array of
    * (start, len, hash) chunk structs tiling the input. */
  def gearChunks(text: Column): Column =
    column(GearChunksExpr(expression(text)))

  /** Suppression-free gear chunking ([[GearChunker.rawChunks]]) — the
    * SQL-oracle-able sibling of [[gearChunks]]: (start, len) codepoint
    * spans from the bare table+recurrence+mask boundary test. */
  def gearChunksRaw(text: Column): Column =
    column(GearChunksRawExpr(expression(text)))

  /** Two-pass gear-chunk BLOCKING keys for fuzzy dedup — see
    * [[GearChunker.blockKeys]]. */
  def gearBlockKeys(text: Column): Column =
    column(GearBlockKeysExpr(expression(text)))

  /** One-pass whitespace-token statistics struct ([[TextStatsExpr]]):
    * (nTokens, nTypes, stopHits, charSum). */
  def textStats(text: Column, stopwords: Set[String]): Column =
    column(TextStatsExpr(expression(text), stopwords))

  /** BPE-encode a token array against a broadcast merge-rank map
    * ([[BpeEncodeExpr]]): (nTokens, md5-of-symbol-stream). */
  def bpeEncodeTokens(tokens: Column,
      rank: org.apache.spark.broadcast.Broadcast[Map[(String, String), Int]]): Column =
    column(BpeEncodeExpr(expression(tokens), rank))

  /** Greedy WordPiece segmentation of one word ([[WordPieceEncodeExpr]]):
    * (nPieces, "first ##rest" segmentation). `model` is the broadcast
    * (start-piece set, continuation-piece set) pair. */
  def wordpieceEncode(word: Column,
      model: org.apache.spark.broadcast.Broadcast[(Set[String], Set[String])],
      maxPiece: Int): Column =
    column(WordPieceEncodeExpr(expression(word), model, maxPiece))

  /** Greedy WordPiece over a whole token array ([[WordPieceEncodeAllExpr]]):
    * (total nPieces, md5 over the piece stream); empty tokens skipped. */
  def wordpieceEncodeAll(tokens: Column,
      model: org.apache.spark.broadcast.Broadcast[(Set[String], Set[String])],
      maxPiece: Int): Column =
    column(WordPieceEncodeAllExpr(expression(tokens), model, maxPiece))

  /** Textbook Jaro-Winkler similarity, byte-level ([[JaroWinkler]] —
    * semantics pinned to DuckDB's native implementation for oracle parity). */
  def jaroWinkler(a: Column, b: Column): Column =
    column(JaroWinklerSim(expression(a), expression(b)))

  /** Unrestricted Damerau-Levenshtein distance, byte-level ([[DamerauLev]]). */
  def damerauLevenshtein(a: Column, b: Column): Column =
    column(DamerauLevDistance(expression(a), expression(b)))

  /** Order-16 Hilbert curve position for 2-D layout keys ([[Hilbert]]). */
  def hilbertIndex(x: Column, y: Column): Column =
    column(HilbertIndex(expression(x), expression(y)))

  /** Deterministic real-container BMP/WAV demo payloads ([[MediaCodec]]). */
  def synthBmp(k: Column): Column = column(SynthBmp(expression(k)))
  def synthWav(k: Column): Column = column(SynthWav(expression(k)))

  /** Seeded demo BMP (docs 2s/2s+1 share images — see [[MediaCodec]]). */
  def synthBmpSeeded(k: Column): Column = column(SynthBmpSeeded(expression(k)))

  /** Real decode + perceptual difference-hash → 4×16-bit chunk array. */
  def bmpDhash(blob: Column): Column = column(BmpDHash(expression(blob)))

  /** One real BMP parse per row → metadata/feature struct (null on corrupt
    * bytes); `outW`×`outH` is the nearest-neighbour thumbnail geometry. */
  def bmpDecodeStats(blob: Column, outW: Int, outH: Int): Column =
    column(BmpDecodeStats(expression(blob), outW, outH))

  /** One real RIFF/WAVE parse per row → metadata/energy struct. */
  def wavDecodeStats(blob: Column): Column =
    column(WavDecodeStats(expression(blob)))

  /** Deterministic real-container AVI demo payload ([[MediaCodec]]). */
  def synthAvi(k: Column): Column = column(SynthAvi(expression(k)))

  /** One real AVI parse per row → video metadata/pixel-mass struct. */
  def aviDecodeStats(blob: Column): Column = column(AviDecodeStats(expression(blob)))

  /** Real frame sampling: every `step`-th decoded frame's pixel mass. */
  def aviFrameSums(blob: Column, step: Int): Column =
    column(AviFrameSums(expression(blob), step))

  /** Seeded demo WAV (docs 2s/2s+1: identical PCM, byte-distinct container). */
  def synthWavSeeded(k: Column): Column = column(SynthWavSeeded(expression(k)))

  /** Real decode + audio content fingerprint → struct(sig, energy, n_frames). */
  def wavFingerprint(blob: Column): Column = column(WavFingerprint(expression(blob)))

  /** Query string → map<string, array<string>> (multi-value, url-decoded). */
  def parseQueryString(c: Column): Column = column(ParseQueryString(expression(c)))

  /** RFC-7230 header value → array<string>. */
  def splitHeaderValue(c: Column): Column = column(SplitHeaderValue(expression(c)))

  /** Float embedding → scaled-long representation (floor(x*1e7)). */
  def scaleFloats(c: Column): Column = column(ScaleFloats(expression(c)))

  /** Exact dot product of two scaled-long arrays. */
  def dotLongArrays(a: Column, b: Column): Column =
    column(DotLongArrays(expression(a), expression(b)))

  /** Truncated dyadic EWMA of an oldest-first scaled-long array. */
  def ewmaFold(c: Column): Column = column(EwmaFold(expression(c)))

  // ------------------------------------------------------------ digests
  /** Ordered digest of string pieces; absent (null) pieces are skipped —
    * reference `Digester.java:61-78`. */
  def digest(algorithm: String, pieces: Column*): Column =
    column(DigestPieces(algorithm, None, pieces.map(expression)))

  // ------------------------------------------------------------ checksum
  /** The reference's canonical checksum string over sorted query parameters
    * (`ClientSideCookieEventHandler.java:241-261`): for each key except the
    * checksum param `x`, in lexicographic key order: `key=` + each value +
    * `,`, then `;`. Computed over the parsed multi-value map column. */
  def checksumCanonicalString(paramsMap: Column): Column = {
    val entries = map_entries(paramsMap) // array<struct<key,value:array<string>>>
    // sort keys in UTF-16 code-unit order — the reference's Java string
    // sort, which BrowserWire.decode also uses. A plain array_sort compares
    // UTF8String bytes (code-POINT order), which disagrees whenever keys
    // mix a supplementary char with a BMP char >= U+E000; encode(UTF-16BE)
    // makes byte order equal code-unit order, keeping the two checksum
    // paths bit-identical on any unicode key
    val sortedK = array_sort(transform(entries, e =>
      struct(encode(e.getField("key"), "UTF-16BE").as("sk"), e.as("e"))))
    val sortedE = transform(sortedK, x => x.getField("e"))
    val nonChecksum = filter(sortedE, e => e.getField("key") =!= "x")
    val rendered = transform(nonChecksum, e =>
      concat(e.getField("key"), lit("="),
        array_join(transform(e.getField("value"), v => concat(v, lit(","))), ""),
        lit(";")))
    array_join(rendered, "")
  }

  /** Corruption flag: true when the base36 checksum param `x` does not match
    * the murmur3_32 of the canonical parameter string — or is absent/invalid.
    * (`ClientSideCookieEventHandler.java:206-239`; absent checksum ⇒ corrupt.) */
  def checksumMismatch(paramsMap: Column): Column = {
    val expected = base36ToLong(element_at(element_at(paramsMap, "x"), 1))
    val actual = murmur3Utf8(checksumCanonicalString(paramsMap)).cast("long")
    // a NULL map (nothing parsed at all) has no checksum: corrupt — the
    // bare !(NULL <=> NULL) collapsed to false, the wrong verdict
    when(paramsMap.isNull, lit(true)).otherwise(!(expected <=> actual))
  }

  // ------------------------------------------------------ absent-semantics
  /** Reference `and`: absent if *either* side is absent — NOT SQL 3VL
    * (`DslRecordMapping.java:1154-1176`; SURVEY.md §7.4). */
  def absentAnd(l: Column, r: Column): Column =
    when(l.isNull || r.isNull, lit(null).cast("boolean")).otherwise(l && r)

  /** Reference `or`: absent if either side is absent. */
  def absentOr(l: Column, r: Column): Column =
    when(l.isNull || r.isNull, lit(null).cast("boolean")).otherwise(l || r)

  /** Reference `equalTo`: two absents are equal; absent vs present is false
    * (`DslRecordMapping.java:1047-1051` — Optional.equals). */
  def equalTo(l: Column, r: Column): Column = l <=> r

  /** Reference `toBoolean`: Boolean.parseBoolean — never null, non-"true" is
    * false (`DslRecordMapping.java:232-238`). */
  def toBooleanLenient(c: Column): Column = coalesce(lower(c) === "true", lit(false))

  /** Full-string regex capture group with EXACT matcher semantics
    * (`SURVEY.md` §2B regex caveat): null on no-match or a
    * non-participating group, the captured text — possibly "" — when the
    * group matched. The old rlike + nullif(regexp_extract) formulation ran
    * the regex twice AND collapsed a genuine empty capture to null. */
  def matchGroup(c: Column, pattern: String, group: Int): Column =
    column(RegexMatchGroup(expression(c), pattern, group))

  /** Named-group variant — the reference's `match(...).group("name")`
    * producer (`DslRecordMapping.java` matcher group(String)). Spark's
    * `regexp_extract` is index-only, so the name resolves to its capture
    * index at plan time; an unknown name fails analysis like the
    * reference's mapping-compile check. */
  def matchGroup(c: Column, pattern: String, name: String): Column =
    matchGroup(c, pattern, namedGroupIndex(pattern, name))

  /** Capture-group index of `(?<name>...)` in `pattern`: counts capturing
    * groups left-to-right, skipping escapes, character classes, and
    * non-capturing `(?...)` constructs (named groups DO count). */
  private[functions] def namedGroupIndex(pattern: String, name: String): Int = {
    var i = 0
    var count = 0
    var inClass = false
    while (i < pattern.length) {
      pattern.charAt(i) match {
        case '\\'               => i += 1
        case '[' if !inClass    => inClass = true
        case ']' if inClass     => inClass = false
        case '(' if !inClass =>
          if (i + 1 < pattern.length && pattern.charAt(i + 1) == '?') {
            if (i + 3 < pattern.length && pattern.charAt(i + 2) == '<' &&
                pattern.charAt(i + 3) != '=' && pattern.charAt(i + 3) != '!') {
              count += 1
              val end = pattern.indexOf('>', i + 3)
              if (end > 0 && pattern.substring(i + 3, end) == name) return count
            }
          } else count += 1
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException(s"no named group <$name> in regex: $pattern")
  }

  // ------------------------------------------------------------ transport
  /** Client address from an X-Forwarded-For chain: the proxy-adjacent
    * (last) entry — reference `ProxyAdjacentPeerAddressHandler`
    * (`Server.java:135-138`): only the value appended by the trusted
    * adjacent proxy is believable. */
  def xForwardedForClient(header: Column): Column =
    try_element_at(splitHeaderValue(header), lit(-1))

  /** Cookie value by name from a Cookie request header
    * (`DslRecordMapping.java:566-570` cookie(name) producer). */
  def cookieValue(cookieHeader: Column, name: String): Column = {
    // FIRST matching cookie wins (the reference's cookie(name) producer);
    // str_to_map would throw DUPLICATE_MAP_KEY under the default EXCEPTION
    // dedup policy on the legal-and-common repeated-name header
    val pairs = split(cookieHeader, ";\\s*")
    val matching = filter(pairs, p =>
      try_element_at(split(p, "=", 2), lit(1)) === name)
    try_element_at(
      transform(matching, p => try_element_at(split(p, "=", 2), lit(2))),
      lit(1))
  }

  /** Paths fully handled by Spark's codegen'd `get_json_object`: definite
    * dotted names and non-negative indexes only. */
  private val SimpleJsonPath = "^\\$(\\.[A-Za-z_][A-Za-z0-9_]*|\\[[0-9]+\\])*$".r

  /** Full goessner/jayway JSONPath over a JSON string column (recursive
    * descent, slices, unions, filters — see [[JsonPaths]]). Simple definite
    * paths route to the built-in `get_json_object` (same semantics, native
    * codegen); everything else runs the [[JsonPathQuery]] expression. */
  def jsonPath(json: Column, path: String): Column =
    if (SimpleJsonPath.matches(path)) get_json_object(json, path)
    else column(JsonPathQuery(expression(json), path))

  /** Event-parameter JSONPath access over the decoded parameters JSON —
    * `eventParameters().path(expr)` (`DslRecordMapping.java:575-632`);
    * full jayway dialect via [[jsonPath]]. */
  def eventParamPath(paramsJson: Column, jsonPath: String): Column =
    this.jsonPath(paramsJson, jsonPath)

  /** `eventParameters().value(name)` — first-level string value. */
  def eventParamValue(paramsJson: Column, name: String): Column =
    get_json_object(paramsJson, s"$$.$name")
}
