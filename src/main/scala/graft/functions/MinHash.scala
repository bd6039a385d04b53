package graft.functions

/** MinHash signature computation in tight JVM code. The equivalent nested
  * `transform(...array_min(transform(...)))` column expression is
  * semantically identical but runs interpreted per element (Spark
  * higher-order functions don't codegen lambda bodies) — measured 17.8s vs
  * <0.5s for 5000 docs at k=64. One UDF call per row, no boxing in the
  * inner loop.
  *
  * Replication contract (what makes the LSH operator FULLY oracle-checkable
  * rather than recall-dependent): the base shingle hash is the low 32 bits
  * of md5 — DuckDB reaches the identical value via
  * `('0x'||substr(md5(s),25,8))::UBIGINT` — and the k permutations are
  * plain integer affine maps h_i(m) = (m*(2i+1) + (40503i+2531011)) mod
  * (2^31-1), all arithmetic < 2^40 so both engines compute exact BIGINTs.
  * The oracle replays signatures, banding, and candidate generation, so
  * LSH's misses near the Jaccard threshold are reproduced, not assumed
  * away.
  */
object MinHash {
  final val Prime = 2147483647L

  /** The ORACLE's whitespace class: RE2 (DuckDB) `\s` = [ \t\n\f\r],
    * which EXCLUDES vertical tab \x0B — Java regex `\s` includes it. Every
    * engine-side whitespace regex (column `split`/`regexp_replace` and the
    * JVM tokenizers) must use this explicit class, never Java `\s`, or a
    * \x0B-bearing document diverges from the SQL oracle. */
  final val Ws = " \t\n\f\r"
  final val WsRe: String = s"[$Ws]+"

  /** SQL-parity tokenizer: trims SPACES only (SQL/DuckDB `trim`) then
    * splits on \s+ KEEPING edge empties (split limit -1, like Spark's
    * `split` and DuckDB's `string_split_regex` — both emit a leading
    * and/or trailing empty token for \s-edged input; verified against
    * DuckDB 1.0). `String.trim` + default-limit `split` would instead
    * strip \t/\n/control-char edges and drop trailing empties, silently
    * diverging from the oracles. Every JVM-side tokenizer in the repo
    * goes through here. */
  def sqlToks(text: String): Array[String] =
    sqlTrim(text).split(WsRe, -1)

  /** SQL `trim`: SPACES only, both engines — the ONE definition of the
    * trim semantics ([[TextStats]] shares it; java String.trim is never
    * the right call on an oracle-checked path). */
  def sqlTrim(text: String): String = {
    var b = 0
    var e = text.length
    while (b < e && text.charAt(b) == ' ') b += 1
    while (e > b && text.charAt(e - 1) == ' ') e -= 1
    text.substring(b, e)
  }

  /** First 4 bytes of md5(s) as an unsigned 32-bit value in a long —
    * ≡ DuckDB `('0x'||substr(md5(s),1,8))::UBIGINT`. */
  def md5High32(s: String): Long = {
    val bytes = Digests.md5Utf8(s)
    ((bytes(0) & 0xffL) << 24) | ((bytes(1) & 0xffL) << 16) |
      ((bytes(2) & 0xffL) << 8) | (bytes(3) & 0xffL)
  }

  /** Low 32 bits of md5(shingle), as an unsigned value in a long —
    * ≡ DuckDB `('0x'||substr(md5(s),25,8))::UBIGINT`. */
  private def shingleHash32(s: String): Long = {
    val bytes = Digests.md5Utf8(s)
    var h = 0L
    var i = 12
    while (i < 16) { h = (h << 8) | (bytes(i) & 0xffL); i += 1 }
    h
  }

  /** 52-bit md5 prefix window (hex chars 20..32, 1-based): the low nibble
    * of digest byte 9 followed by bytes 10..15 — ≡ DuckDB
    * `('0x'||substr(md5(s),20,13))::UBIGINT`. The same window the hashed
    * set-similarity shingles use; factored here so token-level users (the
    * tfidf index) share one definition. */
  def md5Mid52(s: String): Long = {
    val bytes = Digests.md5Utf8(s)
    var v = bytes(9) & 0xFL
    var i = 10
    while (i < 16) { v = (v << 8) | (bytes(i) & 0xFFL); i += 1 }
    v
  }

  /** Per-token [[md5Mid52]] hashes, MULTIPLICITY-PRESERVING (term
    * frequency counts token repeats) — ≡ DuckDB
    * `list_transform(tk, g -> CAST(('0x'||substr(md5(g),20,13))::UBIGINT AS BIGINT))`
    * over `string_split_regex(trim(text), '\s+')`. */
  def tokenHashes52(text: String): Array[Long] = {
    val tokens = sqlToks(text)
    val out = new Array[Long](tokens.length)
    var i = 0
    while (i < tokens.length) { out(i) = md5Mid52(tokens(i)); i += 1 }
    out
  }

  @inline private def permMin(sig: Array[Long], m: Long, k: Int): Unit = {
    var i = 0
    while (i < k) {
      val v = (m * (i * 2 + 1) + (i * 40503 + 2531011)) % Prime
      if (v < sig(i)) sig(i) = v
      i += 1
    }
  }

  /** Tokenize + 3-gram shingle + sign in one pass from the raw text. Takes
    * a plain String because ScalaUDF's array<string> input conversion costs
    * ~19us/element (measured: a no-op `Seq[String] => Int` UDF over the
    * shingle arrays took 9.2s for 5000 rows) while a String converts once.
    * Shingle construction matches the column-side `shingles()` (space-joined
    * consecutive-token 3-grams, distinct). */
  def signatureFromText(text: String, k: Int): Array[Long] = {
    val tokens = sqlToks(text)
    if (tokens.length < 3) return Array.fill(k)(Long.MaxValue)
    val seen = new java.util.HashSet[String]()
    val sig = Array.fill(k)(Long.MaxValue)
    var t = 0
    while (t + 2 < tokens.length) {
      val s = tokens(t) + " " + tokens(t + 1) + " " + tokens(t + 2)
      if (seen.add(s)) permMin(sig, shingleHash32(s), k)
      t += 1
    }
    sig
  }

  /** Distinct consecutive word 3-grams, first-occurrence order. JVM-side
    * twin of the column-expression `shingles()` (same strings) — used where
    * the HOF + explode path would dominate runtime. */
  def shingles3(text: String): Array[String] = {
    val tokens = sqlToks(text)
    if (tokens.length < 3) return Array.empty
    val seen = new java.util.LinkedHashSet[String]()
    var t = 0
    while (t + 2 < tokens.length) {
      seen.add(tokens(t) + " " + tokens(t + 1) + " " + tokens(t + 2))
      t += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  /** Distinct consecutive word n-grams, first-occurrence order — the
    * generalized [[shingles3]] (same space-joined strings), for operators
    * parameterized on n (e.g. 5-gram contamination scoring). */
  def ngrams(text: String, n: Int): Array[String] = {
    val tokens = sqlToks(text)
    if (tokens.length < n) return Array.empty
    val seen = new java.util.LinkedHashSet[String]()
    var t = 0
    while (t + n <= tokens.length) {
      val sb = new java.lang.StringBuilder(tokens(t))
      var k = 1
      while (k < n) { sb.append(' ').append(tokens(t + k)); k += 1 }
      seen.add(sb.toString)
      t += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  /** SORTED distinct md5-low-32 hashes of the document's 3-gram shingles —
    * the inverted-index / exact-Jaccard representation: an 8-byte hash
    * shuffles and compares ~8x cheaper than the ~20-char shingle string,
    * and because the hash is the oracle-replicable md5-low-32 (same value
    * via `('0x'||substr(md5(s),25,8))::UBIGINT`), BOTH engines build the
    * identical hashed sets — any hash collision collapses the same pair of
    * shingles on both sides, so the comparison stays bit-exact rather than
    * "correct up to collisions". */
  def shingleHashes(text: String): Array[Long] = {
    val tokens = sqlToks(text)
    if (tokens.length < 3) return Array.empty
    val seen = new java.util.TreeSet[java.lang.Long]()
    var t = 0
    while (t + 2 < tokens.length) {
      seen.add(shingleHash32(tokens(t) + " " + tokens(t + 1) + " " + tokens(t + 2)))
      t += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  def signature(shingles: Seq[String], k: Int): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    val it = shingles.iterator
    while (it.hasNext) permMin(sig, shingleHash32(it.next()), k)
    sig
  }
}
