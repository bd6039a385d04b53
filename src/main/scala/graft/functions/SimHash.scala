package graft.functions

/** 64-bit SimHash in tight JVM code — one pass per document instead of the
  * explode→groupBy(doc,tok)→64-sum-aggregate→groupBy(doc) column pipeline
  * (two shuffles and a 64-wide aggregate whose codegen alone cost seconds;
  * measured 1.55s → ~0.2s warm at sf0.1).
  *
  * Bit-parity contract (what the DuckDB oracle replicates — see
  * `DocQueries.simhashPairsSql`): tokens are whitespace splits of the
  * trimmed text; each DISTINCT token hashes to the low 64 bits of its md5
  * (UTF-8); bit j of the simhash is set iff the tf-weighted ±1 sum over
  * tokens' bit-j values is strictly positive. Matches the previous column
  * formulation exactly.
  */
object SimHash {

  /** Low 64 bits of md5(token) as a (sign-carrying) long — the same value
    * DuckDB reaches via ('0x'||substr(md5(tok),17,16))::UBIGINT. */
  private def tokenHash64(tok: String): Long = {
    val bytes = Digests.md5Utf8(tok)
    // md5 hex chars 17..32 = bytes 8..15, big-endian
    var h = 0L
    var i = 8
    while (i < 16) { h = (h << 8) | (bytes(i) & 0xffL); i += 1 }
    h
  }

  def simhash64(text: String): java.lang.Long = {
    val tokens = MinHash.sqlToks(text)
    val tf = new java.util.HashMap[String, Int]()
    var i = 0
    while (i < tokens.length) { tf.merge(tokens(i), 1, Integer.sum); i += 1 }
    val sums = new Array[Int](64)
    val it = tf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val h = tokenHash64(e.getKey)
      val w = e.getValue
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) != 0L) sums(j) += w else sums(j) -= w
        j += 1
      }
    }
    var v = 0L
    var j = 0
    while (j < 64) { if (sums(j) > 0) v |= 1L << j; j += 1 }
    java.lang.Long.valueOf(v)
  }
}
