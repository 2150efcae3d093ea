package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Hashed-gram kernels behind the classifier/DSIR feature convention
  * `fid = conv(substring(md5(gram), 1, 15), 16, 10) % dim` — the first
  * 60 bits of the md5 digest, reduced mod dim. These compute the SAME
  * value from the digest bytes directly: the first 15 hex chars are the
  * first 60 bits, i.e. (first 8 digest bytes as unsigned big-endian)
  * >>> 4 — no 32-char hex string, no substring, no base-16 string
  * parse, no per-gram boxing (the built-in chain allocates all three
  * per gram; at ~200 grams/doc that dominated q173's serving path —
  * r16 lab). Bit-equality with the built-in chain is pinned by
  * TextKernelsSpec over random unicode strings.
  */
object TextKernels {

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def top60(digest: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
    v >>> 4 // first 15 hex nibbles = top 60 bits, always non-negative
  }

  /** fid of one gram: top-60-bits-of-md5(utf8 bytes) % dim. */
  def fid(gram: UTF8String, dim: Int): Long = {
    val md = md5.get()
    md.reset()
    md.update(gram.getBytes)
    top60(md.digest()) % dim
  }

  /** First `nibbles` (1..15) hex chars of md5(g) as a non-negative long —
    * the generalized convention behind `conv(substring(md5(g), 1, N),
    * 16, 10)`: nibbles=15 is the 60-bit dedup/shingle hash, nibbles=8
    * the simhash 32-bit bit source. Computed from the digest bytes
    * directly (no hex string, no substring, no base-16 parse per row);
    * bit-parity with the built-in chain is pinned by TextKernelsSpec.
    * 16 nibbles would read the sign bit — callers stay ≤ 15 so the
    * value is always non-negative, matching conv's unsigned parse. */
  def md5Prefix(g: UTF8String, nibbles: Int): Long = {
    val md = md5.get()
    md.reset()
    md.update(g.getBytes)
    val d = md.digest()
    var v = 0L
    var i = 0
    val nb = (nibbles + 1) / 2
    while (i < nb) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    if ((nibbles & 1) == 1) v >>> 4 else v
  }

  private val SpaceByte = ' '.toByte

  /** Per-document hashed-gram margin: Σ weights[fid(gram)] over the
    * unigrams of `tokens` in order, then the adjacent bigrams
    * ("a b", single space) in order — the exact gram order (and
    * left-to-right IEEE summation) of the `aggregate(gramsOf(w))` HOF
    * path this kernel replaces. Bigram digests are fed bytes directly
    * (update(a); update(' '); update(b)) — no intermediate string. */
  def gramMargin(tokens: ArrayData, weights: Array[Double], dim: Int): Double = {
    val n = tokens.numElements()
    val md = md5.get()
    var acc = 0.0
    var i = 0
    while (i < n) {
      md.reset()
      md.update(tokens.getUTF8String(i).getBytes)
      acc += weights((top60(md.digest()) % dim).toInt)
      i += 1
    }
    i = 0
    while (i < n - 1) {
      md.reset()
      md.update(tokens.getUTF8String(i).getBytes)
      md.update(SpaceByte)
      md.update(tokens.getUTF8String(i + 1).getBytes)
      acc += weights((top60(md.digest()) % dim).toInt)
      i += 1
    }
    acc
  }

  /** Null-element guard shared by the expressions (a null token would
    * NPE opaquely inside the digest loop). */
  def requireNoNullElements(a: ArrayData, what: String): Unit = {
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(
          s"$what: token array contains a null element at index $i")
      i += 1
    }
  }

  /** The BM25 tokens of an already lower-cased text under the reference
    * tokenizer (bm25.rs:114-120): maximal runs of `[a-z0-9]` of at least
    * two chars, every other byte separating (a multi-byte UTF-8 char has
    * no byte in that range). Counts each of `terms` into `tf` and
    * returns the token count — one pass, no token array. */
  def bm25Counts(lowered: UTF8String, terms: Array[Array[Byte]], tf: Array[Int]): Int = {
    java.util.Arrays.fill(tf, 0)
    val base = lowered.getBaseObject
    val off = lowered.getBaseOffset
    val n = lowered.numBytes
    def tokenByte(i: Int): Boolean = {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
    }
    var dlen = 0
    var i = 0
    while (i < n) {
      while (i < n && !tokenByte(i)) i += 1
      val start = i
      while (i < n && tokenByte(i)) i += 1
      val len = i - start
      if (len > 1) {
        dlen += 1
        var t = 0
        while (t < terms.length) {
          val term = terms(t)
          if (term.length == len) {
            var j = 0
            while (j < len && org.apache.spark.unsafe.Platform.getByte(base, off + start + j) ==
                term(j)) j += 1
            if (j == len) tf(t) += 1
          }
          t += 1
        }
      }
    }
    dlen
  }

  /** A row's BM25 score: Σ over `terms`, in order, of
    * idf · (tf · (k1 + 1)) / (tf + k1 · (1 − b + b · dlen / avgdl)),
    * `stats` = (avgdl, idf of each term). The operations and their order
    * are those of the Column formula this replaces, so scores are equal
    * bit for bit; a text holding no term scores 0.0. */
  def bm25Score(lowered: UTF8String, terms: Array[Array[Byte]], stats: Array[Double],
      k1: Double, b: Double): Double = {
    val tf = new Array[Int](terms.length)
    val dlen = bm25Counts(lowered, terms, tf).toDouble
    var s = 0.0
    var t = 0
    while (t < terms.length) {
      val f = tf(t).toDouble
      val c = stats(1 + t) * (f * (k1 + 1.0)) / (f + k1 * (1.0 - b + b * dlen / stats(0)))
      s = if (t == 0) c else s + c
      t += 1
    }
    s
  }
}
