package graft.functions

import graft.core.Rng

/** Scala shingling kernels behind the `graft_shingle_hashes` /
  * `graft_char_shingle_hashes` expressions (and the driver-side ground
  * truth of the tests and benchmark checks). The Column-tree and UDF forms
  * the codegen expressions replaced are kept as reference twins in the test
  * sources (`graft.functions.ReferenceTwins`), not here.
  */
object GraftFunctions {

  // ---------------------------------------------------------------- shingling

  /** Word n-gram shingles; split on single space KEEPING empty tokens
    * (parity with SQL string_split / Spark split semantics). */
  def wordNgrams(text: String, n: Int): Array[String] = {
    val ws = text.split(" ", -1)
    if (ws.length < n) Array.empty
    else Array.tabulate(ws.length - n + 1)(i => ws.slice(i, i + n).mkString(" "))
  }

  def charNgrams(text: String, n: Int): Array[String] = {
    if (text.length < n) Array.empty
    else Array.tabulate(text.length - n + 1)(i => text.substring(i, i + n))
  }

  /** Distinct, unsigned-sorted 64-bit hashes of a doc's shingle set — the
    * MinHash input with SET semantics (/root/reference/src/hashes/minhash.jl:146-170).
    * Sorted so the verify kernel can single-pass merge. */
  def shingleHashSet(shingles: Array[String], seed: Long): Array[Long] = {
    val hs = new Array[Long](shingles.length)
    var i = 0
    while (i < shingles.length) { hs(i) = Rng.hashString(seed, shingles(i)); i += 1 }
    val distinct = hs.distinct
    java.util.Arrays.sort(distinct)
    distinct
  }

  /** Word-n-gram shingle hash set computed WITHOUT materializing n-gram
    * strings: each word is hashed once, n-gram hash = mix-chain of the word
    * hashes. Same set semantics as [[shingleHashSet]]∘[[wordNgrams]] (equal
    * n-grams ⇒ equal hashes; collisions ≈ 2⁻⁶⁴) at a fraction of the
    * allocation rate — this is the hottest per-row loop in the pipeline. */
  def wordNgramHashSet(text: String, n: Int, seed: Long): Array[Long] = {
    val ws = text.split(" ", -1)
    if (ws.length < n) return Array.empty[Long]
    val wh = new Array[Long](ws.length)
    var i = 0
    while (i < ws.length) { wh(i) = Rng.hashString(seed, ws(i)); i += 1 }
    val out = new Array[Long](ws.length - n + 1)
    i = 0
    while (i < out.length) {
      // ORDER-SENSITIVE chain: h2 remixes the accumulator before xoring the
      // next word hash. A plain mix64(h ^ w) is symmetric in its inputs, so
      // "a b" and "b a" would collide — caught by the DuckDB string oracle.
      var h = wh(i)
      var j = 1
      while (j < n) { h = Rng.hash2(h, wh(i + j)); j += 1 }
      out(i) = h
      i += 1
    }
    val distinct = out.distinct
    java.util.Arrays.sort(distinct)
    distinct
  }
}
