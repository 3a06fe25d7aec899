package graft.functions.expr

import scala.collection.mutable

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.PortableHash

/** Tight-loop runtime for the native hash expressions — one JVM call per
  * row instead of an interpreted higher-order-function tree. Semantics are
  * EXACTLY the declarative builders in [[graft.functions.DedupFunctions]]
  * (and therefore the DuckDB oracles): code-point folding matches
  * `split(s,"")`+`ascii` (Java regex splits between code points, so
  * surrogate pairs stay whole), tokenization matches
  * `filter(split(s," "), length>0)`, distinct keeps first occurrence like
  * `array_distinct`/`list_distinct`, and an empty input yields the same
  * null signature entries as `array_min` over an empty array.
  */
object HashOps {
  private val P = PortableHash.P
  private val K = PortableHash.K
  private val A = PortableHash.A.toArray
  private val B = PortableHash.B.toArray

  /** Sign-LSH bucket for one band: for plane j ∈ [0, ppb), plane index
    * p = band·ppb + j, the plane dot is the LEFT FOLD over dims i = 1..dim
    * of ve[i] · coef(p, i) with coef = ((A(p)·i + B(p)) mod P mod 2001) −
    * 1000 — exactly d10's declarative `aggregate`/`transform` tree and its
    * DuckDB oracle (integer-exact coefficients, sequential double adds), so
    * buckets stay bit-identical across engines. One tight loop per row in
    * place of 2·ppb interpreted higher-order-function walks. */
  def signLshBucket(v: ArrayData, band: Int, ppb: Int): Long = {
    val dim = v.numElements()
    var bucket = 0L
    var j = 0
    while (j < ppb) {
      val p = band * ppb + j
      val a = A(p)
      val b = B(p)
      var dot = 0.0
      var i = 1
      while (i <= dim) {
        val c = ((a * i + b) % P % 2001L - 1000L).toDouble
        dot += v.getDouble(i - 1) * c
        i += 1
      }
      if (dot >= 0.0) bucket |= (1L << j)
      j += 1
    }
    bucket
  }

  /** Rolling code-point hash of the whole string (spaces included) —
    * [[graft.functions.PortableHash.stringHash]]'s tight-loop twin. */
  def stringHash(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      h = (h * 31 + cp) % P
    }
    h
  }

  /** Per-token rolling code-point hash; empty tokens dropped. */
  def tokenHashes(s: UTF8String): ArrayData = {
    val str = s.toString
    val out = mutable.ArrayBuffer.empty[Long]
    var h = 0L
    var inTok = false
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      if (cp == ' ') {
        if (inTok) { out += h; h = 0L; inTok = false }
      } else {
        inTok = true
        h = (h * 31 + cp) % P
      }
    }
    if (inTok) out += h
    new GenericArrayData(out.toArray)
  }

  /** Per-position character-BIGRAM codes: cp_i · 0x110000 + cp_{i+1} — one
    * code per adjacent code-point pair in input order (d38's LM unit).
    * TRULY INJECTIVE: the multiplier is the Unicode code-point alphabet
    * size (0x110000 = 1114112 > any cp), so distinct pairs map to distinct
    * codes — a base-1114112 two-digit number, max ≈ 1.25·10¹², comfortably
    * int64, NO mod (a 31-multiplier fold collides unrelated pairs:
    * "ab" = 97·31+98 = 3105 = 98·31+67 = "bC" — r10 ADVICE). Grouping on
    * the code IS grouping on the bigram, with no string allocation per
    * position. Shorter-than-2 input yields an empty array — the same rows
    * DuckDB's `generate_series(1, len−1)` drops. */
  def bigramHashes(s: UTF8String): ArrayData = {
    val str = s.toString
    val cps = mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      cps += cp
    }
    val n = math.max(0, cps.length - 1)
    val out = new Array[Long](n)
    var j = 0
    while (j < n) {
      out(j) = cps(j).toLong * 1114112L + cps(j + 1).toLong
      j += 1
    }
    new GenericArrayData(out)
  }

  /** POSITIONAL k-window folds over a token-hash array — one hash per
    * window start, duplicates kept in order (d32's substring-duplication
    * scoring needs the occurrence multiset, where [[shingleHashes]]'s
    * distinct set is what MinHash wants). */
  def shingleHashesAll(th: ArrayData, k: Int): ArrayData = {
    val n = th.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i <= n - k) {
      var h = 0L
      var j = 0
      while (j < k) {
        h = (h * 31 + th.getLong(i + j)) % P
        j += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct k-window folds over a token-hash array (first occurrence
    * kept). */
  def shingleHashes(th: ArrayData, k: Int): ArrayData = {
    val n = th.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val seen = mutable.LinkedHashSet.empty[Long]
    var i = 0
    while (i <= n - k) {
      var h = 0L
      var j = 0
      while (j < k) {
        h = (h * 31 + th.getLong(i + j)) % P
        j += 1
      }
      seen += h
      i += 1
    }
    new GenericArrayData(seen.toArray)
  }

  /** Positional word windows: element i (0-based) is the " "-joined slice
    * ws[i·w .. i·w+w), for ⌈n/w⌉ windows — the d30 window builder as ONE
    * codegen'd call per row. The declarative form (`transform` over an
    * index sequence with an `array_join(slice(...))` lambda) is a
    * CodegenFallback HOF evaluated per ELEMENT with per-element ArrayData
    * churn; this loop concatenates bytes directly. Value-identical to
    * `array_join(slice(ws, (i-1)*w+1, w), " ")` for i in 1..⌈n/w⌉. */
  def wordWindows(ws: ArrayData, w: Int): ArrayData = {
    val n = ws.numElements()
    val m = (n + w - 1) / w
    val out = new Array[UTF8String](m)
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i < m) {
      val from = i * w
      val until = math.min(from + w, n)
      val parts = new Array[UTF8String](until - from)
      var j = from
      while (j < until) { parts(j - from) = ws.getUTF8String(j); j += 1 }
      out(i) = UTF8String.concatWs(sep, parts: _*)
      i += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  /** Canonical ordered pairs of an id array, PACKED into single longs:
    * for every index pair i < j with distinct values, emits
    * `(min << 32) | max` — one 8-byte shuffle key instead of the two-long
    * (doc_a, doc_b) row (guide §2.3 narrower types: the d37 pair-count
    * exchange is the repo's largest shuffle, and its key width drops ~25%
    * of the row). Emits exactly n·(n−1)/2 rows where the explode×explode +
    * filter formulation generated n² rows and dropped half. GUARDED: ids
    * must fit in an unsigned 32-bit slot or the packing would alias —
    * violations throw rather than corrupt (unpack with an UNSIGNED shift;
    * ids ≥ 2³¹ set the sign bit of the packed long). The pair count is
    * computed in Long: an array whose n·(n−1)/2 pairs exceed the largest
    * JVM array (n ≥ 65 537) throws instead of wrapping to a bogus size. */
  def pairPack(ds: ArrayData): ArrayData = {
    val n = ds.numElements()
    val pairs = n.toLong * (n - 1) / 2
    if (pairs > ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH)
      throw new IllegalArgumentException(
        s"graft_pair_pack: $n ids give $pairs pairs, more than the largest array " +
          s"(${ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH} elements)")
    val out = new Array[Long](pairs.toInt)
    var idx = 0
    var i = 0
    while (i < n) {
      val a = ds.getLong(i)
      if (a < 0L || a > 0xFFFFFFFFL)
        throw new IllegalArgumentException(
          s"graft_pair_pack: id $a outside [0, 2^32) - packed pair key would alias")
      var j = i + 1
      while (j < n) {
        val b = ds.getLong(j)
        if (a != b) {
          val lo = math.min(a, b)
          val hi = math.max(a, b)
          out(idx) = (lo << 32) | hi
          idx += 1
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(
      if (idx == out.length) out else java.util.Arrays.copyOf(out, idx))
  }

  /** Dot product as an index-order accumulation — identical floating-point
    * order to `aggregate(zip_with(a, b, _*_), 0.0, _+_)` (a left fold), so
    * results stay bit-equal to the declarative builder and the DuckDB
    * `list_reduce` oracle. Lengths are taken from the shorter array,
    * matching `zip_with` null-padding semantics on equal-length inputs. */
  def dotFold(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** 30-bit SimHash: bit b set iff ≥ half the token hashes have bit b set
    * (matching the declarative builder bit-for-bit). */
  def simhash(hashes: ArrayData): Long = {
    val n = hashes.numElements()
    var out = 0L
    var b = 0
    while (b < 30) {
      var cnt = 0
      var j = 0
      while (j < n) {
        if (((hashes.getLong(j) >> b) & 1L) == 1L) cnt += 1
        j += 1
      }
      if (2 * cnt >= n) out += (1L << b)
      b += 1
    }
    out
  }

  /** BPE-style pre-tokenizer run counts in ONE linear scan — the native twin
    * of `regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]+')`
    * (d12's oracle contract): a token is a maximal run of ASCII letters,
    * ASCII digits, or "other" (anything else except the five separator
    * chars). Returns (total runs, digit runs). Classification is ASCII-only,
    * so iterating UTF-16 chars is safe: both halves of a surrogate pair
    * classify as "other" and stay in one run, exactly like the code-point
    * regex. */
  def pretokenCounts(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    var n = 0
    var nDigit = 0
    var prev = 0 // 0 = separator, 1 = letter, 2 = digit, 3 = other
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      i += 1
      val cls =
        if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) 1
        else if (c >= '0' && c <= '9') 2
        else if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f') 0
        else 3
      if (cls != 0 && cls != prev) {
        n += 1
        if (cls == 2) nDigit += 1
      }
      prev = cls
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, nDigit))
  }

  /** K-minima MinHash signature; all-null entries iff the input is empty
    * (matching `array_min` over an empty transform). */
  def minhashSignature(hashes: ArrayData): ArrayData = {
    val n = hashes.numElements()
    if (n == 0) return new GenericArrayData(Array.fill[Any](K)(null))
    val sig = new Array[Any](K)
    var i = 0
    while (i < K) {
      val a = A(i); val b = B(i)
      var min = Long.MaxValue
      var j = 0
      while (j < n) {
        val v = (a * hashes.getLong(j) + b) % P
        if (v < min) min = v
        j += 1
      }
      sig(i) = min
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** One-pass symmetric int8 quantization (e04/e05's index build): amax →
    * scale = 127/amax → half-up-rounded codes, exactly the declarative
    * `floor(x·scale + 0.5)` pipeline (and the DuckDB oracle). One tight
    * loop per row: the declarative form paid O(dim²) per row once
    * CollapseProject inlined the `amax` reduction into the per-element
    * lambda (measured 2 ms/row — 4 s to quantize 2 000 vectors — r8). */
  def quantizeCodes(ve: ArrayData): ArrayData = {
    val n = ve.numElements()
    var amax = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(ve.getDouble(i))
      if (a > amax) amax = a
      i += 1
    }
    val scale = if (amax > 0.0) 127.0 / amax else 0.0
    val out = new Array[Double](n)
    i = 0
    while (i < n) {
      out(i) = math.floor(ve.getDouble(i) * scale + 0.5)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Perceptual signature of an opaque media payload (m03): two 32-bit
    * halves, each from a 64-bucket byte-bigram histogram under an
    * independent mix, bit k = count(k) > count(k+32). Histogram bits are
    * robust to local edits (the property a pHash needs) and the pairwise
    * bucket comparison keeps them ~balanced so the 16-bit LSH bands carry
    * entropy. Both halves fit in 32 bits, so band shift/mask and
    * bit_count(xor) stay sign-free in both engines (DuckDB raises on
    * `1<<63`, which a packed 64-bit signature would need). */
  def phashSig(bytes: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val c1 = new Array[Int](64)
    val c2 = new Array[Int](64)
    var i = 0
    while (i < bytes.length - 1) {
      val b1 = bytes(i) & 0xff
      val b2 = bytes(i + 1) & 0xff
      c1((b1 * 31 + b2) % 64) += 1
      c2((b1 * 37 + b2 * 3) % 64) += 1
      i += 1
    }
    var s1 = 0L
    var s2 = 0L
    var k = 0
    while (k < 32) {
      if (c1(k) > c1(k + 32)) s1 |= 1L << k
      if (c2(k) > c2(k + 32)) s2 |= 1L << k
      k += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](s1, s2))
  }

  /** REAL P6 PPM (binary portable pixmap) decode — the m06 decode step.
    * Unlike the m01/m02 byte-derived pseudo-metadata, this is an actual
    * byte-level image parser: magic check, whitespace-delimited ASCII
    * header (width, height, maxval), the single post-maxval whitespace
    * byte, then exactly width·height RGB triples. Any violation — wrong
    * magic, bad dimensions, maxval out of 8-bit range, truncated or
    * oversized pixel payload — returns null, which the query surfaces as a
    * quarantine flag (the binary-path analogue of the c01 PERMISSIVE
    * parse). Channel means are exact integer sums with one double division
    * each, so both engines agree bitwise. */
  def ppmDecode(bytes: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    if (bytes == null || bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6') return null
    var i = 2
    def isWs(b: Byte) = b == ' ' || b == '\n' || b == '\t' || b == '\r'
    def readInt(): Int = {
      val start = i
      while (i < bytes.length && isWs(bytes(i))) i += 1
      if (i == start) return -1 // header fields must be whitespace-separated
      var v = 0
      var any = false
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9' && v <= 0xffffff) {
        v = v * 10 + (bytes(i) - '0'); i += 1; any = true
      }
      if (any) v else -1
    }
    val w = readInt()
    val h = readInt()
    val maxv = readInt()
    if (w <= 0 || h <= 0 || maxv <= 0 || maxv > 255) return null
    if (i >= bytes.length || !isWs(bytes(i))) return null // exactly one ws byte
    i += 1
    // Width × height in LONG: readInt admits values up to ~1.6e8, so the
    // Int product can wrap (a crafted "P6 65536 65536" header with an empty
    // payload would pass a wrapped length check and skip quarantine, and
    // other wrap values could run the pixel loop past the array).
    val n = w.toLong * h
    if ((bytes.length - i).toLong != n * 3L) return null
    var sr = 0L; var sg = 0L; var sb = 0L
    var p = 0L
    while (p < n) {
      sr += bytes(i) & 0xff; sg += bytes(i + 1) & 0xff; sb += bytes(i + 2) & 0xff
      i += 3; p += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      w, h, maxv, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n))
  }
}
