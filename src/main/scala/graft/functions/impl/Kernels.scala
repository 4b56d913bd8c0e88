package graft.functions.impl

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels shared by interpreted eval and generated code.
  * doGenCode emits a single static call into these, so the expression
  * participates in whole-stage codegen without CodegenFallback's
  * per-row InternalRow construction.
  */
object Kernels {

  def xxh64(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)

  def wordShingles(input: UTF8String, n: Int): ArrayData = {
    val s = input.toString
    val words = new scala.collection.mutable.ArrayBuffer[String](64)
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) words += s.substring(start, i)
    }
    val out = new java.util.LinkedHashSet[UTF8String]()
    var w = 0
    while (w + n <= words.length) {
      val sb = new java.lang.StringBuilder(words(w))
      var j = 1
      while (j < n) { sb.append(' ').append(words(w + j)); j += 1 }
      out.add(UTF8String.fromString(sb.toString))
      w += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == '\u000B'

  def minhash(arr: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h1 = xxh64(s, 0x9747b28cL)
        val h2 = xxh64(s, 0x8ebc6af1L) | 1L
        var j = 0
        var h = h1
        while (j < k) {
          if (h < mins(j)) mins(j) = h
          h += h2
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** 128-bit simhash (two independent xxh64 lanes per token) — the
    * scale variant: 64-bit blocking at 1e9+ docs saturates its
    * 4×65,536 bucket key space; 128 bits banded as 4×32 (or 8×16)
    * keeps bucket populations bounded. LSB-first per 64-bit half. */
  def simhash128(arr: ArrayData): ArrayData = {
    val votes = new Array[Int](128)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h1 = xxh64(s, 42L)
        val h2 = xxh64(s, 0x9747b28cL)
        var j = 0
        while (j < 64) {
          if (((h1 >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          if (((h2 >>> j) & 1L) == 1L) votes(64 + j) += 1 else votes(64 + j) -= 1
          j += 1
        }
      }
      i += 1
    }
    val bits = new Array[Int](128)
    var j = 0
    while (j < 128) { bits(j) = if (votes(j) > 0) 1 else 0; j += 1 }
    new GenericArrayData(bits)
  }

  def simhash(arr: ArrayData): ArrayData = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = xxh64(arr.getUTF8String(i), 42L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    val bits = new Array[Int](64)
    var j = 0
    while (j < 64) { bits(j) = if (votes(j) > 0) 1 else 0; j += 1 }
    new GenericArrayData(bits)
  }

  // ---- md5-portable kernels --------------------------------------
  // Engine-portable twins of the xxhash64 kernels above: MD5 is
  // bit-identical in the JVM and DuckDB, so these signatures can be
  // value-verified by a SQL oracle. The xxhash64 variants stay the
  // faster scale path (one 64-bit hash vs a full digest per element).

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val HexChars = "0123456789abcdef".toCharArray

  private def digestToHexChars(d: Array[Byte]): Array[Char] = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    out
  }

  private def md5Hex(bytes: Array[Byte]): String = {
    val md = md5Local.get()
    md.reset()
    new String(digestToHexChars(md.digest(bytes)))
  }

  private def md5Digest(bytes: Array[Byte]): Array[Byte] = {
    val md = md5Local.get()
    md.reset()
    md.digest(bytes)
  }

  /** minhash with md5 lanes, 4 lanes per digest: lane i =
    * lexicographic min over elements of the 8-hex-char slice
    * [8·(i%4), 8·(i%4)+8) of md5_hex((i/4) + "|" + element) — 32-bit
    * lanes (collision-safe for per-doc shingle counts) at a quarter
    * of the digest cost. Empty input → empty array (callers must
    * filter before pairing). DuckDB twin:
    * list_transform(range(0,k), i -> list_min(list_transform(shs,
    *   s -> substr(md5((i // 4)::VARCHAR || '|' || s), (i % 4) * 8 + 1, 8))))
    */
  def minhashMd5(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val groups = (k + 3) / 4
    val prefixes = Array.tabulate(groups)(g =>
      (g.toString + "|").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val mins = new Array[String](k)
    val md = md5Local.get()
    var i = 0
    var seen = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        seen += 1
        val sBytes = arr.getUTF8String(i).getBytes
        var g = 0
        while (g < groups) {
          md.reset()
          md.update(prefixes(g))
          md.update(sBytes)
          val hex = digestToHexChars(md.digest())
          var q = 0
          while (q < 4 && g * 4 + q < k) {
            val lane = g * 4 + q
            val h = new String(hex, q * 8, 8)
            if (mins(lane) == null || h.compareTo(mins(lane)) < 0) mins(lane) = h
            q += 1
          }
          g += 1
        }
      }
      i += 1
    }
    // all-null input is as signatureless as an empty array — never
    // emit nulls into a containsNull=false array
    if (seen == 0) return new GenericArrayData(Array.empty[Any])
    new GenericArrayData(mins.map(UTF8String.fromString(_)).asInstanceOf[Array[Any]])
  }

  /** simhash with md5 bits: bit j of a token's vote vector is bit
    * (7 - j%8) of byte j/8 of md5(token) — i.e. the 64-bit prefix of
    * the digest read MSB-first, matching the hex-nibble arithmetic a
    * SQL twin does on md5 strings. +1/-1 votes, sign → bit.
    */
  def simhashMd5(arr: ArrayData): ArrayData = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val d = md5Digest(arr.getUTF8String(i).getBytes)
        var j = 0
        while (j < 64) {
          val bit = (d(j / 8) >> (7 - (j % 8))) & 1
          if (bit == 1) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    val bits = new Array[Int](64)
    var j = 0
    while (j < 64) { bits(j) = if (votes(j) > 0) 1 else 0; j += 1 }
    new GenericArrayData(bits)
  }

  private val hyperplaneWeightsMd5Cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Byte]]]()

  /** ±1 hyperplane weights from md5("t/p:d"): +1 iff the first hex
    * char is in [0-7] (top bit of the digest clear). DuckDB twin:
    * CASE WHEN substr(md5(t || '/' || p || ':' || d), 1, 1) <= '7'. */
  def hyperplaneWeightsMd5(tables: Int, planes: Int, dim: Int): Array[Array[Byte]] =
    hyperplaneWeightsMd5Cache.computeIfAbsent((tables, planes, dim), { case (t, p, d) =>
      Array.tabulate(t * p) { tp =>
        val tt = tp / p; val pp = tp % p
        Array.tabulate(d) { i =>
          val h = md5Hex(s"$tt/$pp:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
          if (h.charAt(0) <= '7') 1.toByte else -1.toByte
        }
      }
    })

  def hyperplaneBucketsMd5(v: ArrayData, tables: Int, planes: Int): ArrayData =
    bucketsWith(v, tables, planes, hyperplaneWeightsMd5(tables, planes, v.numElements()))

  /** Rabin–Karp polynomial rolling hash over Unicode code points:
    * h = fold (acc * base + cp) mod m. Engine-portable — the DuckDB
    * twin folds ascii(c) (code points) with list_reduce in the same
    * order, and all arithmetic stays below 2^63 for base 31 and a
    * 1e9-scale modulus. */
  def rollingHash(s: UTF8String, base: Long, mod: Long): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * base + cp) % mod
      i += Character.charCount(cp)
    }
    h
  }

  /** FNV-1a 64-bit over the UTF-8 bytes (the real FNV spec — offset
    * basis 0xcbf29ce484222325, prime 0x100000001b3 — matching OTTL's
    * FNV converter, which hashes the string's bytes to an int64) */
  def fnv1a64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  def wordlistHits(arr: ArrayData, words: java.util.HashSet[UTF8String]): Int = {
    val n = arr.numElements()
    var hits = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && words.contains(arr.getUTF8String(i))) hits += 1
      i += 1
    }
    hits
  }

  /** all ordered pairs (i < j) of an array's elements as an array of
    * 2-field structs; elements passed through by reference. Guarded:
    * Int pair-count arithmetic silently overflows near n≈65k, so an
    * uncapped posting list must fail loudly, not corrupt. */
  def pairCombinations(arr: ArrayData, elemType: org.apache.spark.sql.types.DataType): ArrayData = {
    val n = arr.numElements()
    val pairs = n.toLong * (n - 1) / 2
    require(pairs <= Int.MaxValue,
      s"pair expansion of a $n-element bucket overflows — cap the bucket (maxBucket/maxDf)")
    val out = new Array[Any](pairs.toInt)
    var idx = 0
    var i = 0
    while (i < n) {
      val a = arr.get(i, elemType)
      var j = i + 1
      while (j < n) {
        out(idx) = org.apache.spark.sql.catalyst.InternalRow(a, arr.get(j, elemType))
        idx += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def hammingInts(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0
    var i = 0
    while (i < n) {
      if (a.getInt(i) != b.getInt(i)) d += 1
      i += 1
    }
    d
  }

  /** all consecutive 3-character windows of a string in ONE pass,
    * stepping by code point (the same segmentation as Spark's
    * split(text, '') — a surrogate pair is one "character"); < 3
    * characters yields an empty array. Byte-identical to the old
    * split-array + transform SQL formulation (parity spec-pinned)
    * without materializing a one-string-per-character array. */
  def charTrigrams(input: UTF8String): ArrayData = {
    val s = input.toString
    val len = s.length
    val n = s.codePointCount(0, len)
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    val bounds = new Array[Int](n + 1)
    var i = 0
    var cp = 0
    while (cp < n) {
      bounds(cp) = i
      i = s.offsetByCodePoints(i, 1)
      cp += 1
    }
    bounds(n) = len
    val out = new Array[Any](n - 2)
    var t = 0
    while (t < n - 2) {
      out(t) = UTF8String.fromString(s.substring(bounds(t), bounds(t + 3)))
      t += 1
    }
    new GenericArrayData(out)
  }

  /** pack `len` (≤ 64) 0/1 int bits starting at `from` into one long,
    * MSB-first — the packed form is a bijection of the bit slice, so
    * grouping/equality over it is grouping/equality over the bits.
    * Bounds-checked: a caller whose nBits disagrees with the actual
    * signature width must fail loudly, not read garbage words into
    * plausible-looking banding keys (r18 advice). */
  def bitsPack(bits: ArrayData, from: Int, len: Int): Long = {
    require(from >= 0 && from + len <= bits.numElements(),
      s"bits_pack [$from, ${from + len}) out of range for a " +
        s"${bits.numElements()}-bit signature")
    var v = 0L
    var i = 0
    while (i < len) {
      v = (v << 1) | (bits.getInt(from + i) & 1L)
      i += 1
    }
    v
  }

  // ---- winnowing / ExactSubstr kernels -----------------------------
  // One native pass per document for the winnowing fingerprint
  // selection, and one native fold per doc pair for the ExactSubstr
  // extension verify. Both are bit-identical ports of the SQL
  // formulations they replace (kernel-vs-SQL parity spec-pinned); the
  // SQL forms ran the gram generation through an interpreted HOF +
  // a per-doc window (two gram-level exchanges) and the extension
  // through a ~40-node interpreted lambda per anchor.

  /** winnowing position cap: 2^21 in-doc positions — packed key
    * c = h·POSCAP + (POSCAP−1−pos) stays exact in a long (h < 2^32) */
  val WinnowPosCap: Long = 1L << 21

  /** Distinct packed winnowing keys of a token array, one pass:
    * gram g_i = tokens[i-1..i+2] joined with ' ' (1-based i), h_i =
    * first 4 md5 bytes as unsigned big-endian (the
    * conv(substring(md5(gram),1,8),16,10) twin), c_i = h_i·2^21 +
    * (2^21−1−i); output = distinct over window-4 minima min(c_p..
    * c_{p+3}) for full windows p ∈ [1, nGrams−3], first-occurrence
    * order (the array_distinct order of the HOF formulation). Fewer
    * than 7 tokens → empty (callers filter size ≥ 7 anyway). */
  def winnowPacked(ws: ArrayData): ArrayData = {
    val n = ws.numElements()
    val nGrams = n - 3
    if (nGrams < 4) return new GenericArrayData(Array.empty[Long])
    // token bytes fetched once (grams overlap 4-fold)
    val tb = new Array[Array[Byte]](n)
    var t = 0
    while (t < n) { tb(t) = ws.getUTF8String(t).getBytes; t += 1 }
    val md = md5Local.get()
    val c = new Array[Long](nGrams + 1) // 1-based gram positions
    var i = 1
    while (i <= nGrams) {
      md.reset()
      md.update(tb(i - 1))
      var j = i
      while (j <= i + 2) { md.update(' '.toByte); md.update(tb(j)); j += 1 }
      val d = md.digest()
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      c(i) = h * WinnowPosCap + (WinnowPosCap - 1 - i)
      i += 1
    }
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long](nGrams / 2)
    var last = Long.MinValue
    var p = 1
    while (p <= nGrams - 3) {
      var m = c(p)
      if (c(p + 1) < m) m = c(p + 1)
      if (c(p + 2) < m) m = c(p + 2)
      if (c(p + 3) < m) m = c(p + 3)
      // sliding minima repeat consecutively — cheap pre-dedup before
      // the hash probe
      if (m != last) { if (seen.add(m)) out += m; last = m }
      p += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** [[winnowPacked]] with the position dropped: DISTINCT selected
    * fingerprint hashes per doc, first-occurrence order — the
    * q_winnowing projection. With the per-doc distinct done here, a
    * (doc_id, h_sel) explode is already globally distinct and the
    * consumer's distinct Exchange disappears. */
  def winnowHashes(ws: ArrayData): ArrayData = {
    val packed = winnowPacked(ws)
    val n = packed.numElements()
    if (n == 0) return packed
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long](n)
    var i = 0
    while (i < n) {
      val h = packed.getLong(i) >>> 21
      if (seen.add(h)) out += h
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** The Gopher repetition-signal struct (13 doubles) in ONE native
    * pass — the bit-identical port of the TextOps.repetitionSignals
    * SQL expression (kept verbatim in the parity spec as reference),
    * which ran ~9 interpreted sorted gram walks per doc. The SQL's
    * sorted run-length folds only use run COUNTS × per-gram char
    * mass, both order-independent, so hash counting per distinct
    * gram/chunk is exactly equivalent. Char counts are code points
    * (Spark length() = UTF8String.numChars); the duplicate-5-gram
    * gate lazily skips the n=6..10 walks exactly as the SQL IF did.
    * Field semantics:
    *  - dup_line/para_frac: (chunks − distinct chunks) / chunks over
    *    8-/32-token chunk synthesis. An empty token array gives 0.5,
    *    as the SQL did: its sequence(1, 0) counts down to [1, 0], two
    *    empty chunks of which one is distinct (production callers
    *    filter size ≥ 1);
    *  - dup_*_char_frac: duplicated char mass / total chars, 0.0 when
    *    the doc has zero non-separator chars;
    *  - top_{2,3,4}gram_char_frac: max over distinct n-grams of
    *    count × gram chars (separators excluded) / total chars;
    *  - dup_{5..10}gram_char_frac: Σ over n-grams with count ≥ 2 of
    *    count × gram chars / total chars. */
  def repetitionSignals(ws: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = ws.numElements()
    val toks = new Array[UTF8String](n)
    val pref = new Array[Long](n + 1) // prefix sums of token code points
    var i = 0
    while (i < n) {
      toks(i) = ws.getUTF8String(i)
      pref(i + 1) = pref(i) + toks(i).numChars()
      i += 1
    }
    val tot = pref(n)
    val space = UTF8String.fromString(" ")
    def joinRange(from: Int, to: Int): UTF8String =
      UTF8String.concatWs(space,
        java.util.Arrays.copyOfRange(toks, from, to): _*)
    // chunk synthesis stats: (n_chunks, n_distinct, join chars,
    // distinct-join chars) — join chars include the in-chunk ' '
    // separators (concat_ws), matching length(array_join(l, ''))
    def chunkStats(k: Int): (Long, Long, Long, Long) = {
      // the SQL's sequence(1, 0) for n = 0: two empty chunks
      if (n == 0) return (2L, 1L, 0L, 0L)
      val m = (n + k - 1) / k
      val seen = new java.util.HashSet[UTF8String]()
      var joinChars = 0L
      var distinctChars = 0L
      var j = 0
      while (j < m) {
        val from = j * k
        val to = math.min(from + k, n)
        val chars = (pref(to) - pref(from)) + (to - from - 1)
        joinChars += chars
        if (seen.add(joinRange(from, to))) distinctChars += chars
        j += 1
      }
      (m.toLong, seen.size.toLong, joinChars, distinctChars)
    }
    // n-gram stats: (best, dup) = (max count·chars over distinct
    // grams, Σ count·chars over grams with count ≥ 2); chars = gram
    // code points minus the k−1 separators = the gram's token chars
    def gramStats(k: Int): (Long, Long) = {
      if (n < k) return (0L, 0L)
      val counts = new java.util.HashMap[UTF8String, Array[Int]]()
      var p = 0
      while (p + k <= n) {
        val slot = counts.computeIfAbsent(joinRange(p, p + k),
          (_: UTF8String) => new Array[Int](1))
        slot(0) += 1
        p += 1
      }
      var best = 0L
      var dup = 0L
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val cw = e.getKey.numChars().toLong - (k - 1)
        val c = e.getValue()(0).toLong
        if (c * cw > best) best = c * cw
        if (c >= 2) dup += c * cw
      }
      (best, dup)
    }
    val (l8n, l8d, l8jc, l8djc) = chunkStats(8)
    val (l32n, l32d, l32jc, l32djc) = chunkStats(32)
    val d5 = gramStats(5)._2
    def overTot(v: Long): Double = if (tot == 0) 0.0 else v.toDouble / tot.toDouble
    def dupHigher(k: Int): Double =
      if (d5 == 0 || tot == 0) 0.0 else overTot(gramStats(k)._2)
    val out = new Array[Any](13)
    out(0) = (l8n - l8d).toDouble / l8n.toDouble
    out(1) = if (l8jc == 0) 0.0 else (l8jc - l8djc).toDouble / l8jc.toDouble
    out(2) = (l32n - l32d).toDouble / l32n.toDouble
    out(3) = if (l32jc == 0) 0.0 else (l32jc - l32djc).toDouble / l32jc.toDouble
    out(4) = overTot(gramStats(2)._1)
    out(5) = overTot(gramStats(3)._1)
    out(6) = overTot(gramStats(4)._1)
    out(7) = overTot(d5)
    out(8) = dupHigher(6)
    out(9) = dupHigher(7)
    out(10) = dupHigher(8)
    out(11) = dupHigher(9)
    out(12) = dupHigher(10)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  /** The dHash deterministic stub decode (q_media_phash family): the
    * 8×9 "grayscale grid" pixel is the first 2 md5 bytes of
    * "seed/row/col" (seed = pmod(doc_id, 40)), bit b = pixel(row,c) <
    * pixel(row,c+1) with the one-pixel +65536 tweak on bit 0 of odd
    * variants — EXACTLY the SQL transform it replaces (the conv(
    * substring(md5(..),1,4),16,10) walk the DuckDB oracle twins), one
    * native pass of 72 digests instead of 128 interpreted lambda
    * evaluations per row. */
  def dhashStubBits(docId: Long): ArrayData = {
    val seed = ((docId % 40) + 40) % 40
    val tweak = (docId / 40) % 2 == 1
    val md = md5Local.get()
    // 8 rows × 9 cols of 16-bit pixels, each one md5 of "seed/row/col"
    val pix = new Array[Long](72)
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 9) {
        md.reset()
        val d = md.digest(s"$seed/$r/$c".getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        pix(r * 9 + c) = ((d(0) & 0xffL) << 8) | (d(1) & 0xffL)
        c += 1
      }
      r += 1
    }
    val bits = new Array[Int](64)
    var b = 0
    while (b < 64) {
      val row = b >> 3
      val c = b & 7
      val p1 = pix(row * 9 + c) + (if (tweak && b == 0) 65536L else 0L)
      bits(b) = if (p1 < pix(row * 9 + c + 1)) 1 else 0
      b += 1
    }
    new GenericArrayData(bits)
  }

  /** The ExactSubstr extension verify over one doc pair's shared
    * anchors (Lee et al. APPLY; see exactDupSpans): anchors arrive
    * packed pa·2^21 + pb (both 1-based, < 2^21 by the spanTokens
    * guard), are sorted by (diagonal = pa−pb, pa), and a single fold
    * walks them — covered skip, collision gram re-check, left scan
    * capped by the previous span's known mismatch, both scans
    * short-circuit at the first mismatch. Emits ALL maximal spans
    * (minLen filtering stays outside, as in the SQL fold) packed
    * start_a·2^42 + start_b·2^21 + span_len. Bit-identical port of
    * the interpreted SQL aggregate it replaces (parity spec-pinned).
    */
  def extendSpans(anchors: ArrayData, za: ArrayData, zb: ArrayData): ArrayData = {
    val m = anchors.numElements()
    if (m == 0) return new GenericArrayData(Array.empty[Long])
    val M21 = WinnowPosCap - 1
    // sort key (diag + 2^21) << 21 | pa — key order IS (diag, pa)
    // order, and pa/diag decode back out of the key
    val keys = new Array[Long](m)
    var i = 0
    while (i < m) {
      val pk = anchors.getLong(i)
      val pa = pk >>> 21
      val pb = pk & M21
      keys(i) = ((pa - pb + WinnowPosCap) << 21) | pa
      i += 1
    }
    java.util.Arrays.sort(keys)
    val la = za.numElements().toLong
    val lb = zb.numElements().toLong
    var dSet = false
    var dVal = 0L
    var e = -1L
    val spans = new scala.collection.mutable.ArrayBuffer[Long](8)
    i = 0
    while (i < m) {
      val key = keys(i)
      val pa = key & M21
      val diag = (key >>> 21) - WinnowPosCap
      val pb = pa - diag
      val sameDiag = dSet && diag == dVal
      if (!(sameDiag && pa <= e)) {
        // anchor gram re-check (8-byte hash collision guard):
        // za[pa..pa+3] = zb[pb..pb+3], 1-based
        var ok = true
        var g = 0
        while (ok && g < 4) {
          if (!za.getUTF8String((pa + g - 1).toInt)
            .equals(zb.getUTF8String((pb + g - 1).toInt))) ok = false
          g += 1
        }
        if (!ok) {
          e = if (sameDiag) e else -1L
          dVal = diag
          dSet = true
        } else {
          val ml0 = math.min(pa, pb) - 1
          val ml = if (sameDiag && e >= 0) math.min(pa - e - 2, ml0) else ml0
          val mr = math.min(la - (pa + 3), lb - (pb + 3))
          var le = 0L
          while (le < ml && za.getUTF8String((pa - le - 2).toInt)
            .equals(zb.getUTF8String((pb - le - 2).toInt))) le += 1
          var re = 0L
          while (re < mr && za.getUTF8String((pa + 3 + re).toInt)
            .equals(zb.getUTF8String((pb + 3 + re).toInt))) re += 1
          spans += (((pa - le) << 42) | ((pb - le) << 21) | (le + 4 + re))
          dVal = diag
          dSet = true
          e = pa + 3 + re
        }
      }
      i += 1
    }
    new GenericArrayData(spans.toArray)
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** squared-L2 with the exact fold order of the HOF reference
    * (per-element (x-y)² accumulated left to right in IEEE double) —
    * values stay bit-identical to the DuckDB list_sum twin */
  def l2sq(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0.0
    var i = 0
    while (i < n) {
      val t = a.getDouble(i) - b.getDouble(i)
      d += t * t
      i += 1
    }
    d
  }

  private def l2sqVs(a: ArrayData, c: Array[Double]): Double = {
    val n = math.min(a.numElements(), c.length)
    var d = 0.0
    var i = 0
    while (i < n) {
      val t = a.getDouble(i) - c(i)
      d += t * t
      i += 1
    }
    d
  }

  private def cosineVs(a: ArrayData, c: Array[Double]): Double = {
    val n = math.min(a.numElements(), c.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = c(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** centered projection onto every basis row in one pass —
    * out[r] = v·basis(r) − offsets(r) (PCA/whitening transform) */
  def projectTable(v: ArrayData, basis: Array[Array[Double]],
                   offsets: Array[Double]): ArrayData = {
    val out = new Array[Double](basis.length)
    var r = 0
    while (r < basis.length) {
      val row = basis(r)
      val n = math.min(v.numElements(), row.length)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += v.getDouble(i) * row(i); i += 1 }
      out(r) = dot - offsets(r)
      r += 1
    }
    new GenericArrayData(out)
  }

  /** distances to every codebook entry in one pass (the per-query ADC
    * table) — replaces ksub inlined fold expressions with one call */
  def l2Table(sub: ArrayData, codebook: Array[Array[Double]]): ArrayData = {
    val out = new Array[Double](codebook.length)
    var i = 0
    while (i < codebook.length) { out(i) = l2sqVs(sub, codebook(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** cosine to every centroid in one pass (probe-ordering table) */
  def cosineTable(v: ArrayData, cents: Array[Array[Double]]): ArrayData = {
    val out = new Array[Double](cents.length)
    var i = 0
    while (i < cents.length) { out(i) = cosineVs(v, cents(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** argmin-L2 codebook index, FIRST-min tie rule — value-identical to
    * array_position(dists, array_min(dists)) - 1 over the same dists.
    * One loop per row whatever ksub is (the inlined-expression
    * formulation grows the plan O(ksub) and falls out of codegen). */
  def nearestCodeL2(sub: ArrayData, codebook: Array[Array[Double]]): Int = {
    var best = 0
    var bd = l2sqVs(sub, codebook(0))
    var i = 1
    while (i < codebook.length) {
      val d = l2sqVs(sub, codebook(i))
      if (d < bd) { bd = d; best = i }
      i += 1
    }
    best
  }

  /** argmax-cosine centroid index, FIRST-max tie rule (the
    * array_position(sims, array_max(sims)) - 1 twin) */
  def nearestCentroidCos(v: ArrayData, cents: Array[Array[Double]]): Int = {
    var best = 0
    var bs = cosineVs(v, cents(0))
    var i = 1
    while (i < cents.length) {
      val s = cosineVs(v, cents(i))
      if (s > bs) { bs = s; best = i }
      i += 1
    }
    best
  }

  private val hyperplaneWeights =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Byte]]]()

  def hyperplaneWeightsFor(tables: Int, planes: Int, dim: Int): Array[Array[Byte]] =
    hyperplaneWeights.computeIfAbsent((tables, planes, dim), { case (t, p, d) =>
      Array.tabulate(t * p) { tp =>
        val tt = tp / p; val pp = tp % p
        Array.tabulate(d) { i =>
          val key = UTF8String.fromString(s"$tt/$pp:$i")
          val h = xxh64(key, 42L)
          if (h > 0) 1.toByte else -1.toByte
        }
      }
    })

  def hyperplaneBuckets(v: ArrayData, tables: Int, planes: Int): ArrayData =
    bucketsWith(v, tables, planes, hyperplaneWeightsFor(tables, planes, v.numElements()))

  /** shared bucket-string construction for both weight sources (one
    * loop to maintain — the sign/tie rule must never diverge) */
  private def bucketsWith(v: ArrayData, tables: Int, planes: Int,
                          w: Array[Array[Byte]]): ArrayData = {
    val dim = v.numElements()
    val vals = new Array[Double](dim)
    var i = 0
    while (i < dim) { vals(i) = v.getDouble(i); i += 1 }
    val out = new Array[Any](tables)
    var t = 0
    while (t < tables) {
      val sb = new java.lang.StringBuilder(planes + 4)
      sb.append(t).append(':')
      var p = 0
      while (p < planes) {
        val row = w(t * planes + p)
        var s = 0.0
        var d = 0
        while (d < dim) { s += (if (row(d) == 1) vals(d) else -vals(d)); d += 1 }
        sb.append(if (s > 0) '1' else '0')
        p += 1
      }
      out(t) = UTF8String.fromString(sb.toString)
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Go-style duration string → nanoseconds (OTTL's Duration
    * converter semantics: time.ParseDuration — optional sign, one or
    * more decimal[.fraction]unit tokens, units ns/us/µs/μs/ms/s/m/h,
    * "0" allowed bare). Returns null (boxed) on malformed input so
    * one bad record degrades to NULL instead of killing the query —
    * the transform processor's error_mode=ignore. Accumulates in
    * double: exact to the ns for magnitudes < ~104 days, plenty for
    * telemetry durations. */
  def goDurationNs(s: UTF8String): java.lang.Long = {
    if (s == null) return null
    val str = s.toString.trim
    if (str.isEmpty) return null
    var i = 0
    var sign = 1L
    if (str.charAt(0) == '-') { sign = -1L; i = 1 }
    else if (str.charAt(0) == '+') i = 1
    if (str.substring(i) == "0") return java.lang.Long.valueOf(0L)
    var total = 0.0
    var any = false
    val n = str.length
    while (i < n) {
      val numStart = i
      while (i < n && (str.charAt(i).isDigit || str.charAt(i) == '.')) i += 1
      if (i == numStart) return null // token must start with a number
      val num =
        try str.substring(numStart, i).toDouble
        catch { case _: NumberFormatException => return null }
      val unitStart = i
      while (i < n && !str.charAt(i).isDigit && str.charAt(i) != '.') i += 1
      val unitNs: Double = str.substring(unitStart, i) match {
        case "ns" => 1.0
        case "us" | "µs" | "μs" => 1e3
        case "ms" => 1e6
        case "s"  => 1e9
        case "m"  => 6e10
        case "h"  => 3.6e12
        case _    => return null // unknown or missing unit
      }
      total += num * unitNs
      any = true
    }
    if (!any) null else java.lang.Long.valueOf(sign * Math.round(total))
  }

  // ---- bloom filter (shared by BloomBuild agg + BloomMightContain) --
  // Guava-style double hashing from one 64-bit input: h2 is the
  // murmur3 fmix64 finalizer of h1, probe i tests bit (h1 + i*h2)
  // mod numBits. Build and probe MUST use this same function — it is
  // the filter's only contract.
  private def bloomMix(v0: Long): Long = {
    var v = v0
    v ^= v >>> 33; v *= 0xff51afd7ed558ccdL
    v ^= v >>> 33; v *= 0xc4ceb9fe1a85ec53L
    v ^= v >>> 33
    v
  }

  /** set the numHashes probe bits of value v in the word array */
  def bloomSet(v: Long, bits: Array[Long], numHashes: Int): Unit = {
    val numBits = bits.length.toLong * 64L
    val h2 = bloomMix(v)
    var i = 0
    while (i < numHashes) {
      val pos = ((v + i.toLong * h2) & Long.MaxValue) % numBits
      bits((pos >>> 6).toInt) |= 1L << (pos & 63L)
      i += 1
    }
  }

  /** greedy left-to-right BPE merge: every non-overlapping adjacent
    * (a,b) in the symbol array becomes the single symbol a+b — the
    * classic subword-merge step (Sennrich et al. 2016, applied on
    * the vocab frame each training iteration). [a,a,a] merging (a,a)
    * → [aa,a]: after consuming a pair the scan resumes AFTER it. */
  def mergePair(syms: ArrayData, a: UTF8String, b: UTF8String): ArrayData = {
    val n = syms.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef](n)
    var i = 0
    while (i < n) {
      if (i + 1 < n && a.equals(syms.getUTF8String(i)) &&
          b.equals(syms.getUTF8String(i + 1))) {
        out += UTF8String.concat(a, b); i += 2
      } else { out += syms.getUTF8String(i); i += 1 }
    }
    new GenericArrayData(out.toArray)
  }

  /** Viterbi segmentation of one word under a unigram piece LM
    * (Kudo 2018, "Subword Regularization" — the max-probability
    * decode): dp(i) = best log-prob over segmentations of the first
    * i code points, scanning piece lengths j = 1..maxLen ASCENDING
    * with a STRICT improvement test, so ties deterministically keep
    * the shorter final piece. A position no piece reaches falls back
    * to the single code point at a large negative log-prob (coverage
    * fallback — training always seeds every corpus char, so this
    * only fires on out-of-corpus input). One O(n·maxLen) pass; the
    * SAME static kernel serves the driver-side EM loop and the
    * distributed encode expression, so train and apply can never
    * disagree on a segmentation. */
  def viterbiSegment(word: UTF8String,
                     pieceIdx: java.util.HashMap[UTF8String, Integer],
                     logps: Array[Double], maxLen: Int): ArrayData = {
    val n = word.numChars()
    if (n == 0) return new GenericArrayData(Array.empty[AnyRef])
    val NegInf = Double.NegativeInfinity
    val UnkLogp = -1e9
    val dp = new Array[Double](n + 1)
    val back = new Array[Int](n + 1) // piece length chosen at i; 0 = unk char
    var i = 1
    while (i <= n) {
      dp(i) = NegInf
      back(i) = 0
      val maxJ = if (maxLen < i) maxLen else i
      var j = 1
      while (j <= maxJ) {
        val idx = pieceIdx.get(word.substring(i - j, i))
        if (idx != null) {
          val cand = dp(i - j) + logps(idx.intValue())
          if (cand > dp(i)) { dp(i) = cand; back(i) = j }
        }
        j += 1
      }
      if (back(i) == 0) { dp(i) = dp(i - 1) + UnkLogp; back(i) = 1 }
      i += 1
    }
    // walk back, then reverse
    val lens = new scala.collection.mutable.ArrayBuffer[Int]()
    var p = n
    while (p > 0) { lens += back(p); p -= back(p) }
    val out = new Array[AnyRef](lens.length)
    var start = 0
    var k = lens.length - 1
    while (k >= 0) {
      val l = lens(k)
      out(lens.length - 1 - k) = word.substring(start, start + l)
      start += l
      k -= 1
    }
    new GenericArrayData(out)
  }

  /** apply a trained merge table (rank order, flattened [l0,r0,l1,r1,…])
    * to one symbol array — BPE encoding of a word. Each merge is the
    * same greedy scan as [[mergePair]]; merges.length/2 passes over an
    * array that only shrinks. */
  def bpeApply(syms: ArrayData, merges: Array[UTF8String]): ArrayData = {
    var cur = new Array[AnyRef](syms.numElements())
    var n = cur.length
    var i = 0
    while (i < n) { cur(i) = syms.getUTF8String(i); i += 1 }
    var m = 0
    while (m < merges.length) {
      val a = merges(m); val b = merges(m + 1)
      var r = 0; var w = 0
      while (r < n) {
        if (r + 1 < n && a.equals(cur(r)) && b.equals(cur(r + 1))) {
          cur(w) = UTF8String.concat(a, b); r += 2
        } else { cur(w) = cur(r); r += 1 }
        w += 1
      }
      n = w
      m += 2
    }
    val out = new Array[AnyRef](n)
    System.arraycopy(cur, 0, out, 0, n)
    new GenericArrayData(out)
  }

  /** true iff every probe bit of v is set (no false negatives) */
  def bloomContains(v: Long, bits: Array[Long], numHashes: Int): Boolean = {
    val numBits = bits.length.toLong * 64L
    val h2 = bloomMix(v)
    var i = 0
    while (i < numHashes) {
      val pos = ((v + i.toLong * h2) & Long.MaxValue) % numBits
      if ((bits((pos >>> 6).toInt) & (1L << (pos & 63L))) == 0L) return false
      i += 1
    }
    true
  }
}
