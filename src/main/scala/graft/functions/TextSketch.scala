package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text-sketch hot paths of the dedup
  * pipelines (SURVEY.md §2.K). Each replaces a chain of interpreted
  * higher-order functions (`transform`/`aggregate` evaluate per ELEMENT
  * through the interpreted-expression path, allocating as they go) with
  * one JVM pass per ROW behind a single static call that whole-stage
  * codegen inlines — the "(b) custom Expression" rung of the operator
  * ladder, reached only after the built-in shapes were measured as the
  * bottleneck (measured r7: gram construction 1.95 s + md5 1.1 s of
  * q_llm_dedup_ngram's 2.4 s at sf0.1; SCALE.md §5, MinHash row).
  *
  * Every formula is BIT-IDENTICAL to the built-in chain it replaces (and
  * so to the DuckDB oracle twins, which are unchanged):
  *  - gram hash    = first 15 hex digits of md5(gram) as a 60-bit int,
  *                   exactly `conv(substring(md5(g),1,15),16,10)`;
  *  - minhash i    = min over gram hashes of (a_i*(x mod P) + b_i) mod P,
  *                   P = 2^31-1, the same universal-hash family;
  *  - simhash bit b = sign of the ±1 votes of bit b of each word's 64-bit
  *                   md5 prefix, packed 16 bits per Manku band.
  * TextSketchSpec property-checks each against its functions-built twin.
  *
  * Scale note: [[SimHashSig]] is not just faster — it removes the word-
  * level explode + corpus-wide groupBy the previous shape shuffled (one
  * row per word OCCURRENCE; at 100 TB, a ~10^12-row shuffle). The
  * signature is now a narrow per-document projection: zero extra shuffle.
  */
object TextSketch {
  val HashP = 2147483647L // 2^31 - 1, the minwise-hash modulus

  private val md5tl = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** first 15 hex digits of md5(bytes[off, off+len)) as a 60-bit long —
    * the exact value `conv(substring(md5(g),1,15),16,10)` yields
    */
  private def hash60(bytes: Array[Byte], off: Int, len: Int): Long = {
    val d = md5tl.get()
    d.reset()
    d.update(bytes, off, len)
    val h = d.digest()
    var v = 0L
    var k = 0
    while (k < 7) { v = (v << 8) | (h(k) & 0xffL); k += 1 }
    (v << 4) | ((h(7) >> 4) & 0xfL)
  }

  /** Production hash family (r14 VERDICT item 8): md5 (default) is the
    * ENGINE-PORTABLE family — the oracle twin spells the identical value
    * in DuckDB SQL, so results hash-match exactly. xxHash64 (seed 42,
    * Spark's own XXH64) is the family one flips on at 100 TB: ~an order
    * of magnitude cheaper per hashed byte, same 60-bit shape (top bits of
    * the 64-bit value, non-negative), so sampling mods, minwise `% P`
    * arithmetic, banding and bucket caps are all family-independent —
    * HashFamilySpec proves the pipeline shape is unchanged. Oracle
    * hash-parity holds only in md5 mode. Measured at sf0.1/local[32]:
    * q_llm_dedup_ngram 1.08 → 0.93 s (the gram-hash-bound row; the gap
    * widens with document size since md5 cost is per hashed byte),
    * near/simhash flat at this scale. Flag:
    * `spark.graft.llm.hashFamily = md5 | xxhash64` (read per query by
    * [[graft.ops.QueriesLlm]]; carried INSIDE each expression so it
    * serializes to executors — never a JVM global). */
  private def hash60xx(bytes: Array[Byte], off: Int, len: Int): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off,
      len, 42L) >>> 4

  private def hash64(bytes: Array[Byte], off: Int, len: Int, xx: Boolean): Long =
    if (xx)
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off,
        len, 42L)
    else {
      val d = md5tl.get()
      d.reset()
      d.update(bytes, off, len)
      val h = d.digest()
      var v = 0L
      var k = 0
      while (k < 8) { v = (v << 8) | (h(k) & 0xffL); k += 1 }
      v
    }

  /** distinct (first-occurrence order) sampled char-n-gram hashes of `s`:
    * grams of `n` CODE POINTS starting every `stride` chars (same slicing
    * as `substr`), kept iff hash % mod == 0 — one pass, one md5 per gram
    */
  def hashedCharGrams(s: UTF8String, n: Int, stride: Int, mod: Int, xx: Boolean): ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    val nChars = s.numChars()
    if (nChars < n) return new GenericArrayData(Array.emptyLongArray)
    // non-ASCII: code-point -> byte-offset table so gram slices match
    // substr()'s code-point semantics byte-for-byte
    var offs: Array[Int] = null
    if (nb != nChars) {
      offs = new Array[Int](nChars + 1)
      var i = 0
      var c = 0
      while (i < nb) {
        offs(c) = i
        i += UTF8String.numBytesForFirstByte(bytes(i))
        c += 1
      }
      offs(nChars) = nb
    }
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new java.util.ArrayList[java.lang.Long]()
    var start = 0
    val lastStart = nChars - n
    while (start <= lastStart) {
      val h =
        if (offs == null) { if (xx) hash60xx(bytes, start, n) else hash60(bytes, start, n) }
        else if (xx) hash60xx(bytes, offs(start), offs(start + n) - offs(start))
        else hash60(bytes, offs(start), offs(start + n) - offs(start))
      if (h % mod == 0 && seen.add(h)) out.add(h)
      start += stride
    }
    toLongArrayData(out)
  }

  /** distinct word-n-shingle hashes of single-spaced `s`: the shingle of
    * words [i, i+n) IS the byte slice from word i's start to word
    * i+n-1's end (the text is single-spaced), so no string is ever built
    */
  def hashedWordShingles(s: UTF8String, n: Int, xx: Boolean): ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    // word start offsets (split on 0x20 — never a UTF-8 continuation byte)
    val starts = new java.util.ArrayList[java.lang.Integer]()
    starts.add(0)
    var i = 0
    while (i < nb) {
      if (bytes(i) == ' ') starts.add(i + 1)
      i += 1
    }
    val w = starts.size()
    if (w < n) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new java.util.ArrayList[java.lang.Long]()
    var k = 0
    val lastShingle = w - n
    while (k <= lastShingle) {
      val off = starts.get(k)
      val end = if (k + n < w) starts.get(k + n) - 1 else nb // drop trailing space
      val h = if (xx) hash60xx(bytes, off, end - off) else hash60(bytes, off, end - off)
      if (seen.add(h)) out.add(h)
      k += 1
    }
    toLongArrayData(out)
  }

  /** all `a.length` minhashes of a gram-hash set in ONE pass (vs one
    * interpreted `array_min(transform(...))` sweep per hash); null for an
    * empty set — the same null `array_min(empty)` yields per column
    */
  def minhashSig(hs: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val m = hs.numElements()
    if (m == 0) return null
    val k = a.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < m) {
      val y = hs.getLong(i) % HashP
      var j = 0
      while (j < k) {
        val v = (a(j) * y + b(j)) % HashP
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** 64-bit SimHash of single-spaced text, packed into 4×16-bit band ints
    * (Manku's banding): one md5 per word OCCURRENCE voting ±1 per bit
    * with bit b of its 64-bit md5 prefix; s_j bit (15-i) = sign of the
    * vote total for sig bit 16j+i, ties counting positive. Null when the
    * text has no words (such docs had no rows in the explode shape).
    */
  def simhashSig(s: UTF8String, xx: Boolean): ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    val votes = new Array[Int](64)
    var anyWord = false
    val d = md5tl.get()
    var wordStart = 0
    var i = 0
    while (i <= nb) {
      if (i == nb || bytes(i) == ' ') {
        if (i > wordStart) { // skip empty words (length(word) > 0 filter)
          anyWord = true
          val v = hash64(bytes, wordStart, i - wordStart, xx)
          var b = 0
          while (b < 64) {
            if (((v >>> (63 - b)) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        wordStart = i + 1
      }
      i += 1
    }
    if (!anyWord) return null
    val sig = new Array[Long](4)
    var j = 0
    while (j < 4) {
      var sj = 0L
      var t = 0
      while (t < 16) {
        if (votes(j * 16 + t) >= 0) sj |= (1L << (15 - t))
        t += 1
      }
      sig(j) = sj
      j += 1
    }
    new GenericArrayData(sig)
  }

  /** (count of the single most repeated word-n-gram, total gram count) of
    * single-spaced text — the Gopher repetition signal — in one pass over
    * the NON-distinct gram multiset (repetition is the point). Grams are
    * counted by 60-bit fingerprint, not string (a 2^-60 collision could
    * only merge two counts). Null when the text has < n words (such docs
    * are filtered before the expression anyway).
    */
  def gramTopCount(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = s.getBytes
    val nb = bytes.length
    val starts = new java.util.ArrayList[java.lang.Integer]()
    starts.add(0)
    var i = 0
    while (i < nb) {
      if (bytes(i) == ' ') starts.add(i + 1)
      i += 1
    }
    val w = starts.size()
    if (w < n) return null
    val counts = new java.util.HashMap[java.lang.Long, Int]()
    var top = 0
    var k = 0
    val lastShingle = w - n
    while (k <= lastShingle) {
      val off = starts.get(k)
      val end = if (k + n < w) starts.get(k + n) - 1 else nb
      val h = hash60(bytes, off, end - off)
      val c = counts.merge(h, 1, (x, y) => x + y)
      if (c > top) top = c
      k += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](top.toLong, (w - n + 1).toLong))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03): the DISTINCT minima of a w-window sliding over the
    * Karp-Rabin rolling-hash sequence of the text's k-grams. Winnowing
    * proper selects positions (rightmost-min tie rule); the fingerprint
    * VALUE SET is identical — every selected value is a window min and
    * every window's min value is selected in that window — and the value
    * set is what copy-detection joins on, so the positional tie rule
    * drops out. Guarantee kept: any shared substring of length >=
    * w+k-1 chars yields a shared fingerprint.
    *
    * Hash: polynomial code-point hash c_0·B^(k-1)+…+c_(k-1) mod M,
    * rolled in O(1) per gram; code points (not bytes) so the DuckDB twin
    * can state the identical formula via unicode(). Only FULL windows
    * fingerprint: docs with fewer than w+k-1 chars return null (absent
    * from output on both engines). One pass, O(n), monotonic deque.
    */
  def winnowFingerprints(s: UTF8String, k: Int, w: Int, b: Long, m: Long): ArrayData = {
    val str = s.toString
    val n = str.codePointCount(0, str.length)
    if (n < k + w - 1) return null
    // code points up front (surrogate pairs are one c_j, as unicode() sees)
    val cps = new Array[Long](n)
    var ci = 0
    var off = 0
    while (off < str.length) {
      val cp = str.codePointAt(off)
      cps(ci) = cp.toLong
      ci += 1
      off += Character.charCount(cp)
    }
    val nGrams = n - k + 1
    // B^(k-1) mod M for the roll-out term
    var bk1 = 1L
    var e = 0
    while (e < k - 1) { bk1 = (bk1 * b) % m; e += 1 }
    // first gram
    var h = 0L
    var j = 0
    while (j < k) { h = (h * b + cps(j)) % m; j += 1 }
    val hashes = new Array[Long](nGrams)
    hashes(0) = h
    var g = 1
    while (g < nGrams) {
      h = ((h - (cps(g - 1) * bk1) % m + m) % m * b + cps(g + k - 1)) % m
      hashes(g) = h
      g += 1
    }
    // sliding-window minima via monotonic deque; distinct, first-occurrence
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new java.util.ArrayList[java.lang.Long]()
    val deque = new java.util.ArrayDeque[Int]()
    var i = 0
    while (i < nGrams) {
      while (!deque.isEmpty && hashes(deque.peekLast()) >= hashes(i)) deque.pollLast()
      deque.addLast(i)
      if (deque.peekFirst() <= i - w) deque.pollFirst()
      if (i >= w - 1) {
        val wmin = hashes(deque.peekFirst())
        if (seen.add(wmin)) out.add(wmin)
      }
      i += 1
    }
    toLongArrayData(out)
  }

  /** All per-document text-stat ingredients in ONE pass (the
    * q_llm_text_stats / q_llm_quality_filter battery ran 4 regexes + 2
    * interpreted HOFs + a split per row). Bit-exact to the chain it
    * replaces (TextSketchSpec):
    *  - norm      = trim(regexp_replace(lower(text), "\\s+", " ")) —
    *    Java \s is ASCII [ \t\n\x0B\f\r]; trim strips 0x20 only
    *  - n_words   = size(split(norm, " "))  (empty norm -> 1 empty word)
    *  - n_tokens  = count of [a-z0-9]+ runs in norm
    *  - total_len = sum of word code-point lengths (= non-space cps)
    *  - stop_cnt  = words in the 5-entry english stopword list
    *  - norm_len / alnum_len = code points of norm / of norm with
    *    [^a-z0-9 ] removed
    *  - fp        = first 16 hex chars of md5(norm)
    * Ratios/rounding stay OUTSIDE in the query so null/divide-by-zero
    * semantics are untouched.
    */
  def textStatsRaw(s: UTF8String, stops: Array[Array[Byte]]): org.apache.spark.sql.catalyst.InternalRow = {
    val low = s.toLowerCase.getBytes
    def isWs(b: Byte) = b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'
    // normalize: \s+ runs -> single space, then trim
    val norm = new Array[Byte](low.length)
    var n = 0
    var i = 0
    while (i < low.length) {
      if (isWs(low(i))) {
        while (i < low.length && isWs(low(i))) i += 1
        if (n > 0 && i < low.length) { norm(n) = ' '; n += 1 }
      } else { norm(n) = low(i); n += 1; i += 1 }
    }
    def isAlnum(b: Byte) = (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
    var nWords = 1
    var nTokens = 0
    var totalLen = 0L
    var stopCnt = 0
    var normLen = 0
    var alnumLen = 0
    var inTok = false
    var wordStart = 0
    i = 0
    while (i <= n) {
      val atSep = i == n || norm(i) == ' '
      if (!atSep) {
        val b = norm(i)
        val an = isAlnum(b)
        if (an && !inTok) { nTokens += 1; inTok = true }
        else if (!an) inTok = false
        if (an || b == ' ') alnumLen += 1
        // count code points: every byte that is not a UTF-8 continuation
        if ((b & 0xc0) != 0x80) { normLen += 1; totalLen += 1 }
      } else {
        inTok = false
        if (i < n) { nWords += 1; normLen += 1; alnumLen += 1 }
        var k = 0
        var hit = false
        while (k < stops.length && !hit) {
          val st = stops(k)
          if (st.length == i - wordStart) {
            var j = 0
            var eq = true
            while (eq && j < st.length) { eq = st(j) == norm(wordStart + j); j += 1 }
            hit = eq
          }
          k += 1
        }
        if (hit) stopCnt += 1
        wordStart = i + 1
      }
      i += 1
    }
    val d = md5tl.get()
    d.reset()
    d.update(norm, 0, n)
    val dig = d.digest()
    val hex = new StringBuilder(16)
    var h = 0
    while (h < 8) {
      hex.append(Character.forDigit((dig(h) >> 4) & 0xf, 16))
      hex.append(Character.forDigit(dig(h) & 0xf, 16))
      h += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      nWords, nTokens, totalLen, stopCnt, normLen, alnumLen,
      UTF8String.fromString(hex.toString)))
  }

  private def toLongArrayData(xs: java.util.ArrayList[java.lang.Long]): ArrayData = {
    val arr = new Array[Long](xs.size())
    var i = 0
    while (i < arr.length) { arr(i) = xs.get(i); i += 1 }
    new GenericArrayData(arr)
  }

  // ------------------------------------------------------ Column wrappers
  def hashedCharGramsCol(c: Column, n: Int, stride: Int, mod: Int,
      xx: Boolean = false): Column =
    ColumnBridge.column(HashedGrams(ColumnBridge.expression(c), n, stride, mod,
      word = false, xx = xx))
  def hashedWordShinglesCol(c: Column, n: Int, xx: Boolean = false): Column =
    ColumnBridge.column(HashedGrams(ColumnBridge.expression(c), n, 1, 1,
      word = true, xx = xx))
  def minhashSigCol(c: Column, coeffs: Seq[(Long, Long)]): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(c),
      coeffs.map(_._1), coeffs.map(_._2)))
  def simhashSigCol(c: Column, xx: Boolean = false): Column =
    ColumnBridge.column(SimHashSig(ColumnBridge.expression(c), xx = xx))
  def gramTopCountCol(c: Column, n: Int): Column =
    ColumnBridge.column(GramTopCount(ColumnBridge.expression(c), n))
  def winnowFingerprintsCol(c: Column, k: Int, w: Int, b: Long, m: Long): Column =
    ColumnBridge.column(WinnowFingerprints(ColumnBridge.expression(c), k, w, b, m))
  def textStatsRawCol(c: Column, stops: Seq[String]): Column =
    ColumnBridge.column(TextStatsRaw(ColumnBridge.expression(c), stops))

  /** per-doc Shannon entropies of the char and word distributions over
    * already-NORMALIZED text (lower-cased, single-spaced, trimmed):
    * H = log2(n) − Σ c·log2(c) / n in bits, plus the normalized char
    * count. One pass per row, state bounded by the doc's alphabet +
    * vocabulary — replaces the per-char explode + corpus-wide groupBy
    * that inflated the corpus-linear stage 16× (r9 verdict item 3).
    * Null on empty input: the explode formulation emitted no unit rows
    * for such docs, so they vanished from the join — kept identical.
    * Char units are CODE POINTS (what both regexp '.' engines match),
    * spaces included; word units are the single-space-split tokens.
    */
  def entropyStats(nt: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = nt.toString
    if (s.isEmpty) return null
    val charCnt = new java.util.HashMap[Integer, Array[Long]]()
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val slot = charCnt.computeIfAbsent(cp, _ => new Array[Long](1))
      slot(0) += 1
      n += 1
      i += Character.charCount(cp)
    }
    val wordCnt = new java.util.HashMap[String, Array[Long]]()
    var nw = 0L
    var start = 0
    while (start <= s.length) {
      val end0 = s.indexOf(' ', start)
      val end = if (end0 < 0) s.length else end0
      if (end > start) {
        val slot = wordCnt.computeIfAbsent(s.substring(start, end),
          _ => new Array[Long](1))
        slot(0) += 1
        nw += 1
      }
      start = end + 1
    }
    val ln2 = Math.log(2.0)
    def entropy(counts: java.util.Collection[Array[Long]], total: Long): Double = {
      var acc = 0.0
      val it = counts.iterator()
      while (it.hasNext) {
        val c = it.next()(0).toDouble
        acc += c * (Math.log(c) / ln2)
      }
      Math.log(total.toDouble) / ln2 - acc / total
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      n, entropy(charCnt.values(), n),
      if (nw == 0) null else entropy(wordCnt.values(), nw)))
  }
  def entropyStatsCol(c: Column): Column =
    ColumnBridge.column(EntropyStats(ColumnBridge.expression(c)))
}

/** distinct sampled n-gram (char) / n-shingle (word) 60-bit md5-prefix
  * hashes of a normalized string — see [[TextSketch.hashedCharGrams]]
  */
case class HashedGrams(child: Expression, n: Int, stride: Int, mod: Int,
    word: Boolean, xx: Boolean = false)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    if (word) TextSketch.hashedWordShingles(s, n, xx)
    else TextSketch.hashedCharGrams(s, n, stride, mod, xx)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      if (word) s"${ev.value} = graft.functions.TextSketch.hashedWordShingles($c, $n, $xx);"
      else s"${ev.value} = graft.functions.TextSketch.hashedCharGrams($c, $n, $stride, $mod, $xx);")
  override protected def withNewChildInternal(newChild: Expression): HashedGrams =
    copy(child = newChild)
}

/** the full minhash signature (one long per hash function) of a gram-hash
  * array in one pass; null on an empty array — see [[TextSketch.minhashSig]]
  */
case class MinHashSig(child: Expression, a: Seq[Long], b: Seq[Long])
    extends UnaryExpression {
  // Seq constructor fields keep case-class STRUCTURAL equality — Array
  // fields degrade equals/hashCode to reference identity, silently
  // defeating semanticEquals, common-subexpression elimination, and
  // ReusedExchange in self-join plans (review-found); the hot path uses
  // the materialized arrays below
  private lazy val aArr = a.toArray
  private lazy val bArr = b.toArray
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    TextSketch.minhashSig(input.asInstanceOf[ArrayData], aArr, bArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("mhB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.TextSketch.minhashSig($c, $aRef, $bRef);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** (top word-n-gram count, total gram count) of single-spaced text; null
  * below n words — see [[TextSketch.gramTopCount]]
  */
case class GramTopCount(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("top", LongType, nullable = false),
    StructField("total", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    TextSketch.gramTopCount(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.TextSketch.gramTopCount($c, $n);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): GramTopCount =
    copy(child = newChild)
}

/** winnowing fingerprint value set (distinct w-window minima of the
  * k-gram rolling-hash sequence); null below w+k-1 chars — see
  * [[TextSketch.winnowFingerprints]]
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int, b: Long, m: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    TextSketch.winnowFingerprints(input.asInstanceOf[UTF8String], k, w, b, m)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.TextSketch.winnowFingerprints($c, $k, $w, ${b}L, ${m}L);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

/** per-document text-stat ingredients over RAW text (normalization
  * inside) — see [[TextSketch.textStatsRaw]]
  */
case class TextStatsRaw(child: Expression, stops: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("total_len", LongType, nullable = false),
    StructField("stop_cnt", IntegerType, nullable = false),
    StructField("norm_len", IntegerType, nullable = false),
    StructField("alnum_len", IntegerType, nullable = false),
    StructField("fp", StringType, nullable = false)))
  @transient private lazy val stopBytes: Array[Array[Byte]] =
    stops.map(_.getBytes("UTF-8")).toArray
  override def nullSafeEval(input: Any): Any =
    TextSketch.textStatsRaw(input.asInstanceOf[UTF8String], stopBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val stopsRef = ctx.addReferenceObj("tsStops", stopBytes, "byte[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextSketch.textStatsRaw($c, $stopsRef);")
  }
  override protected def withNewChildInternal(newChild: Expression): TextStatsRaw =
    copy(child = newChild)
}

/** per-document char/word Shannon entropies of normalized text in one
  * pass; null on empty input — see [[TextSketch.entropyStats]]
  */
case class EntropyStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_chars_norm", LongType, nullable = false),
    StructField("char_entropy", DoubleType, nullable = false),
    StructField("word_entropy", DoubleType, nullable = true)))
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    TextSketch.entropyStats(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.TextSketch.entropyStats($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): EntropyStats =
    copy(child = newChild)
}

/** banded 64-bit SimHash (4×16-bit ints) of single-spaced text; null when
  * the text has no words — see [[TextSketch.simhashSig]]
  */
case class SimHashSig(child: Expression, xx: Boolean = false)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    TextSketch.simhashSig(input.asInstanceOf[UTF8String], xx)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.TextSketch.simhashSig($c, $xx);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}
