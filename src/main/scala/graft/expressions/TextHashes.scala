package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text sketch kernels, callable from generated code.
  *
  * The declarative formulations of MinHash/SimHash (nested transform/
  * filter/aggregate lambdas) evaluate interpreted — higher-order array
  * expressions are excluded from whole-stage codegen, and at 32 hashes x
  * ~70 shingles/doc the tree-walk dominates the query (SURVEY.md §4,
  * BASELINE.md). These kernels do the same work in one tight compiled
  * pass per row; the Expressions below splice them into codegen via
  * defineCodeGen, so the projection stays inside the codegen stage.
  *
  * Hashing: one xxhash64 pass over each shingle's bytes, then the n
  * signature lanes derive via cheap hashLong mixing — standard multi-
  * hash MinHash construction (n byte-passes would cost n-fold more for
  * no estimator benefit).
  *
  * Tokenization is `split(" ", -1)` — KEEPING trailing empty tokens —
  * because the declarative `split(col, " ")` and DuckDB's `string_split`
  * both keep them; `split(' ')` (limit 0) silently drops them and the
  * kernels would diverge from their oracles on trailing-space text.
  */
object TextHashes {

  /** n MinHash lanes over word k-shingles; empty/short text → empty array. */
  def shingleMinHashes(text: UTF8String, k: Int, n: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    val mins = Array.fill(n)(Long.MaxValue)
    var any = false
    var i = 0
    while (i + k <= words.length) {
      val sb = new java.lang.StringBuilder(words(i))
      var j = 1
      while (j < k) { sb.append(' ').append(words(i + j)); j += 1 }
      val base = XXH64.hashUTF8String(UTF8String.fromString(sb.toString), 42L)
      var l = 0
      while (l < n) {
        val h = XXH64.hashLong(base, l.toLong)
        if (h < mins(l)) mins(l) = h
        l += 1
      }
      any = true
      i += 1
    }
    new GenericArrayData(if (any) mins else Array.emptyLongArray)
  }

  /** md5 hex of each word k-shingle — identical strings to
    * `transform(shingles, md5)` (and to DuckDB's md5), so every oracle
    * built on md5 shingles stays valid; one compiled pass with a reused
    * digest instead of an interpreted lambda chain. */
  def shingleMd5s(text: UTF8String, k: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    val n = math.max(0, words.length - k + 1)
    val out = new Array[Any](n)
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = "0123456789abcdef".toCharArray
    var i = 0
    while (i < n) {
      val sb = new java.lang.StringBuilder(words(i))
      var j = 1
      while (j < k) { sb.append(' ').append(words(i + j)); j += 1 }
      md.reset()
      val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val cs = new Array[Char](32)
      var b = 0
      while (b < 16) {
        cs(2 * b) = hex((d(b) >> 4) & 0xf)
        cs(2 * b + 1) = hex(d(b) & 0xf)
        b += 1
      }
      out(i) = UTF8String.fromString(new String(cs))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 16-hex md5 PREFIX of each word k-shingle — the TRANSPORT form of
    * the shingle set (r13): the staged/shuffled shingle arrays carried
    * full 32-char digests, and the banded candidate x shingle-array
    * intermediate was the one measured per-row inflation at sf100
    * (dedup_threshold_eval 13.6 -> 34.6 µs/doc). The first 64 bits of
    * md5 are collision-free at corpus scale for SET arithmetic
    * (intersections/containment/grouping), identical in both engines
    * (DuckDB: substr(md5(x), 1, 16)), and halve every downstream
    * exchange. Full digests remain only where the hex itself is the
    * OUTPUT contract (text_shingle_fp's min_shingle_hash). */
  def shingleMd5Prefixes(text: UTF8String, k: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    val n = math.max(0, words.length - k + 1)
    val out = new Array[Any](n)
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = "0123456789abcdef".toCharArray
    var i = 0
    while (i < n) {
      val sb = new java.lang.StringBuilder(words(i))
      var j = 1
      while (j < k) { sb.append(' ').append(words(i + j)); j += 1 }
      md.reset()
      val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val cs = new Array[Char](16)
      var b = 0
      while (b < 8) {
        cs(2 * b) = hex((d(b) >> 4) & 0xf)
        cs(2 * b + 1) = hex(d(b) & 0xf)
        b += 1
      }
      out(i) = UTF8String.fromString(new String(cs))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 60-bit md5 prefix of each word k-shingle as a LONG — the fixed-
    * width transport form for set arithmetic (r13): 8 bytes/element vs
    * the 16-hex string's 16+offset, faster binary sorts/merges, and
    * exactly the value DuckDB parses as
    * CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) — the same h1
    * parse the banded lane mirrors already use, so the two engines
    * share one hex-to-int convention. 60 bits keeps the value positive
    * in a signed BIGINT on both sides; collision-free for corpus-scale
    * sets like the 64-bit form. */
  def shingleMd5Long60s(text: UTF8String, k: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    val n = math.max(0, words.length - k + 1)
    val out = new Array[Long](n)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      val sb = new java.lang.StringBuilder(words(i))
      var j = 1
      while (j < k) { sb.append(' ').append(words(i + j)); j += 1 }
      md.reset()
      val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var u1 = 0L
      var b = 0
      while (b < 8) { u1 = (u1 << 8) | (d(b) & 0xffL); b += 1 }
      out(i) = u1 >>> 4
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Mersenne prime 2^61-1: the lane-hash modulus. Universal-hash lane
    * multipliers (a_i, b_i) come from laneConsts — a fixed SplitMix64
    * stream, so the kernel and the generated DuckDB SQL read the SAME
    * values and cannot drift. */
  val LaneP: Long = (1L << 61) - 1

  def laneConsts(n: Int): Array[Long] = {
    var x = 0x243f6a8885a308d3L // pi fractional bits — nothing up the sleeve
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      out(i) = java.lang.Long.remainderUnsigned(z, LaneP) | 1L
      i += 1
    }
    out
  }

  /** a·b mod 2^61-1 for a, b in [0, 2^61): two-fold Mersenne reduction
    * of the 128-bit product. */
  private def mulmodP(a: Long, b: Long): Long = {
    val hi = java.lang.Math.multiplyHigh(a, b)
    val lo = a * b
    // a·b = hi·2^64 + lo = (hi·8 + lo>>>61)·2^61 + (lo & P); 2^61 ≡ 1 (mod P)
    var r = (lo & LaneP) + ((hi << 3) + (lo >>> 61))
    r = (r & LaneP) + (r >>> 61)
    if (r >= LaneP) r - LaneP else r
  }

  /** bands×lanes MinHash lane minima over word k-shingle md5s — the
    * banded candidate keys of Dedup.bandedKeys in ONE compiled pass.
    *
    * Per shingle: one md5, split into two 60-bit halves (big-endian
    * u64 of digest bytes 0-7 and 8-15, each >>> 4 — exactly the value
    * DuckDB parses from hex chars 1-15 / 17-31 of the same digest),
    * then lane i is the INDEPENDENT universal hash
    * (a_i·h1 + b_i·h2) mod 2^61-1. Independence per lane is what makes
    * banding skew-proof: the rejected cheaper alternative, Kirsch-
    * Mitzenmacher h1 + i·h2, is linear in i, so one shingle whose two
    * halves are BOTH small dominates every lane at once and re-creates
    * the corpus-wide hot bucket banding exists to prevent. DuckDB
    * reproduces each lane with HUGEINT arithmetic on the same hex
    * parses. Lane minima are idempotent under duplicate shingles, so no
    * distinct pass is needed and the oracle's list_min over the
    * DISTINCT md5 list is the identical number. Empty/short text →
    * empty array. */
  private val CachedConsts = laneConsts(64)

  def shingleMd5Lanes(text: UTF8String, k: Int, bands: Int, lanes: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    val n = bands * lanes
    val cs = if (2 * n <= CachedConsts.length) CachedConsts else laneConsts(2 * n)
    val mins = Array.fill(n)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    var any = false
    var i = 0
    while (i + k <= words.length) {
      val sb = new java.lang.StringBuilder(words(i))
      var j = 1
      while (j < k) { sb.append(' ').append(words(i + j)); j += 1 }
      md.reset()
      val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var u1 = 0L; var u2 = 0L; var b = 0
      while (b < 8) {
        u1 = (u1 << 8) | (d(b) & 0xffL)
        u2 = (u2 << 8) | (d(b + 8) & 0xffL)
        b += 1
      }
      val h1 = u1 >>> 4; val h2 = u2 >>> 4
      var l = 0
      while (l < n) {
        var h = mulmodP(cs(2 * l), h1) + mulmodP(cs(2 * l + 1), h2)
        if (h >= LaneP) h -= LaneP
        if (h < mins(l)) mins(l) = h
        l += 1
      }
      any = true
      i += 1
    }
    new GenericArrayData(if (any) mins else Array.emptyLongArray)
  }

  /** Lane i of the SAME universal-hash family the minhash mirrors
    * bake into SQL — public for driver/executor-side sketch folds
    * (heavy_hitters_cms' count-min grid rows): (a_i·h1 + b_i·h2) mod
    * 2^61-1 with (a_i, b_i) read from the fixed laneConsts stream. */
  def laneHash(i: Int, h1: Long, h2: Long): Long = {
    val cs = if (2 * i + 1 < CachedConsts.length) CachedConsts else laneConsts(2 * i + 2)
    var h = mulmodP(cs(2 * i), h1) + mulmodP(cs(2 * i + 1), h2)
    if (h >= LaneP) h -= LaneP
    h
  }

  /** The two 60-bit md5 halves of `s` (hex chars 1-15 / 17-31 — the
    * transport parse every lane mirror uses), with the caller's reused
    * MessageDigest. Returned as (h1, h2) packed in a 2-array. */
  def md5Halves60(s: String, md: java.security.MessageDigest): Array[Long] = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var u1 = 0L
    var u2 = 0L
    var b = 0
    while (b < 8) {
      u1 = (u1 << 8) | (d(b) & 0xffL)
      u2 = (u2 << 8) | (d(b + 8) & 0xffL)
      b += 1
    }
    Array(u1 >>> 4, u2 >>> 4)
  }

  /** Exact word-k-shingle Jaccard between two texts in one compiled
    * pass — distinct shingle STRING sets, |A∩B| / |A∪B| as the IEEE
    * division of exact ints, the same number as the md5-list
    * list_intersect formula every dedup oracle spells (md5 is
    * injective on shingles at corpus scale). Runs per CANDIDATE pair,
    * so no corpus-wide shingle materialization exists anywhere. */
  /** One compiled pass for text_entropy: split on " " (keeping trailing
    * empties — the split(" ", -1) convention above), sort the words
    * (UTF8String binary order == sort_array's StringType ordering),
    * close equal-word runs in ascending order accumulating
    * s += (c/n)·ln(c/n) — the IDENTICAL left-fold order, division, and
    * StrictMath.log (Catalyst's Log) as the declarative
    * aggregate(sort_array(ws), …) it replaces, so results are
    * bit-equal, not just round-6-equal. Returns (n_words, n_distinct,
    * s); the caller negates/rounds declaratively. The struct-
    * accumulator aggregate ran interpreted (higher-order functions are
    * excluded from whole-stage codegen) and allocated two structs per
    * word — ~5.7 s at sf0.1 for ~270k words of actual work. */
  def entropyStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val words = text.split(UTF8String.fromString(" "), -1)
    val n = words.length
    java.util.Arrays.sort(words.asInstanceOf[Array[AnyRef]])
    var s = 0.0
    var distinct = 0
    var c = 0
    var i = 0
    var cur: UTF8String = null
    while (i < n) {
      val w = words(i)
      if (cur != null && w.equals(cur)) c += 1
      else {
        if (c > 0) {
          val p = c.toDouble / n
          s += p * java.lang.StrictMath.log(p)
        }
        cur = w; c = 1; distinct += 1
      }
      i += 1
    }
    if (c > 0) {
      val p = c.toDouble / n
      s += p * java.lang.StrictMath.log(p)
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](n, distinct, s))
  }

  /** Winnowing (Schleimer, Wilkerson & Aiken SIGMOD'03) selection stats
    * over the word-k-shingle md5 sequence in ONE compiled pass: each
    * sliding window of w consecutive shingle hashes selects its minimum
    * (RIGHTMOST on ties — the paper's rule, and the interpreted fold's
    * `<=` override). Returns struct(n, nw, n_selected, sel_min, sel_max,
    * fps):
    *   n           shingle count,
    *   nw          greatest(n − w + 1, 1) — the window count column,
    *   n_selected  DISTINCT (position, hash) selections. Position
    *               determines the hash, and selected positions are
    *               NON-DECREASING across windows (window s+1 keeps
    *               window s's pick p unless the new element beats it or
    *               p fell out — either way the new pick is ≥ p), so the
    *               global distinct count is the adjacent-change count,
    *   sel_min/max min/max window minimum (null when n = 0),
    *   fps         distinct window minima, first-occurrence order —
    *               exactly array_distinct(wm).
    * Bit-identical to the transform/aggregate HOF chain it replaces
    * (same shingle md5s, same UTF8String binary `<=`, same guards);
    * the HOF chain ran interpreted with a struct allocation per
    * window element — the 4th instance of the kernel rule (SURVEY §4). */
  def winnowStats(text: UTF8String, k: Int, w: Int):
      org.apache.spark.sql.catalyst.InternalRow = {
    val h = shingleMd5s(text, k)
    val n = h.numElements()
    val nw = math.max(n - (w - 1), 1)
    if (n == 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0, nw, 0, null, null, new GenericArrayData(Array.empty[Any])))
    var selMin: UTF8String = null
    var selMax: UTF8String = null
    var nSel = 0
    var lastPos = -1
    val fps = new java.util.LinkedHashSet[UTF8String]()
    var s = 0
    while (s < nw) {
      val end = math.min(s + w, n)
      var mp = s
      var mh = h.getUTF8String(s)
      var j = s + 1
      while (j < end) {
        val hj = h.getUTF8String(j)
        if (hj.compareTo(mh) <= 0) { mh = hj; mp = j }
        j += 1
      }
      if (mp != lastPos) { nSel += 1; lastPos = mp }
      fps.add(mh)
      if (selMin == null || mh.compareTo(selMin) < 0) selMin = mh
      if (selMax == null || mh.compareTo(selMax) > 0) selMax = mh
      s += 1
    }
    val fpArr = new Array[Any](fps.size)
    val it = fps.iterator()
    var i = 0
    while (it.hasNext) { fpArr(i) = it.next(); i += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, nw, nSel, selMin, selMax, new GenericArrayData(fpArr)))
  }

  /** Element-returning twin of sortedLongIntersectCount: the sorted
    * common elements of two pre-sorted array<bigint> — the closing
    * vertices of the triangles an oriented edge anchors
    * (graph_similar_parts' per-edge credit generator). */
  def sortedLongIntersect(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements(); val nb = b.numElements()
    val out = new Array[Long](math.min(na, nb))
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { out(c) = x; c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, c))
  }

  /** |a ∩ b| of two sorted distinct array<bigint> by linear merge —
    * O(|a|+|b|) compares, no per-row hash set (graph adjacency lists). */
  def sortedLongIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  def shingleJaccard(a: UTF8String, b: UTF8String, k: Int): Double = {
    def set(t: UTF8String): java.util.HashSet[String] = {
      val words = t.toString.split(" ", -1)
      val s = new java.util.HashSet[String]()
      var i = 0
      while (i + k <= words.length) {
        val sb = new java.lang.StringBuilder(words(i))
        var j = 1
        while (j < k) { sb.append(' ').append(words(i + j)); j += 1 }
        s.add(sb.toString)
        i += 1
      }
      s
    }
    val sa = set(a); val sb = set(b)
    var inter = 0
    val it = sa.iterator()
    while (it.hasNext) if (sb.contains(it.next())) inter += 1
    val union = sa.size + sb.size - inter
    if (union == 0) 0.0 else inter.toDouble / union.toDouble
  }


  /** One-pass repetition stats: (n_words, n_distinct_words, n_bigrams,
    * n_distinct_bigrams) with the same `split(" ", -1)` tokenization and
    * single-space bigram join as the declarative words/shingles chain —
    * ExpressionsSpec pins the equivalence. The declarative version
    * rebuilds the bigram array interpreted once per output column; this
    * is one compiled pass with two hash sets. */
  def repetitionStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val words = text.toString.split(" ", -1)
    val n = words.length
    val seenW = new java.util.HashSet[String]()
    var i = 0
    while (i < n) { seenW.add(words(i)); i += 1 }
    val seenB = new java.util.HashSet[String]()
    i = 0
    while (i + 1 < n) { seenB.add(words(i) + " " + words(i + 1)); i += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, seenW.size, math.max(0, n - 1), seenB.size))
  }

  /** 64-bit SimHash: per-word xxhash64, majority vote per bit. */
  def simHash64(text: UTF8String): Long = {
    val words = text.toString.split(" ", -1)
    val counts = new Array[Int](64)
    var i = 0
    while (i < words.length) {
      val h = XXH64.hashUTF8String(UTF8String.fromString(words(i)), 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** 64-bit SimHash with md5 word hashes — the ORACLE-REPRODUCIBLE form
    * (r14, the dedup_minhash_lsh r13 recipe): the per-word hash is the
    * first 8 digest bytes big-endian (= the u64 spelled by hex chars
    * 1-16), majority vote per bit. DuckDB reproduces every bit from two
    * BIGINT-parseable pieces of the same digest — h1 = chars 1-15
    * (60 bits, the transport parse every lane mirror already uses) and
    * hc = char 16 (4 bits): bit b of the word hash is (hc >> b) & 1 for
    * b < 4 and (h1 >> (b-4)) & 1 above. Same split(" ", -1)
    * tokenization as every kernel here; md5 digest bits are i.i.d.
    * uniform, so the SimHash estimator is unchanged vs the xxhash64
    * form (SimHash64 stays registered for SQL users). */
  def simHashMd5(text: UTF8String): Long = {
    val words = text.toString.split(" ", -1)
    val counts = new Array[Int](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < words.length) {
      md.reset()
      val d = md.digest(words(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var u1 = 0L
      var b = 0
      while (b < 8) { u1 = (u1 << 8) | (d(b) & 0xffL); b += 1 }
      b = 0
      while (b < 64) {
        if (((u1 >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** shingle_minhashes(text, k, n): array<long> MinHash signature. */
case class ShingleMinHashes(child: Expression, k: Int, n: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_minhashes"
  override def nullSafeEval(input: Any): Any =
    TextHashes.shingleMinHashes(input.asInstanceOf[UTF8String], k, n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHashes.shingleMinHashes($c, $k, $n)")
  override protected def withNewChildInternal(newChild: Expression): ShingleMinHashes =
    copy(child = newChild)
}

/** shingle_md5s(text, k): array<string> of md5-hex word k-shingles. */
case class ShingleMd5s(child: Expression, k: Int)
  extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "shingle_md5s"
  override def nullSafeEval(input: Any): Any =
    TextHashes.shingleMd5s(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHashes.shingleMd5s($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): ShingleMd5s =
    copy(child = newChild)
}

/** shingle_md5_prefixes(text, k): array<string> of 16-hex md5 prefixes —
  * the transport form of the shingle set (see
  * TextHashes.shingleMd5Prefixes). */
case class ShingleMd5Prefixes(child: Expression, k: Int)
  extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "shingle_md5_prefixes"
  override def nullSafeEval(input: Any): Any =
    TextHashes.shingleMd5Prefixes(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHashes.shingleMd5Prefixes($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): ShingleMd5Prefixes =
    copy(child = newChild)
}

/** shingle_md5_long60s(text, k): array<long> of 60-bit md5 prefixes —
  * the fixed-width transport form of the shingle set (see
  * TextHashes.shingleMd5Long60s). */
case class ShingleMd5Long60s(child: Expression, k: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_md5_long60s"
  override def nullSafeEval(input: Any): Any =
    TextHashes.shingleMd5Long60s(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHashes.shingleMd5Long60s($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): ShingleMd5Long60s =
    copy(child = newChild)
}

/** shingle_md5_lanes(text, k, bands, lanes): array<long> of band-lane
  * MinHash minima over md5 k-shingles (md5-derived, DuckDB-reproducible —
  * see TextHashes.shingleMd5Lanes). */
case class ShingleMd5Lanes(child: Expression, k: Int, bands: Int, lanes: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_md5_lanes"
  override def nullSafeEval(input: Any): Any =
    TextHashes.shingleMd5Lanes(input.asInstanceOf[UTF8String], k, bands, lanes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.TextHashes.shingleMd5Lanes($c, $k, $bands, $lanes)")
  override protected def withNewChildInternal(newChild: Expression): ShingleMd5Lanes =
    copy(child = newChild)
}

/** shingle_jaccard(a, b, k): exact word-k-shingle Jaccard of two texts. */
case class ShingleJaccard(left: Expression, right: Expression, k: Int)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "shingle_jaccard"
  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashes.shingleJaccard(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expressions.TextHashes.shingleJaccard($a, $b, $k)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleJaccard =
    copy(left = newLeft, right = newRight)
}

/** sorted_long_intersect(a, b): the sorted common elements of two
  * pre-sorted array<bigint> — graph_similar_parts' triangle-credit
  * generator (see TextHashes.sortedLongIntersect). */
case class SortedLongIntersect(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sorted_long_intersect"
  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashes.sortedLongIntersect(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expressions.TextHashes.sortedLongIntersect($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongIntersect =
    copy(left = newLeft, right = newRight)
}

/** sorted_long_intersect_count(a, b) over pre-sorted array<bigint> —
  * the adjacency-list merge for graph_triangles: Spark's generic
  * array_intersect builds a hash structure per row, which loses to a
  * linear merge on sorted inputs by an order of magnitude. */
case class SortedLongIntersectCount(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "sorted_long_intersect_count"
  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashes.sortedLongIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expressions.TextHashes.sortedLongIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** entropy_stats(text): struct(n_words, n_distinct, s) with s the raw
  * ascending-run Σ (c/n)·ln(c/n) fold (see TextHashes.entropyStats —
  * bit-equal to the interpreted aggregate(sort_array(…)) it replaces). */
case class EntropyStats(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("s", DoubleType, nullable = false)))
  override def prettyName: String = "entropy_stats"
  override def nullSafeEval(input: Any): Any =
    TextHashes.entropyStats(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHashes.entropyStats($c)")
  override protected def withNewChildInternal(newChild: Expression): EntropyStats =
    copy(child = newChild)
}

/** winnow_stats(text, k, w): struct(n, nw, n_selected, sel_min, sel_max,
  * fps) — the winnowing selection profile (see TextHashes.winnowStats). */
case class WinnowStats(child: Expression, k: Int, w: Int) extends UnaryExpression {
  import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
  override def dataType: DataType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("nw", IntegerType, nullable = false),
    StructField("n_selected", IntegerType, nullable = false),
    StructField("sel_min", StringType, nullable = true),
    StructField("sel_max", StringType, nullable = true),
    StructField("fps", ArrayType(StringType, containsNull = false), nullable = false)))
  override def prettyName: String = "winnow_stats"
  override def nullSafeEval(input: Any): Any =
    TextHashes.winnowStats(input.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHashes.winnowStats($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): WinnowStats =
    copy(child = newChild)
}

/** repetition_stats(text): struct of word/bigram duplication counts. */
case class RepetitionStats(child: Expression)
  extends UnaryExpression {
  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("n_distinct_words", IntegerType, nullable = false),
    StructField("n_bigrams", IntegerType, nullable = false),
    StructField("n_distinct_bigrams", IntegerType, nullable = false)))
  override def prettyName: String = "repetition_stats"
  override def nullSafeEval(input: Any): Any =
    TextHashes.repetitionStats(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHashes.repetitionStats($c)")
  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

/** simhash64(text): 64-bit SimHash signature. */
case class SimHash64(child: Expression)
  extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def nullSafeEval(input: Any): Any =
    TextHashes.simHash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHashes.simHash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** simhash_md5(text): 64-bit SimHash over per-word md5 — the oracle-
  * reproducible variant (see TextHashes.simHashMd5). */
case class SimHashMd5(child: Expression)
  extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_md5"
  override def nullSafeEval(input: Any): Any =
    TextHashes.simHashMd5(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHashes.simHashMd5($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHashMd5 =
    copy(child = newChild)
}

/** bloom_might_contain(bc, v): membership probe of a BROADCAST
  * `org.apache.spark.util.sketch.BloomFilter` against a long key —
  * graft's manual form of the runtime bloom-filter join pruning Spark
  * injects for shuffle joins over scans (ScaleSpec pins the built-in
  * mechanism). The built-in InjectRuntimeFilter rule cannot fire when
  * the application-side key is born from a Generate (explode) rather
  * than a scan column, which is exactly dedup_containment's posting
  * side — so the operator builds the filter itself (stat.bloomFilter
  * over the probe keys) and splices this predicate between the explode
  * and the candidate exchange. Holding the Broadcast handle (not the
  * serialized bytes) keeps plan strings O(1) and ships the filter once
  * per executor instead of once per task binary. No false negatives:
  * the downstream equi-join re-checks every surviving row exactly, so
  * the plan's RESULT is invariant to the filter — only shuffle volume
  * changes. */
case class BroadcastBloomMightContain(
    bf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter],
    child: Expression)
  extends UnaryExpression with org.apache.spark.sql.catalyst.expressions.Predicate {
  override def prettyName: String = "bloom_might_contain"
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(input: Any): Any =
    bf.value.mightContainLong(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBc", bf,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, c =>
      s"((org.apache.spark.util.sketch.BloomFilter) $ref.value()).mightContainLong($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): BroadcastBloomMightContain =
    copy(child = newChild)
}
