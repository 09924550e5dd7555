package graft.expr

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature as ONE native expression over the token array.
  *
  * The shuffle-based formulation (explode shingles → distinct → groupBy(doc)
  * with numHashes min() aggregates) moves every shingle of every document
  * through two exchanges. But a document's shingles live in its own row —
  * the whole signature is a per-row scalar computation. This expression
  * evaluates it in one tight loop inside whole-stage codegen: shuffle
  * volume drops from O(docs·shingles) to zero (the signature itself is the
  * only thing downstream ops exchange).
  *
  * Math is bit-identical to the SQL oracle (TextQueries.sigCte): shingle =
  * space-joined n-gram of tokens, x = int(md5(shingle)[0:14 hex]) mod P,
  * sig[i] = min over shingles of (a_i·x + b_i) mod P. min over the shingle
  * multiset equals min over the distinct set, so no dedup pass is needed.
  * Returns an empty array when the document has < shingleSize tokens
  * (posexplode then emits no rows — same semantics as exploding no
  * shingles). */
case class MinHashSig(child: Expression, shingleSize: Int, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  private lazy val (aArr, bArr) = {
    val ps = MinHashSig.hashParams(numHashes)
    (ps.map(_._1).toArray, ps.map(_._2).toArray)
  }

  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], shingleSize, aArr, bArr)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
      val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
      s"${ev.value} = graft.expr.MinHashSig.compute($c, $shingleSize, $aRef, $bRef);"
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Winnowing fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
  * algorithm): hash every k-gram of the token array, slide a window of
  * `winSize` hashes, select each window's minimum; the fingerprint is the
  * distinct selected hashes (sorted ascending for determinism). Guarantees
  * any shared run of ≥ winSize+k-1 tokens yields a shared fingerprint.
  * Hashes are the 56-bit md5 prefix — exact cross-engine vs the DuckDB
  * list_transform/list_min oracle (tie positions don't matter because only
  * hash VALUES are kept). Fewer than winSize k-grams → one window over all
  * of them; fewer than k tokens → empty. Sliding min is a monotonic deque,
  * O(#grams) per row, inside whole-stage codegen. */
case class Winnow(child: Expression, k: Int, winSize: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fp"

  override def nullSafeEval(input: Any): Any =
    Winnow.compute(input.asInstanceOf[ArrayData], k, winSize)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.Winnow.compute($c, $k, $winSize);")

  override protected def withNewChildInternal(newChild: Expression): Winnow =
    copy(child = newChild)
}

object Winnow {
  def compute(toks: ArrayData, k: Int, w: Int): ArrayData = {
    val m = toks.numElements()
    if (m < k) return new GenericArrayData(Array.empty[Long])
    val n = m - k + 1
    val hs = new Array[Long](n)
    val md = MinHashSig.md5.get()
    val sep = ' '.toByte
    var i = 0
    while (i < n) {
      md.reset()
      var j = 0
      while (j < k) {
        if (j > 0) md.update(sep)
        md.update(toks.getUTF8String(i + j).getBytes)
        j += 1
      }
      val dig = md.digest()
      var x = 0L
      var b = 0
      while (b < 7) { x = (x << 8) | (dig(b) & 0xffL); b += 1 }
      hs(i) = x
      i += 1
    }
    val sel = new java.util.TreeSet[java.lang.Long]()
    if (n <= w) {
      var mn = hs(0)
      i = 1
      while (i < n) { if (hs(i) < mn) mn = hs(i); i += 1 }
      sel.add(mn)
    } else {
      // monotonic deque of indices, increasing hash value front-to-back
      val dq = new Array[Int](n)
      var head = 0
      var tail = 0 // exclusive
      i = 0
      while (i < n) {
        while (tail > head && hs(dq(tail - 1)) >= hs(i)) tail -= 1
        dq(tail) = i; tail += 1
        if (dq(head) <= i - w) head += 1
        if (i >= w - 1) sel.add(hs(dq(head)))
        i += 1
      }
    }
    val out = new Array[Long](sel.size)
    val it = sel.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }
}

/** Jaro–Winkler similarity (Winkler '90) as a codegen'd expression —
  * the edit-distance complement for entity resolution on short strings
  * (names, titles): transposition-tolerant, prefix-boosted, O(len·window)
  * instead of Levenshtein's O(len²) DP.
  *
  * Semantics are DuckDB's `jaro_winkler_similarity` (the RapidFuzz
  * formulation the oracle runs): match window ⌊max(l₁,l₂)/2⌋−1,
  * transpositions counted over matched sequences, sim = (m/l₁ + m/l₂ +
  * (m−t)/m)/3 with that exact float op order, Winkler boost
  * `sim += prefix·0.1·(1−sim)` (common prefix capped at 4) only when
  * sim > 0.7. Bytes are compared (UTF8String), matching DuckDB's
  * byte-wise loop — identical on ASCII, consistently byte-wise on both
  * engines beyond it. */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.JaroWinkler.compute($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): JaroWinkler = copy(left = newLeft, right = newRight)
}

object JaroWinkler {
  def compute(sa: UTF8String, sb: UTF8String): Double = {
    val a = sa.getBytes
    val b = sb.getBytes
    val l1 = a.length
    val l2 = b.length
    if (l1 == 0 && l2 == 0) return 1.0
    if (l1 == 0 || l2 == 0) return 0.0
    val bound = math.max(0, math.max(l1, l2) / 2 - 1)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - bound)
      val hi = math.min(l2 - 1, i + bound)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && a(i) == b(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (a(i) != b(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    val md = m.toDouble
    val sim = (md / l1 + md / l2 + (md - t) / md) / 3.0
    if (sim <= 0.7) return sim
    var prefix = 0
    val maxP = math.min(4, math.min(l1, l2))
    while (prefix < maxP && a(prefix) == b(prefix)) prefix += 1
    sim + prefix * 0.1 * (1.0 - sim)
  }
}

/** `levenshtein(left, right) <= k` as one codegen'd predicate that stops
  * as soon as the answer is known — the pair test of
  * `TextOps.entityResolve`. Spark's `levenshtein` fills the whole n·m
  * matrix for every pair; this kernel, in order:
  *  1. length gate: |n − m| > k code points can never pass;
  *  2. trims the common prefix and suffix (they never change the
  *     distance), so identical strings cost one O(len) scan;
  *  3. fills only Ukkonen's band |i − j| ≤ k of what is left and returns
  *     false as soon as every cell of a row exceeds k: costs never
  *     decrease along a path, and a cell outside the band costs more than
  *     k already, so no later row can come back under k.
  * A band cell whose true cost is ≤ k has its whole optimal path inside
  * the band, so the banded value is exact wherever it matters.
  *
  * Characters are Spark's: code points cut by the UTF-8 first-byte
  * length (`UTF8String.numBytesForFirstByte`), equal iff their bytes are
  * equal. An all-ASCII string is taken byte by byte; others are cut into
  * code points, each packed into one int (the first byte fixes the
  * length, so packing is one-to-one). LevenshteinWithinSpec pins
  * equality with `UTF8String.levenshteinDistance(other) <= k`. Null in,
  * null out. */
case class LevenshteinWithin(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "levenshtein_within"

  override def nullSafeEval(a: Any, b: Any): Any =
    LevenshteinWithin.compute(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.LevenshteinWithin.compute($a, $b, $k);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): LevenshteinWithin =
    copy(left = newLeft, right = newRight)
}

object LevenshteinWithin {
  def compute(sa: UTF8String, sb: UTF8String, k: Int): Boolean = {
    val n = sa.numChars()
    val m = sb.numChars()
    if (math.abs(n - m) > k) return false
    val a = units(sa, n)
    val b = units(sb, m)
    var lo = 0
    while (lo < n && lo < m && a(lo) == b(lo)) lo += 1
    var ea = n
    var eb = m
    while (ea > lo && eb > lo && a(ea - 1) == b(eb - 1)) { ea -= 1; eb -= 1 }
    if (ea <= eb) banded(a, lo, ea, b, eb, k)
    else banded(b, lo, eb, a, ea, k)
  }

  /** The n characters of `s` as comparable ints: its bytes when every
    * character is one byte, else one packed code point each. */
  private def units(s: UTF8String, n: Int): Array[Int] = {
    val out = new Array[Int](n)
    val nb = s.numBytes()
    var i = 0
    if (n == nb) {
      while (i < n) { out(i) = s.getByte(i); i += 1 }
    } else {
      var p = 0
      while (i < n) {
        val end = math.min(nb, p + UTF8String.numBytesForFirstByte(s.getByte(p)))
        var u = 0
        while (p < end) { u = (u << 8) | (s.getByte(p) & 0xff); p += 1 }
        out(i) = u
        i += 1
      }
    }
    out
  }

  /** Whether s[lo, se) and t[lo, te) are within k edits, for
    * se − lo ≤ te − lo ≤ se − lo + k: one column per character of t over
    * the band of rows i of s with |i − j| ≤ k. */
  private def banded(s: Array[Int], lo: Int, se: Int, t: Array[Int],
      te: Int, k: Int): Boolean = {
    val n = se - lo
    val m = te - lo
    if (n == 0) return m <= k
    val big = Int.MaxValue / 2
    var p = new Array[Int](n + 1)
    var d = new Array[Int](n + 1)
    var i = 0
    while (i <= n) { p(i) = if (i <= k) i else big; i += 1 }
    var j = 1
    while (j <= m) {
      val c = t(lo + j - 1)
      val from = math.max(1, j - k)
      val to = math.min(n, j + k)
      d(from - 1) = if (from == 1) j else big
      var rowMin = d(from - 1)
      i = from
      while (i <= to) {
        val diag = if (s(lo + i - 1) == c) p(i - 1) else p(i - 1) + 1
        val v = math.min(diag, math.min(d(i - 1), p(i)) + 1)
        d(i) = v
        if (v < rowMin) rowMin = v
        i += 1
      }
      if (to < n) d(to + 1) = big
      if (rowMin > k) return false
      val sw = p; p = d; d = sw
      j += 1
    }
    p(n) <= k
  }
}

/** The engine-wide 56-bit md5 hash (`TextOps.hash56`) as one native
  * expression: first 7 digest bytes big-endian → long, the same value
  * as `conv(substring(md5(c), 1, 14), 16, 10)` (first 14 hex chars ARE
  * the first 7 bytes; conv's unsigned base-16 parse is the big-endian
  * byte fold). The SQL chain it replaces allocated a 32-char hex
  * string, a substring, and conv's base-conversion string per call —
  * ~70 call sites ride this hash (token hashing, md5-deterministic
  * sampling/banding), so the per-call garbage was engine-wide. Null in,
  * null out (UnaryExpression default), matching md5→conv→cast. */
case class Hash56(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "hash56_md5"

  override def nullSafeEval(input: Any): Any =
    Hash56.compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.Hash56.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Hash56 =
    copy(child = newChild)
}

object Hash56 {
  def compute(s: UTF8String): Long = {
    val md = MinHashSig.md5.get()
    md.reset()
    md.update(s.getBytes)
    val dig = md.digest()
    var x = 0L
    var b = 0
    while (b < 7) { x = (x << 8) | (dig(b) & 0xffL); b += 1 }
    x
  }
}

/** Intersection size of two SORTED, duplicate-free long arrays as one
  * merge pass — the verify-stage kernel of the prefix-Jaccard join
  * (SimJoin q412), replacing `size(array_intersect(a, b))`, whose
  * generic implementation builds a hash set per row (allocation per
  * candidate pair; ~1M pairs at sf0.1 on the template-heavy corpus).
  * Contract: both inputs strictly ascending (the `array_sort(
  * collect_list(distinct-hash))` frames) — equality with
  * array_intersect under that contract is pinned by SimExprSpec.
  * Null array in, null out; elements are non-null longs. */
case class SortedInterCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_inter_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedInterCount.compute(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.SortedInterCount.compute($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedInterCount =
    copy(left = newLeft, right = newRight)
}

object SortedInterCount {
  def compute(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }
}

/** The prefix-Jaccard pair generator of `SimJoin.prefixJaccardJoin`
  * (q412): one input row is one block pair of one prefix token's posting
  * list; the output is each document pair of the row whose Jaccard
  * reaches τ, emitted exactly once across the whole join.
  *
  * `postings` is an array of struct(id, sz, pos, blk, r): document id
  * (any orderable type), distinct-token count, 1-based position of this
  * token in the document's rank-sorted prefix, block, and the full
  * token-rank array ascending. When `same` is false the row's two blocks
  * differ and only cross-block pairs are tried (a within-block pair
  * belongs to its block's own row). Each pair (x, y), id_x < id_y, runs:
  *  1. length: min(|x|,|y|) ≥ τ·max(|x|,|y|);
  *  2. PPJoin positional bound: 1 + min(px−1, py−1) + min(|x|−px,
  *     |y|−py) ≥ τ/(1+τ)·(|x|+|y|) − 1e-9 (the slack keeps float dust
  *     from over-pruning);
  *  3. emit once: skip when the documents share a rank below this token
  *     — it is a shared prefix token too, and the pair belongs to the
  *     row of the smallest one. At that token no shared rank lies below,
  *     so the overlap is ≤ 1 + min(|x|−px, |y|−py) and filter 2 cannot
  *     drop a result pair there;
  *  4. exact merge intersection of the ranks past this token (filter 3
  *     proved those below disjoint), aborted once count + min(remaining)
  *     < α = ⌈(|x|+|y|)·τ/(1+τ) − 1e-9⌉.
  * Rows: a, b, sz_a, sz_b, inter, jaccard = inter / (sz_a + sz_b −
  * inter), only jaccard ≥ τ — or, with `keepAll`, every pair that
  * reached filter 4 (inter 0 where it aborted), the candidate gate's
  * count. */
case class PrefixPairs(same: Expression, postings: Expression, tau: Double,
    keepAll: Boolean) extends BinaryExpression with Generator
    with CodegenFallback {
  override def left: Expression = same
  override def right: Expression = postings
  override def prettyName: String = "prefix_pairs"

  private def idType: DataType = postings.dataType.asInstanceOf[ArrayType]
    .elementType.asInstanceOf[StructType].fields(0).dataType

  @transient private lazy val idOrd = PhysicalDataType.ordering(idType)

  override def elementSchema: StructType = StructType(Seq(
    StructField("a", idType, nullable = false),
    StructField("b", idType, nullable = false),
    StructField("sz_a", LongType, nullable = false),
    StructField("sz_b", LongType, nullable = false),
    StructField("inter", LongType, nullable = false),
    StructField("jaccard", DoubleType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val p = postings.eval(input).asInstanceOf[ArrayData]
    if (p == null) Iterator.empty
    else new PrefixPairs.Pairs(same.eval(input) == true, p, idType, idOrd,
      tau, keepAll)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PrefixPairs =
    copy(same = newLeft, postings = newRight)
}

object PrefixPairs {
  /** Lazy pair iterator over one posting row: a hot row holds up to B²
    * pairs, so survivors stream out instead of being buffered. */
  private class Pairs(same: Boolean, p: ArrayData, idType: DataType,
      ord: Ordering[Any], tau: Double, keepAll: Boolean)
      extends Iterator[InternalRow] {
    private val n = p.numElements()
    private val ids = new Array[Any](n)
    private val sz = new Array[Int](n)
    private val pos = new Array[Int](n)
    private val blk = new Array[Int](n)
    private val rk = new Array[Array[Long]](n)
    locally {
      var k = 0
      while (k < n) {
        val e = p.getStruct(k, 5)
        ids(k) = InternalRow.copyValue(e.get(0, idType))
        sz(k) = e.getInt(1)
        pos(k) = e.getInt(2)
        blk(k) = e.getInt(3)
        rk(k) = e.getArray(4).toLongArray()
        k += 1
      }
    }
    // the float program of the positional bound and of α
    private val c = tau / (1.0 + tau)
    private var i = 0
    private var j = 0
    private var pending: InternalRow = null

    override def hasNext: Boolean = {
      while (pending == null && i < n) {
        j += 1
        if (j >= n) { i += 1; j = i }
        else pending = verify(i, j)
      }
      pending != null
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("prefix_pairs")
      val r = pending
      pending = null
      r
    }

    private def verify(u: Int, v: Int): InternalRow = {
      if (!same && blk(u) == blk(v)) return null
      val cmp = ord.compare(ids(u), ids(v))
      if (cmp == 0) return null
      val x = if (cmp < 0) u else v
      val y = if (cmp < 0) v else u
      val sa = sz(x)
      val sb = sz(y)
      if (!(math.min(sa, sb).toDouble >= tau * math.max(sa, sb).toDouble))
        return null
      val px = pos(x)
      val py = pos(y)
      val ub = 1 + math.min(px - 1, py - 1) + math.min(sa - px, sb - py)
      if (!(ub.toDouble >= c * (sa + sb).toDouble - 1e-9)) return null
      val ra = rk(x)
      val rb = rk(y)
      // emit once: the ranks below this token are ra[0, px−1), rb[0, py−1)
      var ia = 0
      var ib = 0
      while (ia < px - 1 && ib < py - 1) {
        val d = java.lang.Long.compare(ra(ia), rb(ib))
        if (d == 0) return null
        if (d < 0) ia += 1 else ib += 1
      }
      val alpha = math.ceil((sa + sb).toDouble * c - 1e-9).toInt
      var inter = 1L // this token
      ia = px
      ib = py
      while (ia < sa && ib < sb) {
        if (inter + math.min(sa - ia, sb - ib) < alpha) { inter = 0L; ia = sa }
        else {
          val d = java.lang.Long.compare(ra(ia), rb(ib))
          if (d == 0) { inter += 1; ia += 1; ib += 1 }
          else if (d < 0) ia += 1
          else ib += 1
        }
      }
      val jac = inter.toDouble / (sa.toLong + sb - inter).toDouble
      if (!keepAll && !(jac >= tau)) null
      else new GenericInternalRow(Array[Any](ids(x), ids(y), sa.toLong,
        sb.toLong, inter, jac))
    }
  }
}

/** Content-defined chunks (the Rabin-style CDC boundary rule of
  * TextOps.cdcChunks) as ONE codegen'd expression over the text.
  *
  * The higher-order-function formulation it replaces evaluated
  * `ascii(substring(t, i + j, 1))` per (position, window-offset): each
  * `substring` walks the UTF8String from byte 0 to find character i+j,
  * so a length-n document cost O(n²·w) byte scans plus an interpreted
  * lambda per term (28 s for the q563 suite entry at sf0.1). This
  * expression decodes the codepoint sequence ONCE (O(bytes)), rolls the
  * window polynomial in O(1) per position via
  * h(i+1) = (h(i) − c[i]·baseᵂ⁻¹)·base + c[i+w] — exact in long, the
  * identical integer sequence as the Horner fold — and slices chunks as
  * byte ranges at character boundaries.
  *
  * Semantics replicated bit-for-bit (CdcExprSpec pins equality against
  * the HOF chain, multibyte included): char codes are Unicode
  * codepoints (Spark 4's `ascii` = codePointAt(0) of the first char),
  * boundary positions are 1-based with position 1 always a cut, a
  * boundary falls where h % mask == 0 (Java remainder), and each chunk
  * spans [cut, next cut). Inputs shorter than `window` chars yield the
  * whole text as one chunk (the caller filters length ≥ window anyway). */
case class CdcChunks(child: Expression, window: Int, base: Int, mask: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "cdc_chunks"

  override def nullSafeEval(input: Any): Any =
    CdcChunks.compute(input.asInstanceOf[UTF8String], window, base, mask)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.CdcChunks.compute($c, $window, $base, $mask);")

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

object CdcChunks {
  def compute(s: UTF8String, w: Int, base: Int, mask: Int): ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    // character start offsets (UTF-8 lead bytes), one pass
    var nc = 0
    var i = 0
    while (i < nb) { if ((bytes(i) & 0xc0) != 0x80) nc += 1; i += 1 }
    if (nc < w)
      return new GenericArrayData(Array[AnyRef](s))
    val offs = new Array[Int](nc + 1)
    var c = 0
    i = 0
    while (i < nb) {
      if ((bytes(i) & 0xc0) != 0x80) { offs(c) = i; c += 1 }
      i += 1
    }
    offs(nc) = nb
    // codepoint per character (= Spark ascii(substring(t, p, 1))).
    // Continuation-byte reads are bounds-guarded (missing bytes read as
    // 0): a truncated multi-byte tail — reachable via binary→string
    // casts, which Spark does not validate — must degrade like the old
    // tolerant HOF chain, not throw AIOOBE (advice r13). Valid UTF-8
    // never takes the guard, so outputs are unchanged.
    def cont(idx: Int): Long = if (idx < nb) (bytes(idx) & 0x3f).toLong else 0L
    val code = new Array[Long](nc)
    c = 0
    while (c < nc) {
      val o = offs(c)
      val b0 = bytes(o) & 0xff
      code(c) =
        if (b0 < 0x80) b0
        else if (b0 < 0xe0)
          ((b0 & 0x1f).toLong << 6) | cont(o + 1)
        else if (b0 < 0xf0)
          ((b0 & 0x0f).toLong << 12) | (cont(o + 1) << 6) |
            cont(o + 2)
        else
          ((b0 & 0x07).toLong << 18) | (cont(o + 1) << 12) |
            (cont(o + 2) << 6) | cont(o + 3)
      c += 1
    }
    // rolling window polynomial, cut char-indices (0-based; 0 always cut)
    var basePow = 1L // base^(w-1)
    i = 1
    while (i < w) { basePow *= base; i += 1 }
    val cuts = new java.util.ArrayList[Integer]()
    cuts.add(0)
    var h = 0L
    i = 0
    while (i < w) { h = h * base + code(i); i += 1 }
    // a boundary at position 1 adds nothing: 1 is always a cut
    var p = 1
    val nPos = nc - w + 1
    while (p < nPos) {
      h = (h - code(p - 1) * basePow) * base + code(p + w - 1)
      if (h % mask == 0) cuts.add(p)
      p += 1
    }
    val k = cuts.size()
    val out = new Array[AnyRef](k)
    i = 0
    while (i < k) {
      val cs = offs(cuts.get(i))
      val ce = if (i + 1 < k) offs(cuts.get(i + 1)) else nb
      out(i) = UTF8String.fromBytes(bytes, cs, ce - cs)
      i += 1
    }
    new GenericArrayData(out)
  }
}

object MinHashSig {
  /** Mersenne prime modulus; (2³¹−1)² < 2⁶³ keeps a·x+b inside int64. */
  val P: Long = 2147483647L

  /** MessageDigest.getInstance does a provider lookup — per-task, not
    * per-row (expressions evaluate on many rows per thread). */
  private[expr] val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Deterministic affine-permutation constants (same series as
    * TextOps.hashParams / the oracle SQL literals). */
  def hashParams(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      val a = (((i + 1).toLong * 1103515245L + 12345L) % P).max(1L)
      val b = ((i + 1).toLong * 69069L + 7L) % P
      (a, b)
    }

  def compute(toks: ArrayData, n: Int, a: Array[Long], b: Array[Long]): ArrayData = {
    val nTok = toks.numElements()
    if (nTok < n) return new GenericArrayData(Array.empty[Long])
    val nh = a.length
    val minima = Array.fill(nh)(Long.MaxValue)
    val md = md5.get()
    val sep = ' '.toByte
    var i = 0
    while (i <= nTok - n) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(sep)
        md.update(toks.getUTF8String(i + j).getBytes)
        j += 1
      }
      val dig = md.digest()
      // first 14 hex chars of the md5 = high 56 bits = first 7 bytes
      var x = 0L
      var k = 0
      while (k < 7) { x = (x << 8) | (dig(k) & 0xffL); k += 1 }
      x %= P
      var h = 0
      while (h < nh) {
        val v = (x * a(h) + b(h)) % P
        if (v < minima(h)) minima(h) = v
        h += 1
      }
      i += 1
    }
    new GenericArrayData(minima)
  }
}
