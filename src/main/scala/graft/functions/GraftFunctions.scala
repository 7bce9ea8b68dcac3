package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL surface for the engine's scalar primitives as native Catalyst
  * Expressions (whole-stage-codegen'd, null-safe) — preferred over Scala
  * UDFs per the build rules: no serialization round-trip, participates in
  * constant folding.
  *
  * seq_ratio: difflib-compatible Ratcliff/Obershelp similarity (the
  * reference's fuzzy-match primitive, heading_matcher.py:206).
  * simhash64: 64-bit near-dup fingerprint over whitespace tokens.
  */
object SeqRatioImpl {
  def ratio(a: UTF8String, b: UTF8String): Double =
    graft.text.SeqRatio.ratio(a.toString, b.toString)
}

object Simhash64Impl {
  def hash(a: UTF8String): Long =
    graft.ops.Dedup.simhash64(a.toString.trim.split("\\s+").toSeq)
}

case class SeqRatioExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    SeqRatioImpl.ratio(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SeqRatioImpl.ratio($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression) =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "seq_ratio"
}

case class Simhash64Expr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any): Any = Simhash64Impl.hash(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.Simhash64Impl.hash($a)")
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** Primitive-loop vector kernels over array<float> columns. These back
  * codegen Catalyst expressions: the pairwise hot paths of the ANN /
  * near-dup operators must NOT go through interpreted higher-order
  * functions (aggregate/zip_with lambdas are interpreted per element —
  * measured badly beaten by primitive loops, see BASELINE.md). */
object VectorKernels {
  /** Cosine similarity; sequential double accumulation over dims (same
    * order as the previous fold-based form — bit-identical results). */
  def cosineSim(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Deterministic pseudo-random hyperplane weight in [-1, 1) for
    * (plane, dim) — splitmix64-style hash mix, no RNG state. */
  def planeWeight(plane: Int, dim: Int, seed: Long): Double = {
    var z = seed ^ (plane.toLong * 0x9e3779b97f4a7c15L) ^ (dim.toLong * 0xbf58476d1ce4e5b9L)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^= (z >>> 31)
    (z >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
  }

  /** Sign-random-projection signature: bit p set iff dot(vec,
    * plane(planeOffset + p)) >= 0. One pass over dims, all planes
    * accumulated together; per-plane accumulation order over dims is
    * ascending, matching the previous per-plane fold bit-for-bit. */
  def srpBand(vec: ArrayData, planeOffset: Int, nPlanes: Int, seed: Long): Long = {
    val acc = new Array[Double](nPlanes)
    val n = vec.numElements()
    var d = 0
    while (d < n) {
      val x = vec.getFloat(d).toDouble
      var p = 0
      while (p < nPlanes) { acc(p) += x * planeWeight(planeOffset + p, d, seed); p += 1 }
      d += 1
    }
    var sig = 0L
    var p = 0
    while (p < nPlanes) { if (acc(p) >= 0) sig |= (1L << p); p += 1 }
    sig
  }
}

/** Primitive-loop MinHash / window-hash kernels over UTF8String bytes.
  *
  * Motivation (guide §1.2 step 2 after step 1): the relational MinHash
  * shape materialized docs × shingles × bands exploded rows (~8× the
  * corpus character count) through `explode`/`explode`/hash-aggregate
  * just to take per-(doc, band) minima that are naturally computable in
  * ONE in-row pass — every exploded row paid an UnsafeRow write, a
  * hash-agg probe, a `concat` allocation and a `substring` allocation
  * before the hash call. These kernels fold the whole derivation into a
  * codegen'd per-row call: walk the text's UTF-8 bytes once (code-point
  * lead-byte offsets — `substring`/`length` semantics), hash each
  * k-code-point window per band directly from the byte buffer, keep
  * running minima. Zero intermediate rows; same hash calls.
  *
  * Bit-equivalence contracts (pinned by FunctionsSpec + the DuckDB
  * oracles q_minhash_sig / q_lsh_pairs / q_lsh_jaccard and the two-tier
  * x_minhash_xx64 digest):
  *  - md5 family == `min(md5(concat(band, ':', shingle)))` over distinct
  *    shingles: MD5 over the UTF-8 bytes of "b:<window>"; min over
  *    lowercase-hex strings == unsigned byte compare of raw digests
  *    (nibble→hex-char mapping is monotonic); min is duplicate-
  *    insensitive so the relational `array_distinct` needs no analog.
  *  - xxhash64 family == `min(xxhash64(concat(band, ':', shingle)))`:
  *    Spark's xxhash64(string) is XXH64 over the string's bytes with
  *    seed 42 ([[org.apache.spark.sql.catalyst.expressions.XXH64]]);
  *    min over longs is SIGNED (Spark's LongType ordering).
  *  - windows are CODE POINT based: a k-window spans k lead bytes, like
  *    `substring(text, i, k)`; a text shorter than k code points is one
  *    whole-text shingle for MinHash ([[graft.ops.Dedup.shingles]]) and
  *    windowless for the span-dedup window hasher
  *    ([[graft.ops.Dedup.duplicateSpans]]'s `when(length >= k)` guard).
  */
object HashKernels {
  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
  private val HexDigits: Array[Byte] = "0123456789abcdef".getBytes("US-ASCII")

  /** "b:" prefixes, cached per band index (tiny, grows to max band). */
  private val prefixCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Byte]]()
  private def prefix(b: Int): Array[Byte] =
    prefixCache.computeIfAbsent(b, i => (i.toString + ":").getBytes("US-ASCII"))

  private def hex16(d: Array[Byte], off: Int): UTF8String = {
    val cs = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      val b = d(off + i) & 0xff
      cs(2 * i) = HexDigits(b >>> 4)
      cs(2 * i + 1) = HexDigits(b & 0xf)
      i += 1
    }
    UTF8String.fromBytes(cs)
  }

  /** Digest compare, unsigned lexicographic (== hex-string ordering). */
  private def lessUnsigned(a: Array[Byte], b: Array[Byte], bOff: Int): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff
      val y = b(bOff + i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** Byte offset of each code point start (UTF-8 lead bytes) + an
    * end-sentinel; returns the code point count. `offs` must have
    * bytes.length + 1 capacity. */
  private def cpOffsets(bytes: Array[Byte], offs: Array[Int]): Int = {
    var n = 0
    var i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xc0) != 0x80) { offs(n) = i; n += 1 }
      i += 1
    }
    offs(n) = bytes.length
    n
  }

  def minhashSigsMd5(s: UTF8String, bands: Int, k: Int): ArrayData = {
    val bytes = s.getBytes
    val offs = new Array[Int](bytes.length + 1)
    val nCp = cpOffsets(bytes, offs)
    val md = md5Local.get()
    val mins = new Array[Byte](bands * 16)
    val tmp = new Array[Byte](16)
    val whole = nCp < k
    val nWin = if (whole) 1 else nCp - k + 1
    var w = 0
    while (w < nWin) {
      val start = if (whole) 0 else offs(w)
      val len = (if (whole) bytes.length else offs(w + k)) - start
      var b = 0
      while (b < bands) {
        md.update(prefix(b))
        md.update(bytes, start, len)
        md.digest(tmp, 0, 16) // resets the digest
        if (w == 0 || lessUnsigned(tmp, mins, b * 16))
          System.arraycopy(tmp, 0, mins, b * 16, 16)
        b += 1
      }
      w += 1
    }
    val out = new Array[AnyRef](bands)
    var b = 0
    while (b < bands) { out(b) = hex16(mins, b * 16); b += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def minhashSigsXx(s: UTF8String, bands: Int, k: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    val bytes = s.getBytes
    val offs = new Array[Int](bytes.length + 1)
    val nCp = cpOffsets(bytes, offs)
    var maxPref = 2
    var b = 0
    while (b < bands) { val l = prefix(b).length; if (l > maxPref) maxPref = l; b += 1 }
    // layout: window bytes FIXED at maxPref (copied once per window),
    // band prefix right-aligned against them (patched per band) — the
    // hashed region [maxPref - plen, maxPref + wlen) is contiguous
    val buf = new Array[Byte](maxPref + bytes.length)
    val mins = new Array[Long](bands)
    val whole = nCp < k
    val nWin = if (whole) 1 else nCp - k + 1
    var w = 0
    while (w < nWin) {
      val start = if (whole) 0 else offs(w)
      val len = (if (whole) bytes.length else offs(w + k)) - start
      System.arraycopy(bytes, start, buf, maxPref, len)
      b = 0
      while (b < bands) {
        val p = prefix(b)
        System.arraycopy(p, 0, buf, maxPref - p.length, p.length)
        val h = XXH64.hashUnsafeBytes(buf,
          Platform.BYTE_ARRAY_OFFSET + maxPref - p.length, p.length + len, 42L)
        if (w == 0 || h < mins(b)) mins(b) = h
        b += 1
      }
      w += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  def windowHashesMd5(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val offs = new Array[Int](bytes.length + 1)
    val nCp = cpOffsets(bytes, offs)
    val nWin = if (nCp < k) 0 else nCp - k + 1
    val md = md5Local.get()
    val tmp = new Array[Byte](16)
    val out = new Array[AnyRef](nWin)
    var w = 0
    while (w < nWin) {
      md.update(bytes, offs(w), offs(w + k) - offs(w))
      md.digest(tmp, 0, 16)
      out(w) = hex16(tmp, 0)
      w += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def windowHashesXx(s: UTF8String, k: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    val bytes = s.getBytes
    val offs = new Array[Int](bytes.length + 1)
    val nCp = cpOffsets(bytes, offs)
    val nWin = if (nCp < k) 0 else nCp - k + 1
    val out = new Array[Long](nWin)
    var w = 0
    while (w < nWin) {
      // zero-copy: hash the window's byte region in place
      out(w) = XXH64.hashUnsafeBytes(bytes,
        Platform.BYTE_ARRAY_OFFSET + offs(w), offs(w + k) - offs(w), 42L)
      w += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Set-intersection cardinality of two string arrays without building
  * the intersection array — the per-candidate hot path of the exact
  * n-gram Jaccard verifier ([[graft.ops.Dedup.ngramJaccard]]).
  * `size(array_intersect(a, b))` allocates an OpenHashSet AND an output
  * array per pair just to take its length; this counts instead:
  * |distinct(a) ∩ distinct(b)| via one hash set of b and remove-once
  * probing of a (remove returns true exactly once per distinct value,
  * so duplicate elements — in either input — and a shared null element
  * count once, matching array_intersect's dedup semantics). */
object IntersectCountImpl {
  def count(a: ArrayData, b: ArrayData): Int = {
    val nb = b.numElements()
    val set = new java.util.HashSet[AnyRef](Math.max(4, nb * 2))
    var i = 0
    while (i < nb) {
      set.add(if (b.isNullAt(i)) null else b.getUTF8String(i))
      i += 1
    }
    var n = 0
    val na = a.numElements()
    i = 0
    while (i < na) {
      if (set.remove(if (a.isNullAt(i)) null else a.getUTF8String(i))) n += 1
      i += 1
    }
    n
  }
}

case class IntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"intersect_count expects (array<string>, array<string>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    IntersectCountImpl.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.IntersectCountImpl.count($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression) =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "intersect_count"
}

/** Generator emitting every ordered index pair (i < j) of an array as a
  * two-column row — the bucket pair expansion of the capped near-dup
  * operators. The `posexplode(members)` + `explode(slice(members, i+2,
  * size))` shape it replaces duplicated the FULL members array into
  * every exploded row and then built a sliced copy per row: O(m²)
  * array-element materializations per bucket versus this generator's
  * O(m²) bare pair rows (EmbedProbe: the expansion stage of
  * a 50 M-pair corpus spent 10-18 s in those copies). Emission order per
  * bucket is (0,1), (0,2), …, (1,2), … over the sort_array'd members —
  * the same pair SET the two-generate shape produced. */
case class PairExplodeExpr(child: Expression)
    extends UnaryExpression with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(_, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pair_explode expects an array, got ${other.simpleString}")
    }
  private lazy val elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  private lazy val elemNullable: Boolean =
    child.dataType.asInstanceOf[ArrayType].containsNull
  override def elementSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", elemType, elemNullable),
      org.apache.spark.sql.types.StructField("b", elemType, elemNullable)))
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow)
      : IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null || arr.numElements() < 2) Iterator.empty
    else {
      val n = arr.numElements()
      // extract elements ONCE (UnsafeRow/UTF8String slices share the
      // array's buffer; the ArrayData stays referenced for the whole
      // iteration)
      val elems = new Array[Any](n)
      var i = 0
      while (i < n) { elems(i) = arr.get(i, elemType); i += 1 }
      new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
        private var a = 0
        private var b = 1
        override def hasNext: Boolean = a < n - 1
        override def next(): org.apache.spark.sql.catalyst.InternalRow = {
          // fresh row per pair: GenerateExec pipelines rows through an
          // unsafe projection, but downstream operators may buffer
          val out = org.apache.spark.sql.catalyst.InternalRow(elems(a), elems(b))
          b += 1
          if (b >= n) { a += 1; b = a + 1 }
          out
        }
      }
    }
  }
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "pair_explode"
}

/** Per-band MinHash signatures in one pass: array of `bands` minima
  * (hex md5 strings or xxhash64 longs) over the text's k-code-point
  * windows — see [[HashKernels]] for the equivalence contract. */
case class MinhashSigsExpr(child: Expression, bands: Int, k: Int, family: String)
    extends UnaryExpression {
  require(bands >= 1, s"bands must be >= 1, got $bands")
  require(k >= 1, s"k must be >= 1, got $k")
  require(family == "md5" || family == "xxhash64",
    s"family must be 'md5' or 'xxhash64', got '$family'")
  private def isMd5: Boolean = family == "md5"
  override def nullIntolerant: Boolean = true
  // containsNull = true so the generated `sig`/`h` columns keep the
  // nullable schema the relational min()/transform() forms produced
  // (values are never null; the oracle's parquet schema check compares
  // nullability)
  override def dataType: DataType =
    ArrayType(if (isMd5) StringType else LongType, containsNull = true)
  override def nullSafeEval(a: Any): Any =
    if (isMd5) HashKernels.minhashSigsMd5(a.asInstanceOf[UTF8String], bands, k)
    else HashKernels.minhashSigsXx(a.asInstanceOf[UTF8String], bands, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.HashKernels.minhashSigs${if (isMd5) "Md5" else "Xx"}($a, $bands, $k)")
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "minhash_sigs"
}

/** Hash of every k-code-point window of the text (empty array when the
  * text is shorter than k) — the [[graft.ops.Dedup.duplicateSpans]]
  * hot-path kernel; see [[HashKernels]]. */
case class WindowHashesExpr(child: Expression, k: Int, family: String)
    extends UnaryExpression {
  require(k >= 1, s"k must be >= 1, got $k")
  require(family == "md5" || family == "xxhash64",
    s"family must be 'md5' or 'xxhash64', got '$family'")
  private def isMd5: Boolean = family == "md5"
  override def nullIntolerant: Boolean = true
  // containsNull = true so the generated `sig`/`h` columns keep the
  // nullable schema the relational min()/transform() forms produced
  // (values are never null; the oracle's parquet schema check compares
  // nullability)
  override def dataType: DataType =
    ArrayType(if (isMd5) StringType else LongType, containsNull = true)
  override def nullSafeEval(a: Any): Any =
    if (isMd5) HashKernels.windowHashesMd5(a.asInstanceOf[UTF8String], k)
    else HashKernels.windowHashesXx(a.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.HashKernels.windowHashes${if (isMd5) "Md5" else "Xx"}($a, $k)")
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "window_hashes"
}

object LangIdImpl {
  /** Single-pass language-ID over code points — exactly the semantics of
    * the five-`regexp_replace` Column formulation it replaces
    * ([[graft.ops.TextAnalytics.langIdExpr]], DuckDB-oracle-gated):
    * `length()` and Java regex character classes both operate on CODE
    * POINTS, so the scan advances one code point at a time and the class
    * ranges (all BMP) are compared against the full code point. Ratio
    * arithmetic mirrors the Column form: each count cast to double over
    * max(len, 1). One pass instead of five regex NFA walks per doc —
    * this runs over EVERY document of a corpus, so the constant matters
    * (BenchAB langid_regex_vs_codegen).
    *
    * The scan is ALLOCATION-FREE: code points are decoded directly from
    * the UTF8String's UTF-8 bytes (no toString — the previous shape paid
    * a UTF-8->UTF-16 transcode plus a String allocation per document,
    * the one expression guaranteed to visit every doc of the corpus).
    * Spark strings are well-formed UTF-8 by construction; a truncated
    * trailing sequence (defensive case) counts as one code point with no
    * class, exactly what the toString path's single U+FFFD replacement
    * contributed. Oracle-equivalence re-verified at sf0.01 + sf10 after
    * the rewrite (q_langid hash-match). */
  private[this] val ja = UTF8String.fromString("ja")
  private[this] val ko = UTF8String.fromString("ko")
  private[this] val zh = UTF8String.fromString("zh")
  private[this] val ru = UTF8String.fromString("ru")
  private[this] val en = UTF8String.fromString("en")
  private[this] val unknown = UTF8String.fromString("unknown")

  def langId(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    var kana = 0L; var hangul = 0L; var cjk = 0L; var cyr = 0L; var latin = 0L
    var total = 0L
    var i = 0
    while (i < n) {
      val b0 = s.getByte(i) & 0xff
      var cp = b0
      var len = 1
      if (b0 >= 0x80) {
        if ((b0 & 0xe0) == 0xc0) { len = 2; cp = b0 & 0x1f }
        else if ((b0 & 0xf0) == 0xe0) { len = 3; cp = b0 & 0x0f }
        else { len = 4; cp = b0 & 0x07 }
        if (i + len > n) { cp = 0xfffd; len = n - i }
        else {
          var j = 1
          while (j < len) { cp = (cp << 6) | (s.getByte(i + j) & 0x3f); j += 1 }
        }
      }
      if (cp >= 0x3040 && cp <= 0x30ff) kana += 1
      else if (cp >= 0xac00 && cp <= 0xd7af) hangul += 1
      else if (cp >= 0x4e00 && cp <= 0x9fff) cjk += 1
      else if (cp >= 0x0400 && cp <= 0x04ff) cyr += 1
      else if ((cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z')) latin += 1
      total += 1
      i += len
    }
    val len = math.max(total, 1L).toDouble
    if (kana.toDouble / len > 0.1) ja
    else if (hangul.toDouble / len > 0.1) ko
    else if (cjk.toDouble / len > 0.3) zh
    else if (cyr.toDouble / len > 0.3) ru
    else if (latin.toDouble / len > 0.3) en
    else unknown
  }
}

case class LangIdExpr(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StringType
  override def nullSafeEval(a: Any): Any =
    LangIdImpl.langId(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.LangIdImpl.langId($a)")
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "lang_id"
}

case class CosineSimExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def nullable: Boolean = true
  // mismatched dims -> null (a corrupt/truncated embedding yields a
  // filtered row, like the old zip_with form's null-padded dot — never
  // an out-of-bounds read of adjacent unsafe-buffer bytes)
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null else VectorKernels.cosineSim(x, y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.VectorKernels.cosineSim($a, $b);
         |}
       """.stripMargin)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression) =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "cosine_sim"
}

case class SrpBandExpr(child: Expression, planeOffset: Int, nPlanes: Int, seed: Long)
    extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any): Any =
    VectorKernels.srpBand(a.asInstanceOf[ArrayData], planeOffset, nPlanes, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.VectorKernels.srpBand($a, $planeOffset, $nPlanes, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
  override def prettyName: String = "srp_band"
}

/** DataFrame-side constructors for the codegen kernels. */
object GraftColumns {
  import org.apache.spark.sql.classic.GraftExprAccess
  def cosineSim(a: Column, b: Column): Column =
    GraftExprAccess.column(CosineSimExpr(GraftExprAccess.expression(a),
      GraftExprAccess.expression(b)))
  def srpBand(vec: Column, planeOffset: Int, nPlanes: Int, seed: Long = 42L): Column =
    GraftExprAccess.column(SrpBandExpr(GraftExprAccess.expression(vec),
      planeOffset, nPlanes, seed))
  def simhash64(text: Column): Column =
    GraftExprAccess.column(Simhash64Expr(GraftExprAccess.expression(text)))
  def langId(text: Column): Column =
    GraftExprAccess.column(LangIdExpr(GraftExprAccess.expression(text)))
  def minhashSigs(text: Column, bands: Int, k: Int, family: String): Column =
    GraftExprAccess.column(MinhashSigsExpr(GraftExprAccess.expression(text),
      bands, k, family))
  def windowHashes(text: Column, k: Int, family: String): Column =
    GraftExprAccess.column(WindowHashesExpr(GraftExprAccess.expression(text),
      k, family))
  def intersectCount(a: Column, b: Column): Column =
    GraftExprAccess.column(IntersectCountExpr(GraftExprAccess.expression(a),
      GraftExprAccess.expression(b)))
  def pairExplode(members: Column): Column =
    GraftExprAccess.column(PairExplodeExpr(GraftExprAccess.expression(members)))
}

/** SparkSessionExtensions injector:
  * spark.sql.extensions=graft.functions.GraftExtensions */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftFunctions.arity
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("seq_ratio"),
      new ExpressionInfo(classOf[SeqRatioExpr].getName, "seq_ratio"),
      (children: Seq[Expression]) => { arity("seq_ratio", children, 2)
        SeqRatioExpr(children(0), children(1)) }))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[Simhash64Expr].getName, "simhash64"),
      (children: Seq[Expression]) => { arity("simhash64", children, 1)
        Simhash64Expr(children.head) }))
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimExpr].getName, "cosine_sim"),
      (children: Seq[Expression]) => { arity("cosine_sim", children, 2)
        CosineSimExpr(children(0), children(1)) }))
    ext.injectFunction((
      new FunctionIdentifier("lang_id"),
      new ExpressionInfo(classOf[LangIdExpr].getName, "lang_id"),
      (children: Seq[Expression]) => { arity("lang_id", children, 1)
        LangIdExpr(children.head) }))
  }
}

object GraftFunctions {
  private[functions] def arity(name: String, children: Seq[Expression], want: Int): Unit =
    if (children.length != want)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map("functionName" -> name, "expectedNum" -> want.toString,
          "actualNum" -> children.length.toString, "docroot" -> ""))

  /** Imperative registration for an existing session (tests, notebooks). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction("seq_ratio",
      (children: Seq[Expression]) => { arity("seq_ratio", children, 2)
        SeqRatioExpr(children(0), children(1)) }, "scala_udf")
    registry.createOrReplaceTempFunction("simhash64",
      (children: Seq[Expression]) => { arity("simhash64", children, 1)
        Simhash64Expr(children.head) }, "scala_udf")
    registry.createOrReplaceTempFunction("cosine_sim",
      (children: Seq[Expression]) => { arity("cosine_sim", children, 2)
        CosineSimExpr(children(0), children(1)) }, "scala_udf")
    registry.createOrReplaceTempFunction("lang_id",
      (children: Seq[Expression]) => { arity("lang_id", children, 1)
        LangIdExpr(children.head) }, "scala_udf")
  }
}
