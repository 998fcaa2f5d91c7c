package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen string-hash kernels for the dedup/fingerprint family
  * (SURVEY.md §2.9, §7.5). Semantically identical to the DuckDB oracle
  * SQL and to the built-in higher-order-function folds ExpressionSpec
  * checks them against: plain integer arithmetic over CODE POINTS. Both
  * Spark and DuckDB define `length`/`substr`/`ascii` over code points
  * (not UTF-16 units or bytes — `ascii('𝄞')` = 119070 in both engines),
  * and the kernels iterate the Java String with codePointAt/charCount,
  * so all three paths agree exactly even on supplementary-plane text
  * (ExpressionSpec pins the mixed-script equality).
  */
object HashKernels {
  val P: Long = 1000000007L

  /** Rolling polynomial fingerprint: fold (acc*31 + codepoint) % P over
    * every code point — TextDedup.fingerprint's formula. */
  def rollingHash(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31L + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  /** |a ∩ b| for long arrays with distinct elements — the packed-gram
    * variant of [[intersectCard]] (primitive reads, boxed set). */
  def intersectCardLong(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val (small, big) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val set = new java.util.HashSet[java.lang.Long](small.numElements() * 2)
    var i = 0
    while (i < small.numElements()) { set.add(small.getLong(i)); i += 1 }
    var n = 0L
    var j = 0
    while (j < big.numElements()) {
      if (set.contains(big.getLong(j))) n += 1
      j += 1
    }
    n
  }

  /** |a ∩ b| for string arrays with distinct elements — shared by
    * ArrayIntersectCard eval+codegen. Equals size(array_intersect(a, b))
    * on distinct inputs without materializing the intersection array. */
  def intersectCard(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val (small, big) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val set = new java.util.HashSet[UTF8String](small.numElements() * 2)
    var i = 0
    while (i < small.numElements()) { set.add(small.getUTF8String(i)); i += 1 }
    var n = 0L
    var j = 0
    while (j < big.numElements()) {
      if (set.contains(big.getUTF8String(j))) n += 1
      j += 1
    }
    n
  }

  /** Distinct word-3-shingle hashes of a whole document in ONE pass —
    * the fused form of split(" ") → 3-word shingles → positional hash →
    * array_distinct, which as built-ins takes four interpreted
    * higher-order functions with full shingle-string materialization.
    * Exact equivalences replicated:
    *  - split(" ", -1) keeps empty tokens (Spark `split` regex
    *    semantics on repeated spaces);
    *  - the shingle is concat_ws(" ", w_i, w_i+1, w_i+2): word code
    *    points with a space (cp 32) after the first two words, empty
    *    words contributing only their separator;
    *  - hash = Σ codepoint · 13^pos over the shingle's FIRST 12 code
    *    points. Every intermediate fits in int64 even at the Unicode
    *    maximum (Σ 0x10FFFF·13^i for i = 0..11 ≈ 2.2e18 < 2^63), and
    *    13^11 < 2^53 is an exact double, so the oracle's
    *    `pow(13, i−1)::BIGINT` replay is exact;
    *  - fewer than 3 words → empty array (`greatest(size-2, 0)`);
    *  - distinct keeps first-occurrence order (array_distinct).
    * ExpressionSpec pins equality against the HOF formulation. */
  def wordShingleHashes(s: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val words = s.toString.split(" ", -1)
    val n = words.length - 2
    if (n <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val seen = new java.util.LinkedHashSet[java.lang.Long](n * 2)
    var i = 0
    while (i < n) {
      var acc = 0L
      var pw = 1L
      var pos = 0
      var wi = 0
      while (wi < 3 && pos < 12) {
        val w = words(i + wi)
        var ci = 0
        while (ci < w.length && pos < 12) {
          val cp = w.codePointAt(ci)
          acc += cp * pw
          pw *= 13L
          pos += 1
          ci += Character.charCount(cp)
        }
        if (wi < 2 && pos < 12) { // the concat_ws separator space
          acc += 32L * pw
          pw *= 13L
          pos += 1
        }
        wi += 1
      }
      seen.add(acc)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray.asInstanceOf[Array[AnyRef]].asInstanceOf[Array[Any]])
  }

  /** Distinct packed char-4-gram hashes of a whole document in ONE
    * pass (q_dedup_ngram) — the fused form of the interpreted
    * transform (4 × ascii(substr) per position + array_distinct).
    * Exact equivalences replicated:
    *  - position count = greatest(numChars - 3, 1) (a short doc yields
    *    ONE partial gram, matching sequence(1, greatest(len-3, 1)));
    *  - c(k) = codepoint of the k-th character, 0 past the end
    *    (ascii(substr(k, 1)) of '' is 0);
    *  - hash = ((c(i)·1021 + c(i+1))·1021 + c(i+2))·1021 + c(i+3);
    *  - distinct keeps first-occurrence order (array_distinct).
    * ExpressionSpec pins equality against the HOF formulation. */
  def charGramHashes(s: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val cps = s.toString.codePoints().toArray
    val len = cps.length
    val m = math.max(len - 3, 1)
    val seen = new java.util.LinkedHashSet[java.lang.Long](m * 2)
    var i = 0
    while (i < m) {
      var h = 0L
      var k = 0
      while (k < 4) {
        val c = if (i + k < len) cps(i + k).toLong else 0L
        h = if (k == 0) c else h * 1021L + c
        k += 1
      }
      seen.add(h)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray.asInstanceOf[Array[AnyRef]].asInstanceOf[Array[Any]])
  }

  /** Packed char-TRIGRAM keys of a whole document, NON-distinct and in
    * order (q_lang_id) — the fused form of the interpreted
    * `transform(sequence(1, greatest(len-2, 1)), i => (c(i)·1021 +
    * c(i+1))·1021 + c(i+2))`. Same conventions as [[charGramHashes]]
    * at width 3 but keeping every occurrence (lang-ID needs term
    * frequencies, not a set): m = max(len−2, 1) positions (a short doc
    * yields one partial gram), c(k) = codepoint or 0 past the end
    * (`ascii(substr)` of '' is 0). ExpressionSpec pins equality. */
  def charTrigrams(s: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val cps = s.toString.codePoints().toArray
    val len = cps.length
    val m = math.max(len - 2, 1)
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      var h = 0L
      var k = 0
      while (k < 3) {
        val c = if (i + k < len) cps(i + k).toLong else 0L
        h = if (k == 0) c else h * 1021L + c
        k += 1
      }
      out(i) = h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Sliding 8-word-window xxhash64 keys of a whole document in ONE
    * pass (q_dedup_substring) — the fused form of the interpreted
    * `transform(sequence(1, m), i => xxhash64(slice(w, i, 8)))`:
    * higher-order functions never enter whole-stage codegen and the
    * builtin `slice` copies an 8-element array per position, so the
    * fused kernel hashes each word's UTF-8 bytes once and chains the
    * per-window seeds directly. Exact equivalences replicated:
    *  - words = split(text, " ", -1) — trailing empties kept, same as
    *    the builtin split;
    *  - windows only when |words| ≥ 8 (`when(m > 0, …)` guard), one
    *    per start position, NON-distinct and in order;
    *  - hash = Spark's xxhash64 over array<string>: seed 42, then for
    *    each of the 8 words h = XXH64(bytes, h) — bit-identical to the
    *    builtin (ExpressionSpec pins it). */
  def windowGramHashes(s: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val words = s.toString.split(" ", -1)
    val n = words.length - 7
    if (n <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val bytes = new Array[Array[Byte]](words.length)
    var k = 0
    while (k < words.length) {
      bytes(k) = words(k).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      k += 1
    }
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      var h = 42L
      var j = 0
      while (j < 8) {
        val b = bytes(i + j)
        h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, h)
        j += 1
      }
      out(i) = h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** All ordered pairs (i < j) of a non-negative id array, each packed
    * as (a << 32) | b — the basket pair generator for
    * q_basket_lift/q_item_similarity as ONE codegen call instead of
    * nested interpreted higher-order transforms. Caller unpacks with
    * shifts. Ids must fit unsigned 32 bits (guarded — key spaces past
    * 4e9 need the struct form). */
  def packedPairs(arr: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val v = arr.getLong(i)
      require(v >= 0 && v <= 0xFFFFFFFFL,
        s"graft_pairs id $v outside unsigned 32-bit pack range")
      i += 1
    }
    val out = new Array[Any](n * (n - 1) / 2)
    var w = 0
    i = 0
    while (i < n) {
      val a = arr.getLong(i) << 32
      var j = i + 1
      while (j < n) {
        out(w) = a | arr.getLong(j)
        w += 1; j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** |a ∩ b| for distinct string arrays — the near-dup verify hot path.
  * SQL function `graft_intersect_card(a, b)`. */
case class ArrayIntersectCard(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType

  private def isLong: Boolean = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_intersect_card expects two array<string> or two array<bigint>, got ${l.sql}, ${r.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val ad = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val bd = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (isLong) HashKernels.intersectCardLong(ad, bd)
    else HashKernels.intersectCard(ad, bd)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val method = if (isLong) "intersectCardLong" else "intersectCard"
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.HashKernels.$method($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Whole-document distinct word-3-shingle hash array — SQL function
  * `graft_shingle_hashes(text)`; the fused dedup-pipeline front end
  * (see [[HashKernels.wordShingleHashes]]). */
case class WordShingleHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_hashes expects string, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    HashKernels.wordShingleHashes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.wordShingleHashes($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Whole-document distinct packed char-4-gram hash array — SQL function
  * `graft_chargram_hashes(text)`; the fused n-gram-dedup front end
  * (see [[HashKernels.charGramHashes]]). */
case class CharGramHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_chargram_hashes expects string, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    HashKernels.charGramHashes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.charGramHashes($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Whole-document packed char-trigram key array (non-distinct) — SQL
  * function `graft_char3grams(text)`; the fused lang-ID front end
  * (see [[HashKernels.charTrigrams]]). */
case class CharTrigrams(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_char3grams expects string, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    HashKernels.charTrigrams(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.charTrigrams($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Packed ordered-pair generator over an id array — SQL function
  * `graft_pairs(array<bigint>)` (see [[HashKernels.packedPairs]]): one
  * codegen'd tight loop replacing the interpreted nested higher-order
  * transforms in the basket queries. Output longs unpack as
  * (p >> 32, p & 0xFFFFFFFF). */
case class PackedPairs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_pairs expects array<bigint>, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    HashKernels.packedPairs(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.packedPairs($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Whole-document sliding 8-word-window xxhash64 key array — SQL
  * function `graft_window_hashes(text)`; the fused substring-dedup
  * front end (see [[HashKernels.windowGramHashes]]). */
case class WindowGramHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_window_hashes expects string, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    HashKernels.windowGramHashes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.windowGramHashes($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL function `graft_fp` (see [[GraftExtensions]]): the rolling
  * fingerprint [[HashKernels.rollingHash]], invoked from both eval and
  * the generated code — one implementation, no interpreter/codegen skew. */
case class RollingHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_fp expects string, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    HashKernels.rollingHash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.rollingHash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
