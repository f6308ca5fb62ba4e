package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared md5-prefix hash: first 4 digest bytes as an unsigned 32-bit
  * value — exactly `('0x' || substr(md5(s),1,8))::BIGINT` in DuckDB /
  * `conv(substr(md5(s),1,8),16,10)` in Spark SQL, so expression
  * results stay oracle-comparable. */
private[functions] object Md5Prefix {
  private val local = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))
  // reused 16-byte digest output — digest(buf, …) avoids the per-call
  // allocation of digest(), which matters at millions of grams per task
  private val outLocal = ThreadLocal.withInitial[Array[Byte]](() =>
    new Array[Byte](16))

  def hash(bytes: Array[Byte]): Long = hash(bytes, 0, bytes.length)

  def hash(bytes: Array[Byte], off: Int, len: Int): Long = {
    val md = local.get(); md.reset()
    md.update(bytes, off, len)
    val d = outLocal.get()
    md.digest(d, 0, 16)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** First TWO 32-bit digest words — `substr(md5,1,8)` and
    * `substr(md5,9,8)`, the k=2 Bloom hash family. */
  def hash2(bytes: Array[Byte]): (Long, Long) = {
    val md = local.get(); md.reset()
    md.update(bytes)
    val d = outLocal.get()
    md.digest(d, 0, 16)
    val w1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    val w2 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    (w1, w2)
  }
}

/** `winnow_digest(text)` → STRUCT<n_fp BIGINT, min_fp BIGINT, max_fp
  * BIGINT>: winnowing fingerprint digest (Schleimer et al.) — rolling
  * 5-char-gram md5-prefix hashes, window-min with w=4, distinct mins
  * summarized. One compiled pass per row replaces a 300×-row explode +
  * window + distinct-agg plan (measured 3.4 s → sub-second at sf0.1);
  * the operator becomes pure map-side projection.
  */
case class WinnowDigest(child: Expression, k: Int = 5, w: Int = 4)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n_fp", LongType, nullable = false),
    StructField("min_fp", LongType, nullable = false),
    StructField("max_fp", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"winnow_digest expects STRING, got $other")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val bytes = u.getBytes
    val ascii = bytes.length == u.numChars()
    // ASCII fast path: a k-char gram is a k-byte slice of the UTF-8
    // buffer — hash in place, zero per-gram allocation. Non-ASCII text
    // falls back to substring + encode (char semantics match the
    // oracle's character-based substr).
    val s = if (ascii) null else u.toString
    val n = (if (ascii) bytes.length else s.length) - k + 1
    if (n <= 0) return InternalRow(0L, 0L, 0L)
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      hashes(i) =
        if (ascii) Md5Prefix.hash(bytes, i, k)
        else Md5Prefix.hash(s.substring(i, i + k).getBytes("UTF-8"))
      i += 1
    }
    // window-min over [i, i+w-1], truncated at the end — identical to
    // ROWS BETWEEN CURRENT ROW AND w-1 FOLLOWING
    val seen = new java.util.HashSet[Long]()
    var minFp = Long.MaxValue
    var maxFp = Long.MinValue
    i = 0
    while (i < n) {
      var m = Long.MaxValue
      var j = i
      val end = math.min(i + w, n)
      while (j < end) { if (hashes(j) < m) m = hashes(j); j += 1 }
      if (seen.add(m)) {
        if (m < minFp) minFp = m
        if (m > maxFp) maxFp = m
      }
      i += 1
    }
    InternalRow(seen.size.toLong, minFp, maxFp)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowDigest =
    copy(child = newChild)
  override def prettyName: String = "winnow_digest"
}

/** `cdc_bounds(text)` → ARRAY<INT>: content-defined chunk boundaries —
  * 1-based positions `[1] ++ {i ∈ [2, L−3] : md5prefix(substr(i, 4))
  * % 64 == 0} ++ [L+1]`, exactly the boundary rule the cdc_chunks
  * oracle states in SQL. One compiled pass per row replaces a
  * `filter(sequence(...), i -> md5(...))` HOF whose per-position
  * interpreted-lambda dispatch measured 5.7 s warm at sf0.1 (~300
  * positions × 5000 docs); the winnow_digest ASCII fast path applies —
  * a 4-char window of ASCII text is a 4-byte slice of the UTF-8
  * buffer, hashed in place with zero per-position allocation.
  */
case class CdcBounds(child: Expression, window: Int = 4, mod: Int = 64)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"cdc_bounds expects STRING, got $other")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val bytes = u.getBytes
    val ascii = bytes.length == u.numChars()
    val s = if (ascii) null else u.toString
    val l = if (ascii) bytes.length else s.length
    val out = new scala.collection.mutable.ArrayBuffer[Int](16)
    out += 1
    // 1-based position i in [2, L-3]: window = chars [i, i+3]
    var i = 2
    val last = l - 3
    while (i <= last) {
      val h =
        if (ascii) Md5Prefix.hash(bytes, i - 1, window)
        else Md5Prefix.hash(s.substring(i - 1, i - 1 + window).getBytes("UTF-8"))
      if (h % mod == 0) out += i
      i += 1
    }
    out += l + 1
    ArrayData.toArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): CdcBounds =
    copy(child = newChild)
  override def prettyName: String = "cdc_bounds"
}

/** `simhash32(tokens)` → BIGINT: 32-bit SimHash over a token array.
  * Per-bit weight = Σ over tokens of (bit set ? +1 : -1) — iterating
  * duplicates naturally applies count weighting. Replaces a 32×-row
  * bit explode + double aggregation with one per-row loop.
  */
case class SimHash32(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"simhash32 expects ARRAY<STRING>, got $other")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val weights = new Array[Long](32)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      val t = arr.getUTF8String(j)
      if (t != null) {
        val h = Md5Prefix.hash(t.getBytes)
        var b = 0
        while (b < 32) {
          if (((h >> b) & 1L) == 1L) weights(b) += 1 else weights(b) -= 1
          b += 1
        }
      }
      j += 1
    }
    var fp = 0L
    var b = 0
    while (b < 32) { if (weights(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash32 =
    copy(child = newChild)
  override def prettyName: String = "simhash32"
}

/** `tokens_in_set(tokens, markers)` → INT: how many elements of
  * `tokens` (WITH multiplicity) appear in the constant `markers` array
  * — exactly `size(filter(tokens, t -> t IN (…)))` but as one compiled
  * hash-set probe per token instead of an interpreted lambda dispatch
  * per element (the r3 verdict's lang_id/quality hot-path defect). The
  * marker set must be foldable; it is resolved once per task, not per
  * row. Multiplicity counting matters: a marker appearing 5× scores 5,
  * matching the DuckDB oracle's `len(list_filter(…))`.
  */
case class TokensInSet(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
      TypeCheckResult.TypeCheckFailure("tokens_in_set expects a constant marker array")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"tokens_in_set expects (ARRAY<STRING>, ARRAY<STRING>), got $other")
  }

  @transient private lazy val markers: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    val arr = right.eval(null).asInstanceOf[ArrayData]
    var i = 0
    while (i < arr.numElements()) {
      val u = arr.getUTF8String(i)
      if (u != null) s.add(u.clone())
      i += 1
    }
    s
  }

  override protected def nullSafeEval(tokens: Any, ignored: Any): Any = {
    val arr = tokens.asInstanceOf[ArrayData]
    var c = 0
    var i = 0
    while (i < arr.numElements()) {
      val u = arr.getUTF8String(i)
      if (u != null && markers.contains(u)) c += 1
      i += 1
    }
    c
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): TokensInSet =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "tokens_in_set"
}

/** `word_shingles(text, n)` → ARRAY<STRING>: the n-word shingles of a
  * single-space-tokenized text, each joined by one space — the gram
  * unit of benchmark-contamination checks (does a training document
  * contain an eval-set n-gram?). Tokenization is `split(' ')` KEEPING
  * empties, matching DuckDB's string_split so gram strings compare
  * equal across engines. One compiled pass per row; the alternative
  * `transform(sequence(...), i -> array_join(slice(...)))` spelling
  * pays an interpreted lambda dispatch per gram. */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, "word_shingles: n must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"word_shingles expects STRING, got $other")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    val m = words.length - n + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
  override def prettyName: String = "word_shingles"
}

/** `pair_pack(ps)` → ARRAY<BIGINT>: every ordered pair (i < j) of a
  * sorted BIGINT array, packed as ps[i]<<32 | ps[j] — the in-row pair
  * expansion of q20_basket_pair_counts as ONE compiled loop. Replaces
  * `flatten(transform(ps, (x, i) -> transform(slice(...), ...)))`,
  * whose per-pair interpreted-lambda dispatch (the word_shingles /
  * cdc_bounds defect class) costs more than the pairing itself on
  * ~10⁶ pairs. Valid iff every element is in [0, 2^31) (the caller
  * gates on the partkey range); sorted input ⇒ packed order ==
  * (pa, pb) lexicographic order, so downstream tiebreaks are exact.
  * NULL elements are skipped, as in minhash_sig. */
case class PairPack(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"pair_pack expects ARRAY<BIGINT>, got $other")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val ps = new Array[Long](arr.numElements())
    var n = 0
    var i = 0
    while (i < ps.length) {
      if (!arr.isNullAt(i)) { ps(n) = arr.getLong(i); n += 1 }
      i += 1
    }
    val out = new Array[Long](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      val hi = ps(i) << 32
      var j = i + 1
      while (j < n) {
        out(k) = hi | ps(j)
        k += 1
        j += 1
      }
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PairPack =
    copy(child = newChild)
  override def prettyName: String = "pair_pack"
}

/** `term_counts(tokens)` → ARRAY<STRUCT<t: STRING, c: BIGINT>>: the
  * multiplicity of every distinct element of a STRING array, as ONE
  * compiled per-row pass (binary-sort + run-length encode). This is the
  * per-document (term, tf) aggregation done IN-ROW: `(doc_id, t)` is
  * unique by construction, so the corpus-sized
  * `groupBy(doc_id, term).count()` exchange it replaces disappears
  * entirely — only already-collapsed per-doc rows ever leave the map
  * side (r15, guide §2.4). Empty-string tokens count like any other
  * (matching `explode(split(...))` + GROUP BY, which keeps them); NULL
  * elements are skipped, as in minhash_sig. Output order is the binary
  * UTF8 sort order of the terms — callers aggregate or max over it, so
  * the order is never semantic. */
case class TermCounts(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("t", StringType, nullable = false),
      StructField("c", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"term_counts expects ARRAY<STRING>, got $other")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val toks = new Array[UTF8String](arr.numElements())
    var n = 0
    var i = 0
    while (i < toks.length) {
      if (!arr.isNullAt(i)) { toks(n) = arr.getUTF8String(i); n += 1 }
      i += 1
    }
    if (n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    java.util.Arrays.sort(toks, 0, n, (a: UTF8String, b: UTF8String) => a.compareTo(b))
    val out = new java.util.ArrayList[Any](math.min(n, 16))
    var runStart = 0
    i = 1
    while (i <= n) {
      if (i == n || toks(i).compareTo(toks(runStart)) != 0) {
        out.add(InternalRow(toks(runStart), (i - runStart).toLong))
        runStart = i
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): TermCounts =
    copy(child = newChild)
  override def prettyName: String = "term_counts"
}

/** `bucket_counts(tokens, m)` → ARRAY<BIGINT> of length m:
  * counts[b] = how many tokens hash to bucket b under the engine-
  * portable md5-prefix hash mod m — the per-document hashed
  * term-frequency vector of DSIR-style importance weighting, computed
  * in ONE compiled pass per row. The HOF/explode spelling pays a
  * per-occurrence md5 *hex formatting + string parse* and ships every
  * token occurrence into the (doc, bucket) exchange; this expression
  * hashes raw bytes and emits the already-aggregated m-vector, so the
  * downstream explode is ≤ m rows per document regardless of document
  * length. Bucket semantics are bit-identical to
  * `('0x' || substr(md5(t), 1, 8))::BIGINT % m`. */
case class BucketCounts(child: Expression, m: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bucket_counts expects ARRAY<STRING>, got $other")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Long](m)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      if (t != null) {
        val b = (Md5Prefix.hash(t.getBytes) % m).toInt
        counts(b) += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(counts)
  }

  override protected def withNewChildInternal(newChild: Expression): BucketCounts =
    copy(child = newChild)
  override def prettyName: String = "bucket_counts"
}

/** `bloom_doc_stats(grams, bitmap, ref)` → STRUCT<n_grams, n_bloom,
  * n_exact BIGINT>: per-document decontamination statistics in one
  * compiled pass — distinct grams, how many test positive against the
  * constant Bloom bitmap (m = 64·len(bitmap) bits, k = 2 hashes = the
  * two 32-bit words of one md5), and how many are exact members of the
  * constant reference gram set (the FP audit). Replaces an
  * explode → corpus-wide DISTINCT exchange → per-gram double-md5-hex →
  * broadcast join → re-aggregate pipeline with a map-side projection:
  * the only thing that ever leaves the scan is the 3-field struct.
  * Both the bitmap and the reference set must be foldable constants
  * (they are the eval-suite artifact, built once on the driver). */
case class BloomDocStats(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("n_bloom", LongType, nullable = false),
    StructField("n_exact", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), ArrayType(LongType, _), ArrayType(StringType, _))
          if second.foldable && third.foldable => TypeCheckResult.TypeCheckSuccess
      case (ArrayType(StringType, _), ArrayType(LongType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckFailure(
          "bloom_doc_stats expects constant bitmap and reference arrays")
      case other => TypeCheckResult.TypeCheckFailure(
        s"bloom_doc_stats expects (ARRAY<STRING>, ARRAY<BIGINT>, ARRAY<STRING>), got $other")
    }

  @transient private lazy val bitmap: Array[Long] = {
    val arr = second.eval(null).asInstanceOf[ArrayData]
    val out = new Array[Long](arr.numElements())
    var i = 0
    while (i < out.length) { out(i) = arr.getLong(i); i += 1 }
    out
  }

  @transient private lazy val refSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    val arr = third.eval(null).asInstanceOf[ArrayData]
    var i = 0
    while (i < arr.numElements()) {
      val u = arr.getUTF8String(i)
      if (u != null) s.add(u.clone())
      i += 1
    }
    s
  }

  override def eval(input: InternalRow): Any = {
    val grams = first.eval(input)
    if (grams == null) return null
    val arr = grams.asInstanceOf[ArrayData]
    val mBits = bitmap.length * 64
    val seen = new java.util.HashSet[UTF8String]()
    var nBloom = 0L; var nExact = 0L
    var i = 0
    while (i < arr.numElements()) {
      val g = arr.getUTF8String(i)
      if (g != null && seen.add(g.clone())) {
        val (w1, w2) = Md5Prefix.hash2(g.getBytes)
        val p1 = (w1 % mBits).toInt
        val p2 = (w2 % mBits).toInt
        val hit1 = ((bitmap(p1 >> 6) >>> (p1 & 63)) & 1L) == 1L
        val hit2 = ((bitmap(p2 >> 6) >>> (p2 & 63)) & 1L) == 1L
        if (hit1 && hit2) nBloom += 1
        if (refSet.contains(g)) nExact += 1
      }
      i += 1
    }
    InternalRow(seen.size.toLong, nBloom, nExact)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): BloomDocStats =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "bloom_doc_stats"
}
