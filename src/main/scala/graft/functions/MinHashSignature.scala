package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types._

import graft.plans.ScanBudgetRule

/** `minhash_sig(shingles[, k])` — the k-permutation MinHash signature
  * of a string array, as a native Catalyst expression.
  *
  * sig[i] = min over shingles of XXH64(shingle bytes, seed = i).
  *
  * Why an Expression and not SQL/HOFs/UDF: the signature is pure
  * per-row compute over the shingle set. A k-column `min(xxhash64(…))`
  * aggregate shuffles exploded token rows and generates pathological
  * Janino compile times at k=72; higher-order-function lambdas are
  * interpreted per element; a UDF pays serialization per row. This
  * expression is one tight compiled loop over the array bytes with no
  * shuffle at all — the signature step runs entirely map-side at any
  * corpus size. (CodegenFallback: the surrounding stage stays
  * codegen'd and calls eval; the loop itself is already JVM-compiled.)
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig expects ARRAY<STRING>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      val s = arr.getUTF8String(j)
      if (s != null) {
        val base = s.getBaseObject
        val offset = s.getBaseOffset
        val len = s.numBytes
        var i = 0
        while (i < numHashes) {
          val h = XXH64.hashUnsafeBytes(base, offset, len, i)
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

/** graft's native functions, one row per SQL name in [[kernels]]. Two
  * entry points read the table, so every session runs the same
  * Catalyst expressions whichever way it was built:
  *  - [[register]], the `SparkSessionExtensions` hook — wire with
  *    `SparkSession.builder().withExtensions(GraftFunctions.register)`;
  *  - [[install]], for a live session built without it (a harness-owned
  *    session, or one handed to `GraftBootstrap.serve`).
  */
object GraftFunctions {
  val DefaultNumHashes = 72

  /** Plain-JVM minhash over string shingles: the reference the
    * `minhash_sig` expression is property-checked against. */
  def minhashPlain(shingles: Seq[String], k: Int): Array[Long] = {
    val mins = Array.fill(k)(Long.MaxValue)
    shingles.foreach { s =>
      if (s != null) {
        val b = s.getBytes("UTF-8")
        var i = 0
        while (i < k) {
          val h = XXH64.hashUnsafeBytes(b,
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, i)
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
    }
    mins
  }

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case x if x.foldable => x.eval() match {
      case num: Number => num.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be an integer literal, got $other")
    }
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got ${other.sql}")
  }

  private def kernel(name: String, cls: Class[_])(
      build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  val kernels: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    kernel("minhash_sig", classOf[MinHashSignature])(e => MinHashSignature(e.head,
      if (e.size > 1) intLit(e(1), "minhash_sig", "k") else DefaultNumHashes)),
    kernel("winnow_digest", classOf[WinnowDigest])(e => WinnowDigest(e.head)),
    kernel("simhash32", classOf[SimHash32])(e => SimHash32(e.head)),
    kernel("dot_f64", classOf[DotF64])(e => DotF64(e(0), e(1))),
    kernel("pq_code_u6", classOf[PqCodeU6])(e => PqCodeU6(e(0), e(1), e(2))),
    kernel("tokens_in_set", classOf[TokensInSet])(e => TokensInSet(e(0), e(1))),
    kernel("quantize_u8", classOf[QuantizeU8])(e => QuantizeU8(e.head)),
    kernel("cdc_bounds", classOf[CdcBounds])(e => CdcBounds(e.head)),
    kernel("pair_pack", classOf[PairPack])(e => PairPack(e.head)),
    kernel("term_counts", classOf[TermCounts])(e => TermCounts(e.head)),
    kernel("bucket_counts", classOf[BucketCounts]) { e =>
      require(e.size == 2, "bucket_counts(tokens, m) takes exactly 2 arguments")
      BucketCounts(e.head, intLit(e(1), "bucket_counts", "m"))
    },
    kernel("bloom_doc_stats", classOf[BloomDocStats])(e =>
      BloomDocStats(e(0), e(1), e(2))),
    kernel("word_shingles", classOf[WordShingles]) { e =>
      require(e.size == 2, "word_shingles(text, n) takes exactly 2 arguments")
      WordShingles(e.head, intLit(e(1), "word_shingles", "n"))
    },
    // InternalRow-level media kernels: synthesis + probe/decode — see
    // graft.functions.MediaExprs
    kernel("synthetic_png", classOf[SyntheticMedia])(e => SyntheticMedia(e.head, "png")),
    kernel("synthetic_avi", classOf[SyntheticMedia])(e => SyntheticMedia(e.head, "avi")),
    kernel("synthetic_wav", classOf[SyntheticMedia])(e => SyntheticMedia(e.head, "wav")),
    kernel("synthetic_mp4", classOf[SyntheticMedia])(e => SyntheticMedia(e.head, "mp4")),
    kernel("decode_image", classOf[DecodeImageExpr])(e => DecodeImageExpr(e.head)),
    kernel("probe_png", classOf[ProbePngExpr])(e => ProbePngExpr(e.head)),
    kernel("probe_mp4", classOf[ProbeMp4Expr])(e => ProbeMp4Expr(e.head)),
    kernel("analyze_wav", classOf[AnalyzeWavExpr])(e => AnalyzeWavExpr(e.head)),
    kernel("avi_frame_lumas", classOf[AviFrameLumasExpr])(e => AviFrameLumasExpr(e.head)),
    // native aggregates
    kernel("mg_topk", classOf[MisraGriesTopK]) { e =>
      require(e.size == 2, "mg_topk(term, k) takes exactly 2 arguments")
      MisraGriesTopK(e.head, intLit(e(1), "mg_topk", "k")).toAggregateExpression()
    },
    kernel("qdigest", classOf[QDigestAgg]) { e =>
      require(e.size == 3, "qdigest(value, k, b) takes exactly 3 arguments")
      QDigestAgg(e.head, intLit(e(1), "qdigest", "k"),
        intLit(e(2), "qdigest", "b")).toAggregateExpression()
    },
    kernel("qdigest_merge", classOf[QDigestMergeAgg]) { e =>
      require(e.size == 3, "qdigest_merge(digest, k, b) takes exactly 3 arguments")
      QDigestMergeAgg(e.head, intLit(e(1), "qdigest_merge", "k"),
        intLit(e(2), "qdigest_merge", "b")).toAggregateExpression()
    })

  def register(ext: SparkSessionExtensions): Unit = {
    kernels.foreach(ext.injectFunction)
    // the duplicated-scan guard (conf-gated) — see
    // graft.plans.ScanBudgetRule; user-provided rules run after the
    // built-in optimizer batches, i.e. after CTE inlining
    ext.injectOptimizerRule(_ => ScanBudgetRule)
  }

  /** Give a live session what [[register]] gives a new one: every row
    * of [[kernels]] in its function registry, and ScanBudgetRule through
    * `experimental.extraOptimizations`. A session that already resolves
    * the kernels — built with the extension, whose rule is then already
    * there, or installed before — is left as it is, so the rule never
    * runs twice. Idempotent; runs no query. */
  def install(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(kernels.head._1)) {
      kernels.foreach { case (id, info, build) =>
        registry.registerFunction(id, info, build)
      }
      spark.experimental.extraOptimizations :+= ScanBudgetRule
    }
  }
}
