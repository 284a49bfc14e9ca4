package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Custom Catalyst expressions (with `doGenCode`) for the engine's
  * hot kernels. SURVEY §4 said "no custom Rule/Strategy needed for
  * parity; custom pieces only if C-tier perf demands" — the sf0.1
  * bench demanded: higher-order-function vector math is interpreted
  * (no codegen) and dominated the similarity/dedup queries. Each
  * expression stays inside whole-stage codegen by emitting a call to
  * a static [[VectorKernels]] loop.
  */

case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernels.cosine($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernels.dot($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class VecSum(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_vec_sum"
  override protected def nullSafeEval(a: Any): Any =
    VectorKernels.vecSum(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.vecSum($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class VecL2Norm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_vec_l2norm"
  override protected def nullSafeEval(a: Any): Any =
    VectorKernels.vecL2Norm(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.vecL2Norm($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class SrpSignature(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 64, s"bits must be in [1,64], got $bits")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_srp_signature"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.srpSignature(v.asInstanceOf[ArrayData], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.srpSignature($c, $bits)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Wide SRP banding — one chunk per band, bands×bitsPerBand effective
  * signature bits (see [[VectorKernels.srpBandChunks]]). */
case class SrpBandChunks(child: Expression, bands: Int, bitsPerBand: Int)
    extends UnaryExpression {
  require(bands >= 1 && bitsPerBand >= 1 && bitsPerBand <= 64,
    s"bands >= 1 and bitsPerBand in [1,64] required, got $bands x $bitsPerBand")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_srp_band_chunks"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.srpBandChunks(v.asInstanceOf[ArrayData], bands, bitsPerBand)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.srpBandChunks($c, $bands, $bitsPerBand)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class MinHashBands(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression {
  require(numHashes % bands == 0, "numHashes must be a multiple of bands")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_bands"
  /** Dispatch on the shingle element type: raw strings or pre-hashed
    * 64-bit shingles. */
  private def kernel: String = child.dataType match {
    case ArrayType(LongType, _) => "minHashBandsLong"
    case _ => "minHashBands"
  }
  override protected def nullSafeEval(sh: Any): Any =
    if (kernel == "minHashBandsLong")
      VectorKernels.minHashBandsLong(sh.asInstanceOf[ArrayData], numHashes, bands)
    else VectorKernels.minHashBands(sh.asInstanceOf[ArrayData], numHashes, bands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.$kernel($c, $numHashes, $bands)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"
  override protected def nullSafeEval(tokens: Any): Any =
    VectorKernels.shingleHashes(tokens.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.shingleHashes($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Positional 128-bit span fingerprints — array<struct<pos,h,h2>>,
  * one struct per k-token window (see
  * [[VectorKernels.spanFingerprints]]). Stays inside whole-stage
  * codegen; the old HOF spelling was interpreted per position. */
case class SpanFingerprints(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"k must be >= 1, got $k")
  override def dataType: DataType = ArrayType(new StructType()
    .add("pos", IntegerType, nullable = false)
    .add("h", LongType, nullable = false)
    .add("h2", LongType, nullable = false), containsNull = false)
  override def prettyName: String = "graft_span_fingerprints"
  override protected def nullSafeEval(tokens: Any): Any =
    VectorKernels.spanFingerprints(tokens.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.spanFingerprints($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Merged-interval span removal — the [[SpanFingerprints]] rebuild
  * half (see [[VectorKernels.spanFilter]]). */
case class SpanFilter(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  require(k >= 1, s"k must be >= 1, got $k")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_span_filter"
  override protected def nullSafeEval(tokens: Any, spans: Any): Any =
    VectorKernels.spanFilter(
      tokens.asInstanceOf[ArrayData], spans.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, s) => s"graft.functions.VectorKernels.spanFilter($t, $s, $k)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class WinnowFingerprint(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_winnow_fp"
  override protected def nullSafeEval(tokens: Any): Any =
    VectorKernels.winnowFp(tokens.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // result may be null even for non-null input (short docs)
    val c = child.genCode(ctx)
    val code =
      code"""
        ${c.code}
        boolean ${ev.isNull} = true;
        UTF8String ${ev.value} = null;
        if (!${c.isNull}) {
          ${ev.value} = graft.functions.VectorKernels.winnowFp(${c.value}, $n);
          ${ev.isNull} = ${ev.value} == null;
        }"""
    ev.copy(code = code)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Argmax-cosine over a plan-shipped [[CentroidIndex]]: one output id
  * per input vector — the IVF assign step without the corpus × k
  * intermediate (`join(broadcast(centroids), lit(true))` + `max_by`
  * exploded every input row k times before re-aggregating). Stays in
  * whole-stage codegen; the index rides `ctx.addReferenceObj`. */
case class NearestCentroid(child: Expression, index: CentroidIndex)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_nearest_centroid"
  override protected def nullSafeEval(v: Any): Any =
    index.nearest(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("centroidIndex", index,
      classOf[CentroidIndex].getName)
    defineCodeGen(ctx, ev, c => s"$idx.nearest($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Top-`n` nearest centroid ids (cosine desc, id asc) — the IVF probe
  * step as a per-row kernel instead of a corpus × k cross join into a
  * top-k aggregator. */
case class NearestCentroids(child: Expression, index: CentroidIndex, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_nearest_centroids"
  override protected def nullSafeEval(v: Any): Any =
    index.nearestN(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("centroidIndex", index,
      classOf[CentroidIndex].getName)
    defineCodeGen(ctx, ev, c => s"$idx.nearestN($c, $n)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-language Cavnar–Trenkle profile scores for a (lowercased)
  * string — array<int>, one slot per language in profile order. The
  * model rides the plan via `ctx.addReferenceObj` like
  * [[NearestCentroid]]; one kernel pass scores every language. */
case class LangScores(child: Expression, index: LangProfileIndex)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_lang_scores"
  override protected def nullSafeEval(v: Any): Any =
    index.scores(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("langProfileIndex", index,
      classOf[LangProfileIndex].getName)
    defineCodeGen(ctx, ev, c => s"$idx.scores($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** PQ encode: one `m`-code array per vector — the 32×-compressed
  * representation ([[PqCodebook.encode]], L2-argmin per subspace).
  * The codebook rides the plan via `ctx.addReferenceObj` like
  * [[NearestCentroid]]. */
case class PqEncode(child: Expression, cb: PqCodebook)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"
  override protected def nullSafeEval(v: Any): Any =
    cb.encode(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodebook", cb, classOf[PqCodebook].getName)
    defineCodeGen(ctx, ev, c => s"$ref.encode($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-query ADC lookup table (m·ksub sub-dot-products) — computed
  * once per query row, broadcast with it, reused for every candidate
  * by [[AdcDot]]. */
case class PqLut(child: Expression, cb: PqCodebook) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_pq_lut"
  override protected def nullSafeEval(v: Any): Any =
    cb.lut(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodebook", cb, classOf[PqCodebook].getName)
    defineCodeGen(ctx, ev, c => s"$ref.lut($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ADC score of a code array against a query's lut: `m` table adds
  * per candidate — the whole point of PQ scanning. */
case class AdcDot(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_adc_dot"
  override protected def nullSafeEval(codes: Any, lut: Any): Any =
    VectorKernels.adcDot(codes.asInstanceOf[ArrayData],
      lut.asInstanceOf[ArrayData], ksub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (c, l) => s"graft.functions.VectorKernels.adcDot($c, $l, $ksub)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** BPE-encode one word against a plan-shipped [[BpeModel]] —
  * array<string> of subword pieces. Model rides `ctx.addReferenceObj`
  * (the [[NearestCentroid]] discipline); stays in whole-stage codegen. */
case class BpeEncodeWord(child: Expression, model: BpeModel)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_encode"
  override protected def nullSafeEval(w: Any): Any =
    model.encodeData(w.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("bpeModel", model, classOf[BpeModel].getName)
    defineCodeGen(ctx, ev, c => s"$m.encodeData($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Total BPE piece count over a whitespace-token array — the token
  * budget currency for sequence packing, one memoized kernel pass per
  * document. */
case class BpeCountTokens(child: Expression, model: BpeModel)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_bpe_count"
  override protected def nullSafeEval(tokens: Any): Any =
    model.countTokens(tokens.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("bpeModel", model, classOf[BpeModel].getName)
    defineCodeGen(ctx, ev, c => s"$m.countTokens($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"
  override protected def nullSafeEval(tokens: Any): Any =
    VectorKernels.simHash64(tokens.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.simHash64($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-API entry points. */
/** Static text kernels the codegen'd expressions call into. */
object TextKernels {
  private val Forms = java.text.Normalizer.Form.values()

  /** Unicode-normalize one UTF8String. The `isNormalized` quick check
    * makes the already-normalized case (the overwhelming majority of
    * real corpus text) a read-only scan that returns the INPUT object
    * — no String decode round-trip, no allocation — which is what
    * keeps a 100 TB normalization pass cheap where text is clean and
    * pays only where it is not. */
  def normalize(s: UTF8String, formOrdinal: Int): UTF8String = {
    val f = Forms(formOrdinal)
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, f)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, f))
  }
}

/** Unicode normalization (NFC/NFD/NFKC/NFKD) as a codegen'd Catalyst
  * expression — the corpus-cleaning primitive (mojibake-adjacent
  * combining sequences, width/compatibility folds) run inside
  * whole-stage codegen rather than a UDF. Oracle: DuckDB
  * `nfc_normalize` (t16). */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression {
  private val formOrdinal =
    java.text.Normalizer.Form.valueOf(form.toUpperCase(java.util.Locale.ROOT))
      .ordinal
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_normalize"
  override protected def nullSafeEval(a: Any): Any =
    TextKernels.normalize(a.asInstanceOf[UTF8String], formOrdinal)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.normalize($c, $formOrdinal)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Inference-model scoring: all class logits of the broadcast
  * [[LinearModel]] head for one embedding — one codegen'd fused
  * multiply-accumulate per row (t17). Input MUST be array<float>:
  * the kernel reads raw float slots, so a mistyped array<double>
  * column must fail analysis, not silently misread bytes. */
case class ModelLogits(child: Expression, model: LinearModel)
    extends UnaryExpression {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float>, got ${other.catalogString}")
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_model_logits"
  override protected def nullSafeEval(v: Any): Any =
    model.logits(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("linearModel", model,
      classOf[LinearModel].getName)
    defineCodeGen(ctx, ev, c => s"$m.logits($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Argmax class of [[ModelLogits]] without materializing the array —
  * the classifier-label column. */
case class ModelPredict(child: Expression, model: LinearModel)
    extends UnaryExpression {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float>, got ${other.catalogString}")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_model_predict"
  override protected def nullSafeEval(v: Any): Any =
    model.predict(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("linearModel", model,
      classOf[LinearModel].getName)
    defineCodeGen(ctx, ev, c => s"$m.predict($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GraftFunctions {
  private def col(e: Expression): Column = Bridge.column(e)
  private def ex(c: Column): Expression = Bridge.expression(c)

  /** Unicode normalization; `form` ∈ NFC | NFD | NFKC | NFKD. */
  def unicodeNormalize(c: Column, form: String = "NFC"): Column =
    col(UnicodeNormalize(ex(c), form))

  def cosineSim(a: Column, b: Column): Column = col(CosineSim(ex(a), ex(b)))
  def dotProduct(a: Column, b: Column): Column = col(DotProduct(ex(a), ex(b)))
  def vecSum(a: Column): Column = col(VecSum(ex(a)))
  def vecL2Norm(a: Column): Column = col(VecL2Norm(ex(a)))
  def srpSignature(v: Column, bits: Int): Column = col(SrpSignature(ex(v), bits))
  def srpBandChunks(v: Column, bands: Int, bitsPerBand: Int): Column =
    col(SrpBandChunks(ex(v), bands, bitsPerBand))
  def minHashBands(shingles: Column, numHashes: Int, bands: Int): Column =
    col(MinHashBands(ex(shingles), numHashes, bands))
  def shingleHashes(tokens: Column, n: Int): Column =
    col(ShingleHashes(ex(tokens), n))
  def simHash64(tokens: Column): Column = col(SimHash64(ex(tokens)))
  def spanFingerprints(tokens: Column, k: Int): Column =
    col(SpanFingerprints(ex(tokens), k))
  def spanFilter(tokens: Column, spans: Column, k: Int): Column =
    col(SpanFilter(ex(tokens), ex(spans), k))
  def bpeEncodeWord(word: Column, model: BpeModel): Column =
    col(BpeEncodeWord(ex(word), model))
  def bpeCountTokens(tokens: Column, model: BpeModel): Column =
    col(BpeCountTokens(ex(tokens), model))
  def nearestCentroid(v: Column, index: CentroidIndex): Column =
    col(NearestCentroid(ex(v), index))
  def nearestCentroids(v: Column, index: CentroidIndex, n: Int): Column =
    col(NearestCentroids(ex(v), index, n))
  def winnowFingerprint(tokens: Column, n: Int): Column =
    col(WinnowFingerprint(ex(tokens), n))
  def langScores(text: Column, index: LangProfileIndex): Column =
    col(LangScores(ex(text), index))
  def pqEncode(v: Column, cb: PqCodebook): Column = col(PqEncode(ex(v), cb))
  def pqLut(v: Column, cb: PqCodebook): Column = col(PqLut(ex(v), cb))
  def adcDot(codes: Column, lut: Column, ksub: Int): Column =
    col(AdcDot(ex(codes), ex(lut), ksub))
  def modelLogits(v: Column, model: LinearModel): Column =
    col(ModelLogits(ex(v), model))
  def modelPredict(v: Column, model: LinearModel): Column =
    col(ModelPredict(ex(v), model))
}

/** SQL-name registration via SparkSessionExtensions
  * (`spark.sql.extensions=graft.functions.GraftExtensions`): exposes
  * the kernels to pure-SQL users as `graft_cosine(a, b)` etc. */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      (args: Seq[Expression]) => CosineSim(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (args: Seq[Expression]) => SimHash64(args(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_vec_sum"),
      new ExpressionInfo(classOf[VecSum].getName, "graft_vec_sum"),
      (args: Seq[Expression]) => VecSum(args(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_vec_l2norm"),
      new ExpressionInfo(classOf[VecL2Norm].getName, "graft_vec_l2norm"),
      (args: Seq[Expression]) => VecL2Norm(args(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "graft_normalize"),
      (args: Seq[Expression]) => UnicodeNormalize(args(0),
        // optional second arg: a foldable literal form name
        if (args.length > 1)
          args(1).eval(null).asInstanceOf[UTF8String].toString
        else "NFC")))
    // table_changes(name_or_path, start_version [, end_version]) —
    // the Delta CDF table-valued function: row-level changes with
    // _change_type / _commit_version across rewrites, as a plain
    // FROM-clause relation (joinable, filterable). The target is a
    // registered table name (CREATE TABLE ... USING txtable), a
    // graft.<ns>.<name> spelling, or a bare location path.
    ext.injectTableFunction((
      FunctionIdentifier("table_changes"),
      new ExpressionInfo(classOf[graft.core.TxTable].getName, "table_changes"),
      (args: Seq[Expression]) => {
        def str(e: Expression, what: String): String = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
              if v != null => v.toString
          case other => throw new IllegalArgumentException(
            s"table_changes $what must be a literal, got ${other.sql}")
        }
        def long(e: Expression, what: String): Long =
          str(e, what) match {
            case s if s.forall(c => c.isDigit || c == '-') => s.toLong
            case s => throw new IllegalArgumentException(
              s"table_changes $what must be an integer version, got $s")
          }
        require(args.length == 2 || args.length == 3,
          "table_changes(table, start_version[, end_version])")
        val session = org.apache.spark.sql.SparkSession.active
        val target = str(args.head, "table")
        val path =
          if (target.contains("/")) target
          else {
            val key = target.split('.').toSeq match {
              case Seq(c, n) if c.equalsIgnoreCase("graft") => n
              case Seq(c, "default", n) if c.equalsIgnoreCase("graft") => n
              case Seq(c, db, n) if c.equalsIgnoreCase("graft") => s"$db.$n"
              case _ => target
            }
            graft.core.TxCatalog(session).lookup(key).getOrElse(
              throw new IllegalArgumentException(
                s"table_changes: $target is not a registered txtable name"))
          }
        val t = graft.core.TxTable(session, path)
        val from = long(args(1), "start_version")
        val until = if (args.length == 3) Some(long(args(2), "end_version"))
          else None
        org.apache.spark.sql.graft.StreamShims
          .analyzedPlan(t.changeFeed(from, until))
      }))
    // dev-mode sampling over base scans (inert unless
    // spark.graft.devSampleFraction is set) — see plans.DevSampleRule
    ext.injectPostHocResolutionRule(session =>
      new graft.plans.DevSampleRule(session))
    // metadata-answered count(*) over commit-logged tables — zero
    // files opened when the manifest already knows the total
    ext.injectOptimizerRule(session =>
      new graft.plans.MetadataCountRule(session))
    // SQL entry point for commit-logged tables:
    // SELECT ... FROM txtable.`/dir` [VERSION AS OF n]
    ext.injectParser((session, delegate) =>
      new graft.sources.TxSqlParser(session, delegate))
  }
}
