package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the dedup/similarity operators
  * (SURVEY §2e). These run inside Tungsten rows — no Scala-UDF
  * serialization boundary — and the scalar ones participate in
  * whole-stage codegen. The computational kernels live as static
  * methods on [[ExprRuntime]], shared verbatim by interpreted
  * `nullSafeEval` and generated (Janino) code — no per-row Expression
  * allocation on either path.
  */
object HashExpressions {

  /** FNV-1a 64-bit over UTF-8 bytes: deterministic, allocation-free,
    * engine-independent (public-domain constants). */
  @inline def fnv1a64(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  def simhash64(c: Column): Column = toCol(SimHash64(toExpr(c)))
  def hammingDistance(a: Column, b: Column): Column = toCol(HammingDistance(toExpr(a), toExpr(b)))
  def rollingShingles(c: Column, k: Int): Column = toCol(RollingShingles(toExpr(c), Literal(k)))
  def cosineSimilarity(a: Column, b: Column): Column = toCol(CosineSimilarity(toExpr(a), toExpr(b)))
  def jaroWinkler(a: Column, b: Column): Column = toCol(JaroWinkler(toExpr(a), toExpr(b)))
  def dotProduct(a: Column, b: Column): Column = toCol(DotProduct(toExpr(a), toExpr(b)))
  def minhashSignature(c: Column, k: Int): Column = toCol(MinHashSignature(toExpr(c), Literal(k)))
  def zorder2(a: Column, b: Column): Column = toCol(ZOrder2(toExpr(a), toExpr(b)))
  def charEntropy(c: Column): Column = toCol(CharEntropy(toExpr(c)))
  def compressRatio(c: Column): Column = toCol(CompressRatio(toExpr(c)))
  def phrasePack(c: Column, phrase: Seq[String]): Column =
    toCol(PhrasePack(toExpr(c), phrase))
  def sqEuclidean(a: Column, b: Column): Column =
    toCol(SqEuclidean(toExpr(a), toExpr(b)))
  def l2Normalize(c: Column): Column = toCol(L2Normalize(toExpr(c)))
  def sqNorm(c: Column): Column = toCol(SqNorm(toExpr(c)))
  def pairMergeFold(c: Column, a: String, b: String): Column =
    toCol(PairMergeFold(toExpr(c), a, b))
  def tokenGrams(c: Column, window: Int, stride: Int = 1,
      cover: Boolean = false): Column =
    toCol(TokenGrams(toExpr(c), window, stride, cover))
  /** The `text` column normalized the way the DuckDB oracles mirror it:
    * trimmed, lowercased, whitespace runs collapsed to one space. */
  def normText: Column = {
    import org.apache.spark.sql.functions.{col, lower, regexp_replace, trim}
    regexp_replace(lower(trim(col("text"))), "\\s+", " ")
  }
  /** [[normText]] split on single spaces: the normalized tokens. */
  def normToks: Column = org.apache.spark.sql.functions.split(normText, " ")
  def gramDigests(c: Column, k: Int, hexLen: Int = 32): Column =
    toCol(GramDigests(toExpr(c), k, hexLen))
  def winnowMins(c: Column, w: Int): Column = toCol(WinnowMins(toExpr(c), w))
  def pairCombos(c: Column): Column = toCol(PairCombos(toExpr(c)))
  def langPredict(c: Column): Column = toCol(LangPredict(toExpr(c)))
  def stopwordCount(c: Column, stops: Seq[String]): Column =
    toCol(StopwordCount(toExpr(c), stops))
  def dsirScore(c: Column, lambdaMicro: Seq[Long]): Column =
    toCol(DsirScore(toExpr(c), lambdaMicro))
  def dsirBuckets(c: Column, m: Int): Column = toCol(DsirBuckets(toExpr(c), m))
  def intersectSize(a: Column, b: Column): Column =
    toCol(IntersectSize(toExpr(a), toExpr(b)))
}

/** 64-bit SimHash over whitespace tokens: per token a 64-bit FNV hash
  * votes ±1 on each bit; the sign of each bit's tally forms the
  * fingerprint. Near-duplicate texts land within a small Hamming ball.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(ExprRuntime.simhash64(input.asInstanceOf[UTF8String]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ExprRuntime.simhash64($c)")
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
  override def prettyName: String = "simhash64"
}

/** Hamming distance between two 64-bit fingerprints: bitCount(a ^ b).
  * Full whole-stage-codegen scalar. */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"java.lang.Long.bitCount($a ^ $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HammingDistance =
    copy(left = l, right = r)
  override def prettyName: String = "hamming_distance"
}

/** Character k-gram rolling-hash shingle set (sorted, distinct): the
  * polynomial hash rolls one byte at a time, so cost is O(len) not
  * O(len·k). Feeds MinHash/Jaccard without materializing substrings.
  */
case class RollingShingles(child: Expression, kExpr: Expression)
    extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = kExpr
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any, kAny: Any): Any =
    ExprRuntime.rollingShingles(input.asInstanceOf[UTF8String],
      kAny.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, k) => s"graft.functions.ExprRuntime.rollingShingles($c, $k)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): RollingShingles =
    copy(child = l, kExpr = r)
  override def prettyName: String = "rolling_shingles"
}

/** Fused cosine similarity over two double arrays: one sequential pass
  * accumulating dot, |a|², |b|² — index order is fixed, which keeps the
  * result bit-stable across engines for oracle comparison. */
/** Jaro-Winkler string similarity — the standard record-linkage name
  * scorer (Winkler 1990): Jaro match/transposition similarity boosted
  * by up to 4 chars of common prefix when the base similarity clears
  * 0.7. Canonical semantics verified value-for-value against DuckDB's
  * `jaro_winkler_similarity` (same 0.7 boost threshold, 0.0 for any
  * empty side), which is what lets JW-scored pairs stay on the DuckDB
  * oracle surface. O(|s|·window) with two small boolean scratch
  * arrays; codegen'd via the static kernel like the other
  * expressions. */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(ExprRuntime.jaroWinkler(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExprRuntime.jaroWinkler($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaroWinkler =
    copy(left = l, right = r)
  override def prettyName: String = "jaro_winkler"
}

case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(ExprRuntime.cosineSimilarity(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExprRuntime.cosineSimilarity($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_similarity"
}

/** Plain dot product over double arrays (used for LSH hyperplane
  * projections). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(ExprRuntime.dotProduct(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExprRuntime.dotProduct($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
  override def prettyName: String = "dot_product"
}


/** MinHash signature in ONE pass over a shingle-hash array: k seeded
  * mix-permutations, all minima tracked simultaneously. Replaces k
  * separate array traversals (the higher-order-function formulation) —
  * O(k·n) arithmetic with zero intermediate allocation.
  */
case class MinHashSignature(child: Expression, kExpr: Expression)
    extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = kExpr
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any, kAny: Any): Any =
    ExprRuntime.minhashSignature(input.asInstanceOf[ArrayData],
      kAny.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, k) => s"graft.functions.ExprRuntime.minhashSignature($c, $k)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): MinHashSignature =
    copy(child = l, kExpr = r)
  override def prettyName: String = "minhash_signature"
}

/** 2-D Z-order (Morton) code: interleaves the low 32 bits of two keys.
  * Sorting/range-partitioning by it clusters rows into 2-D tiles, so
  * parquet files carry tight min/max on BOTH columns and predicates on
  * either prune at file/row-group level — the lakehouse write-layout
  * technique for multi-dimensional scans.
  */
case class ZOrder2(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    ZOrder2.morton(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ZOrder2.morton($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ZOrder2 =
    copy(left = l, right = r)
  override def prettyName: String = "zorder2"
}

object ZOrder2 {
  /** Spread the low 32 bits of v to even bit positions (standard Morton
    * bit-twiddling, public domain). */
  @inline def spread(v: Long): Long = {
    var x = v & 0xffffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }
  def morton(a: Long, b: Long): Long = spread(a) | (spread(b) << 1)
}

/** Shannon entropy (bits) over a string's Unicode code-point
  * distribution, in one pass: the low-entropy tail is keyboard-mash /
  * binary-soup garbage, the high end is random-looking noise — the
  * classic cheap "is this prose" gate a corpus pipeline runs alongside
  * length/stopword filters. Computed natively so the per-row cost is a
  * sort over the doc's code points (no explode → groupBy, whose shuffle
  * volume would be one row per CHARACTER of the corpus).
  */
case class CharEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any =
    java.lang.Double.valueOf(ExprRuntime.charEntropy(input.asInstanceOf[UTF8String]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprRuntime.charEntropy($c)")
  override protected def withNewChildInternal(c: Expression): CharEntropy = copy(c)
  override def prettyName: String = "char_entropy"
}

/** DEFLATE compression ratio of the UTF-8 bytes — the classic
  * repetitiveness/quality signal (template spam and boilerplate
  * compress far below natural prose; CCNet and RefinedWeb both filter
  * on it). compressed_len / raw_len as a double; empty input → 1.0.
  * Deterministic for a given JDK (single-shot DEFLATE of the same
  * bytes at a fixed level) — cross-engine parity is NOT claimed, the
  * query rides rows-only with a spec. Codegen'd via the static
  * kernel like the other expressions; the Deflater is thread-local
  * and reset per row, so the hot loop allocates only the output
  * scratch when a row exceeds the cached buffer. */
case class CompressRatio(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any =
    java.lang.Double.valueOf(ExprRuntime.compressRatio(input.asInstanceOf[UTF8String]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprRuntime.compressRatio($c)")
  override protected def withNewChildInternal(c: Expression): CompressRatio = copy(c)
  override def prettyName: String = "compress_ratio"
}

/** PACKED PHRASE SCAN — the native kernel behind
  * [[graft.operators.Search.phraseSearchNative]]: one pass over the
  * whitespace-tokenized, lowercased text counting every (overlapping)
  * anchor where the token run equals `phrase`, packed as
  * (count << 32) | first 1-based position (0 when absent). One long
  * per row where the declarative twin materializes a position
  * sequence, a lambda filter, and an array per document — same
  * answer (parity-spec-proved against the oracle-checked scan),
  * leaner inner loop. The phrase rides into generated code as a
  * reference object, so the hot path never re-parses it. */
case class PhrasePack(child: Expression, phrase: Seq[String])
    extends UnaryExpression {
  require(phrase.nonEmpty, "empty phrase")
  private val phraseArr: Array[String] = phrase.toArray
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      ExprRuntime.phrasePack(input.asInstanceOf[UTF8String], phraseArr))
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("phrase", phraseArr, "java.lang.String[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ExprRuntime.phrasePack($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): PhrasePack =
    copy(child = c)
  override def prettyName: String = "phrase_pack"
}

/** Squared Euclidean distance over two double arrays, accumulated
  * left-to-right — BIT-IDENTICAL to the declarative
  * `aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0D,
  * (acc, x) -> acc + x)` it replaces (same IEEE op order), but a
  * whole-stage-codegen scalar instead of two interpreted
  * higher-order-function trees per row (guide §4: built-ins/codegen
  * over interpreted expressions in the hot path). */
case class SqEuclidean(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(ExprRuntime.sqEuclidean(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExprRuntime.sqEuclidean($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SqEuclidean =
    copy(left = l, right = r)
  override def prettyName: String = "sq_euclidean"
}

/** Unit (L2) normalization of a double array in ONE pass + divide —
  * BIT-IDENTICAL to the declarative
  * `transform(v, x -> x / sqrt(aggregate(v, 0D, (acc, y) -> acc + y*y)))`
  * (same accumulation order, same IEEE divide; a zero vector divides
  * by 0.0 exactly as SQL does → NaN elements). The HOF form is
  * O(d²) interpreted per row — the inner `aggregate` is loop-invariant
  * but re-evaluated for every `transform` element — so this kernel is
  * the normalization hot-path fix across the ANN family. */
case class L2Normalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ExprRuntime.l2Normalize(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprRuntime.l2Normalize($c)")
  override protected def withNewChildInternal(c: Expression): L2Normalize = copy(c)
  override def prettyName: String = "l2_normalize"
}

/** Squared L2 norm (sum of squares, left-to-right) — the scalar half
  * of [[L2Normalize]]; bit-identical to
  * `aggregate(v, 0D, (acc, y) -> acc + y * y)`. */
case class SqNorm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any =
    java.lang.Double.valueOf(ExprRuntime.sqNorm(input.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprRuntime.sqNorm($c)")
  override protected def withNewChildInternal(c: Expression): SqNorm = copy(c)
  override def prettyName: String = "sq_norm"
}

/** |A ∩ B| as one count — EXACTLY `size(array_intersect(a, b))` (the
  * number of DISTINCT elements of `a` also present in `b`, plus one
  * shared null if both carry one) without materializing the
  * intersection array. `array_intersect` builds an OpenHashSet AND the
  * result array per row only for `size(...)` to immediately discard
  * it — and sitting un-CSE'd inside a join condition it runs twice per
  * candidate. This kernel is one build + probe, no output array: the
  * SSJoin verify hot path (jaccard-prefix / containment / rouge).
  * Supports string- and long-typed elements (dispatch at codegen on the
  * resolved child type). */
case class IntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  private def isStr: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == StringType
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Integer.valueOf(
      if (isStr) ExprRuntime.intersectSizeStr(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      else ExprRuntime.intersectSizeLong(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isStr) "intersectSizeStr" else "intersectSizeLong"
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExprRuntime.$fn($a, $b)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): IntersectSize =
    copy(left = l, right = r)
  override def prettyName: String = "intersect_size"
}

/** Left-to-right non-overlapping merge of adjacent (a, b) token pairs —
  * the BPE rewrite step. Semantics identical to the declarative
  * `aggregate(toks, (out, pend), …)` fold it replaces (same
  * pending-token state machine, merged token "a b", trailing pend
  * flushed), but a single O(n) pass: the SQL fold's `array_append`
  * copies the growing output array per element, making each rewrite
  * O(n²) per row. Codegen'd like [[PhrasePack]], with the pair riding
  * in as reference objects. */
case class PairMergeFold(child: Expression, a: String, b: String)
    extends UnaryExpression {
  private val aU = UTF8String.fromString(a)
  private val bU = UTF8String.fromString(b)
  private val mergedU = UTF8String.fromString(a + " " + b)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ExprRuntime.pairMergeFold(input.asInstanceOf[ArrayData], aU, bU, mergedU)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("pairA", aU,
      "org.apache.spark.unsafe.types.UTF8String")
    val bRef = ctx.addReferenceObj("pairB", bU,
      "org.apache.spark.unsafe.types.UTF8String")
    val mRef = ctx.addReferenceObj("pairMerged", mergedU,
      "org.apache.spark.unsafe.types.UTF8String")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ExprRuntime.pairMergeFold($c, $aRef, $bRef, $mRef)")
  }
  override protected def withNewChildInternal(c: Expression): PairMergeFold =
    copy(child = c)
  override def prettyName: String = "pair_merge_fold"
}

/** Sliding/strided token n-grams as space-joined strings in ONE native
  * pass — the gram-generation core of the dedup/shingle family,
  * replacing the interpreted
  * `transform(sequence(...), i -> array_join(slice(toks, ..., w), ' '))`
  * trees (per-window lambda eval + per-window array slice copies).
  *
  * Two counting modes, matching the two declarative shapes in use:
  *  - `cover = false` (shingles/sliding grams): FULL windows only,
  *    count = (L − window)/stride + 1; EMPTY result when L < window —
  *    identical to the `sequence(0, L − window)` form under the
  *    callers' `size ≥ window` guards, and to the when-guarded form
  *    (empty array) without them.
  *  - `cover = true` (segments/chunks): count =
  *    ceil(max(L − window, 0)/stride) + 1 for L > 0, trailing windows
  *    truncated — identical to the `ceil(size/k)` segment form (when
  *    window == stride) and the chunk form (window ≥ stride).
  * Join semantics are `concat_ws(' ', …)` exactly (split tokens are
  * never null, so array_join and concat_ws coincide). */
case class TokenGrams(child: Expression, window: Int, stride: Int,
    cover: Boolean) extends UnaryExpression {
  require(window > 0 && stride > 0, s"need window/stride > 0, got $window/$stride")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ExprRuntime.tokenGrams(input.asInstanceOf[ArrayData], window, stride, cover)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ExprRuntime.tokenGrams($c, $window, $stride, $cover)")
  override protected def withNewChildInternal(c: Expression): TokenGrams =
    copy(child = c)
  override def prettyName: String = "token_grams"
}

/** MD5 window digests of token k-grams, one native pass — the digest
  * twin of [[TokenGrams]] (full windows, stride 1): element i is the
  * first `hexLen` lowercase hex chars of md5 of the space-joined
  * window starting at i, exactly
  * `transform(sequence(0, size − k), i -> md5(array_join(slice(toks,
  * i + 1, k), ' '))[.substr(1, hexLen)])`. Returns an EMPTY array when
  * the doc has fewer than k tokens (callers that need NULL there —
  * winnow — keep their `when(size ≥ k, …)` guard; a codegen'd scalar
  * must not return null from a non-null input). */
case class GramDigests(child: Expression, k: Int, hexLen: Int)
    extends UnaryExpression {
  require(k > 0 && hexLen > 0 && hexLen <= 32, s"bad k=$k hexLen=$hexLen")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ExprRuntime.gramDigests(input.asInstanceOf[ArrayData], k, hexLen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ExprRuntime.gramDigests($c, $k, $hexLen)")
  override protected def withNewChildInternal(c: Expression): GramDigests =
    copy(child = c)
  override def prettyName: String = "gram_digests"
}

/** Winnowing fingerprint selection (Schleimer et al. 2003): the
  * DISTINCT minima of every w-wide sliding window over a hash array,
  * in first-occurrence order — exactly
  * `array_distinct(transform(sequence(0, greatest(size(hs) − w, 0)),
  * i -> array_min(slice(hs, i + 1, w))))` (binary string ordering,
  * short trailing windows min over what remains), as one native pass
  * instead of an interpreted per-window lambda + slice. */
case class WinnowMins(child: Expression, w: Int) extends UnaryExpression {
  require(w > 0, s"need w > 0, got $w")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ExprRuntime.winnowMins(input.asInstanceOf[ArrayData], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprRuntime.winnowMins($c, $w)")
  override protected def withNewChildInternal(c: Expression): WinnowMins =
    copy(child = c)
  override def prettyName: String = "winnow_mins"
}

/** All ordered index pairs (i < j) of a long array as (u, v) structs —
  * the basket pair-generation core of the co-purchase graph family,
  * replacing the interpreted nested
  * `flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, …),
  * y -> struct(x, y))))` (per-element lambda frames + a slice copy per
  * outer element). Emits the same pairs in the same order. */
case class PairCombos(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("u", LongType, nullable = false),
      StructField("v", LongType, nullable = false))), containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ExprRuntime.pairCombos(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprRuntime.pairCombos($c)")
  override protected def withNewChildInternal(c: Expression): PairCombos =
    copy(child = c)
  override def prettyName: String = "pair_combos"
}

/** Heuristic language ID in ONE text scan — exactly TextAnalysis's
  * declarative marker-count chain (18 `regexp_count` scans per row: 4+5+5+4
  * word markers plus the CJK class). Semantics pinned to java.util.regex:
  * `(?i)\bword\b` matches a maximal [A-Za-z0-9_] run equal to the marker
  * under ASCII case folding (the markers are pure ASCII letters, so a run
  * containing digits/underscore or longer than the marker never matches);
  * the CJK class is the BMP codepoint range 0x4e00–0x9fff and only its
  * PRESENCE feeds the verdict, so the scan may return "zh" on first hit.
  * Tie precedence en > es > de > fr and the "und" zero case mirror the
  * when-chain. Parity with the declarative column is spec-pinned on real
  * corpora and crafted edge texts. */
case class LangPredict(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    ExprRuntime.langPredict(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprRuntime.langPredict($c)")
  override protected def withNewChildInternal(c: Expression): LangPredict =
    copy(child = c)
  override def prettyName: String = "lang_predict"
}

/** Count of tokens exactly equal to one of `stops` — replaces the
  * interpreted `size(filter(toks, t -> t.isInCollection(stops)))`
  * higher-order pair in the quality score (identical counts: bytewise
  * UTF8 equality, tokens are already lower-cased by the caller). */
case class StopwordCount(child: Expression, stops: Seq[String])
    extends UnaryExpression {
  require(stops.nonEmpty, "empty stopword set")
  private val stopsArr: Array[UTF8String] =
    stops.map(UTF8String.fromString).toArray
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    java.lang.Integer.valueOf(
      ExprRuntime.stopwordCount(input.asInstanceOf[ArrayData], stopsArr))
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stops", stopsArr,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ExprRuntime.stopwordCount($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): StopwordCount =
    copy(child = c)
  override def prettyName: String = "stopword_count"
}

/** DSIR importance score in micro-units: Σ over the doc's hashed grams
  * (unigrams then adjacent bigrams, left to right) of
  * `lambdaMicro(bucket)`, bucket = first 24 md5 bits mod m — exactly the
  * declarative `aggregate(concat(t, bigrams), 0L, (s, g) ->
  * s + element_at(lam, pmod(conv(substring(md5(g), 1, 6), 16, 10), m) + 1))`
  * fold (same md5 bytes, same big-endian 24-bit bucket, same integer sum
  * with overflow throwing like ANSI), without the per-gram interpreted
  * md5-hex → substring → base-16 conv → pmod chain. */
case class DsirScore(child: Expression, lambdaMicro: Seq[Long])
    extends UnaryExpression {
  require(lambdaMicro.nonEmpty, "empty lambda table")
  private val lamArr: Array[Long] = lambdaMicro.toArray
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      ExprRuntime.dsirScore(input.asInstanceOf[ArrayData], lamArr))
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lam", lamArr, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ExprRuntime.dsirScore($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): DsirScore =
    copy(child = c)
  override def prettyName: String = "dsir_score"
}

/** The per-gram bucket array feeding DSIR's model histograms — one
  * native pass emitting `bucketOf(gram)` for the same gram sequence as
  * [[DsirScore]] (the fit side explodes + counts these). */
case class DsirBuckets(child: Expression, m: Int) extends UnaryExpression {
  require(m > 0, s"need m > 0, got $m")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ExprRuntime.dsirBuckets(input.asInstanceOf[ArrayData], m)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprRuntime.dsirBuckets($c, $m)")
  override protected def withNewChildInternal(c: Expression): DsirBuckets =
    copy(child = c)
  override def prettyName: String = "dsir_buckets"
}

/** Static computational kernels, the single source of truth for both
  * evaluation paths: the case classes' `nullSafeEval` delegates here and
  * generated (Janino) code calls the same static forwarders — hot loops
  * allocate nothing per row on either path. A separate object (not
  * companions): companion-object forwarders would collide with the case
  * classes' inherited `eval(InternalRow)` and never get a static
  * forwarder, breaking whole-stage codegen compilation.
  */
object ExprRuntime {

  private val deflaters = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION,
        true)
  }
  private val deflateBuf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](1 << 16)
  }

  /** |A ∩ B| kernels; see [[IntersectSize]]. One membership set built
    * over `b`, probed by `a` with remove-on-hit (removal makes repeated
    * `a` elements count once — `array_intersect`'s distinct semantics);
    * a null element counts once iff both sides carry one. */
  def intersectSizeStr(a: ArrayData, b: ArrayData): Int = {
    val nb = b.numElements()
    val set = new java.util.HashSet[UTF8String](math.max(4, nb * 2))
    var bNull = false
    var i = 0
    while (i < nb) {
      if (b.isNullAt(i)) bNull = true
      else set.add(b.getUTF8String(i))
      i += 1
    }
    var cnt = 0
    var aNullCounted = false
    val na = a.numElements()
    i = 0
    while (i < na) {
      if (a.isNullAt(i)) {
        if (bNull && !aNullCounted) { cnt += 1; aNullCounted = true }
      } else if (set.remove(a.getUTF8String(i))) cnt += 1
      i += 1
    }
    cnt
  }

  def intersectSizeLong(a: ArrayData, b: ArrayData): Int = {
    val nb = b.numElements()
    val set = new java.util.HashSet[java.lang.Long](math.max(4, nb * 2))
    var bNull = false
    var i = 0
    while (i < nb) {
      if (b.isNullAt(i)) bNull = true
      else set.add(java.lang.Long.valueOf(b.getLong(i)))
      i += 1
    }
    var cnt = 0
    var aNullCounted = false
    val na = a.numElements()
    i = 0
    while (i < na) {
      if (a.isNullAt(i)) {
        if (bNull && !aNullCounted) { cnt += 1; aNullCounted = true }
      } else if (set.remove(java.lang.Long.valueOf(a.getLong(i)))) cnt += 1
      i += 1
    }
    cnt
  }

  /** DEFLATE ratio kernel; see [[CompressRatio]]. */
  def compressRatio(raw: UTF8String): Double = {
    val bytes = raw.getBytes
    if (bytes.length == 0) return 1.0
    val d = deflaters.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    var buf = deflateBuf.get()
    if (buf.length < bytes.length + 64) {
      buf = new Array[Byte](bytes.length + 64)
      deflateBuf.set(buf)
    }
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    total.toDouble / bytes.length
  }

  /** Canonical Jaro-Winkler; see [[JaroWinkler]]. Operates on the
    * decoded strings (char-level, like DuckDB) rather than UTF-8
    * bytes — a multi-byte code point must count as one position. */
  def jaroWinkler(aRaw: UTF8String, bRaw: UTF8String): Double = {
    val a = aRaw.toString
    val b = bRaw.toString
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val aMatch = new Array[Boolean](la)
    val bMatch = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bMatch(j) && a.charAt(i) == b.charAt(j)) {
          aMatch(i) = true; bMatch(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: matched chars out of relative order, halved
    var halfT = 0
    var j = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(j)) j += 1
        if (a.charAt(i) != b.charAt(j)) halfT += 1
        j += 1
      }
      i += 1
    }
    val md = m.toDouble
    // transpositions FLOOR the half-count (rapidfuzz/DuckDB semantics,
    // also Winkler's original tables) — the continuous halfT/2.0 was
    // measured to diverge from DuckDB on odd half-counts
    val jaro = (md / la + md / lb + (md - (halfT / 2)) / md) / 3.0
    if (jaro > 0.7) {
      val maxL = math.min(4, math.min(la, lb))
      var l = 0
      while (l < maxL && a.charAt(l) == b.charAt(l)) l += 1
      jaro + l * 0.1 * (1.0 - jaro)
    } else jaro
  }

  def simhash64(s: UTF8String): Long = {
    val bytes = s.getBytes
    val tally = new Array[Int](64)
    var start = 0
    var i = 0
    val n = bytes.length
    while (i <= n) {
      val isSpace = i == n || bytes(i) == ' ' || bytes(i) == '\n' ||
        bytes(i) == '\t' || bytes(i) == '\r'
      if (isSpace) {
        if (i > start) {
          val h = HashExpressions.fnv1a64(bytes, start, i)
          var j = 0
          while (j < 64) {
            if (((h >>> j) & 1L) == 1L) tally(j) += 1 else tally(j) -= 1
            j += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) {
      if (tally(j) > 0) fp |= (1L << j)
      j += 1
    }
    fp
  }

  def rollingShingles(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val B = 1000000007L
    var pow = 1L // B^(k-1)
    var i = 1
    while (i < k) { pow *= B; i += 1 }
    val out = new java.util.TreeSet[java.lang.Long]()
    var h = 0L
    i = 0
    while (i < n) {
      h = h * B + (bytes(i) & 0xffL)
      if (i >= k) h -= pow * B * (bytes(i - k) & 0xffL)
      if (i >= k - 1) out.add(h)
      i += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next(); j += 1 }
    new GenericArrayData(arr)
  }

  def cosineSimilarity(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = a.getDouble(i); val yi = b.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  def dotProduct(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += a.getDouble(i) * b.getDouble(i); i += 1 }
    dot
  }

  /** Squared Euclidean distance; see [[SqEuclidean]]. Left-to-right
    * accumulation — the same op order as the aggregate/zip_with form. */
  def sqEuclidean(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Sum of squares, left-to-right; see [[SqNorm]]. */
  def sqNorm(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = a.getDouble(i); s += x * x; i += 1 }
    s
  }

  private val md5s = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val hexDigits = "0123456789abcdef".toCharArray

  /** Token n-gram kernel; see [[TokenGrams]]. */
  def tokenGrams(toks: ArrayData, window: Int, stride: Int,
      cover: Boolean): ArrayData = {
    val n = toks.numElements()
    val count =
      if (!cover) { if (n < window) 0 else (n - window) / stride + 1 }
      else if (n == 0) 0
      else (math.max(n - window, 0) + stride - 1) / stride + 1
    if (count <= 0) return new GenericArrayData(Array.empty[Any])
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i < n) { parts(i) = toks.getUTF8String(i); i += 1 }
    val space = UTF8String.fromString(" ")
    val out = new Array[AnyRef](count)
    var j = 0
    while (j < count) {
      val start = j * stride
      val len = math.min(window, n - start)
      val slice = new Array[UTF8String](len)
      System.arraycopy(parts, start, slice, 0, len)
      out(j) = UTF8String.concatWs(space, slice: _*)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** MD5 window-digest kernel; see [[GramDigests]]. Hashes the exact
    * UTF-8 bytes of the space-joined window without materializing the
    * joined string. */
  def gramDigests(toks: ArrayData, k: Int, hexLen: Int): ArrayData = {
    val n = toks.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val bytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { bytes(i) = toks.getUTF8String(i).getBytes; i += 1 }
    val md = md5s.get()
    val out = new Array[AnyRef](n - k + 1)
    var j = 0
    while (j <= n - k) {
      md.reset()
      var t = j
      while (t < j + k) {
        if (t > j) md.update(' '.toByte)
        md.update(bytes(t))
        t += 1
      }
      val d = md.digest()
      val hex = new Array[Byte](hexLen)
      var h = 0
      while (h < hexLen) {
        val b = d(h >> 1) & 0xff
        hex(h) = hexDigits(if ((h & 1) == 0) b >> 4 else b & 0xf).toByte
        h += 1
      }
      out(j) = UTF8String.fromBytes(hex)
      j += 1
    }
    new GenericArrayData(out)
  }

  // language-marker codes: a ≤3-char lowercase ASCII word run packs
  // into (c0 | c1<<8 | c2<<16 | len<<24); value = language index
  private val langMarkers: java.util.HashMap[Integer, Integer] = {
    val m = new java.util.HashMap[Integer, Integer]()
    def add(words: Seq[String], lang: Int): Unit = words.foreach { w =>
      var code = w.length << 24
      var i = 0
      while (i < w.length) { code |= w.charAt(i) << (i * 8); i += 1 }
      m.put(code, lang)
    }
    add(Seq("the", "and", "of", "is"), 0)
    add(Seq("el", "la", "los", "que", "y"), 1)
    add(Seq("der", "die", "das", "und", "ist"), 2)
    add(Seq("le", "les", "des", "est", "et"), 3)
    m
  }
  private val langNames = Array("en", "es", "de", "fr").map(UTF8String.fromString)
  private val langZh = UTF8String.fromString("zh")
  private val langUnd = UTF8String.fromString("und")

  /** Language-ID kernel; see [[LangPredict]]. Word runs follow Java's
    * `\b` boundary matcher, which (unlike `\w`!) is Unicode-aware even
    * without UNICODE_CHARACTER_CLASS: a word codepoint is `_` or
    * `Character.isLetterOrDigit` — so "theé" is ONE run and matches no
    * marker. Only pure a–z/A–Z runs can equal a marker; any digit,
    * underscore or non-ASCII word codepoint poisons its run. */
  def langPredict(text: UTF8String): UTF8String = {
    val s = text.toString
    val cnt = new Array[Long](4)
    val n = s.length
    var i = 0
    var runLen = 0
    var code = 0
    var poisoned = false
    def flush(): Unit = {
      if (!poisoned && runLen >= 1 && runLen <= 3) {
        val lang = langMarkers.get(code | runLen << 24)
        if (lang != null) cnt(lang) += 1
      }
      runLen = 0
      code = 0
      poisoned = false
    }
    while (i < n) {
      val cp = s.codePointAt(i)
      // CJK presence short-circuits the verdict (the first when-branch)
      if (cp >= 0x4e00 && cp <= 0x9fff) return langZh
      if (cp == '_' || Character.isLetterOrDigit(cp)) {
        runLen += 1
        val ascii = (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z')
        if (!ascii) poisoned = true // can never equal an ASCII marker
        else if (runLen <= 3) {
          // folding only A-Z mirrors (?i)'s ASCII case folding
          val lc = if (cp >= 'A' && cp <= 'Z') cp + 32 else cp
          code |= lc << ((runLen - 1) * 8)
        }
      } else flush()
      i += Character.charCount(cp)
    }
    flush()
    val best = math.max(math.max(cnt(0), cnt(1)), math.max(cnt(2), cnt(3)))
    if (best == 0L) langUnd
    else if (cnt(0) == best) langNames(0)
    else if (cnt(1) == best) langNames(1)
    else if (cnt(2) == best) langNames(2)
    else langNames(3)
  }

  /** Stopword-count kernel; see [[StopwordCount]]. */
  def stopwordCount(toks: ArrayData, stops: Array[UTF8String]): Int = {
    val n = toks.numElements()
    var cnt = 0
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      var j = 0
      var hit = false
      while (j < stops.length && !hit) {
        if (stops(j).equals(t)) hit = true
        j += 1
      }
      if (hit) cnt += 1
      i += 1
    }
    cnt
  }

  /** First 24 md5 bits mod m — DSIR's engine-stable gram bucket
    * (= `pmod(conv(substring(md5(g), 1, 6), 16, 10), m)`). */
  private def dsirBucket(d: Array[Byte], m: Int): Int =
    (((d(0) & 0xff) << 16) | ((d(1) & 0xff) << 8) | (d(2) & 0xff)) % m

  /** DSIR score kernel; see [[DsirScore]]. Unigrams then adjacent
    * bigrams, left to right; Math.addExact mirrors the ANSI sum. */
  def dsirScore(toks: ArrayData, lam: Array[Long]): Long = {
    val n = toks.numElements()
    val md = md5s.get()
    val bytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { bytes(i) = toks.getUTF8String(i).getBytes; i += 1 }
    var sum = 0L
    i = 0
    while (i < n) {
      md.reset()
      md.update(bytes(i))
      sum = Math.addExact(sum, lam(dsirBucket(md.digest(), lam.length)))
      i += 1
    }
    i = 1
    while (i < n) {
      md.reset()
      md.update(bytes(i - 1))
      md.update(' '.toByte)
      md.update(bytes(i))
      sum = Math.addExact(sum, lam(dsirBucket(md.digest(), lam.length)))
      i += 1
    }
    sum
  }

  /** DSIR bucket-array kernel; see [[DsirBuckets]]. */
  def dsirBuckets(toks: ArrayData, m: Int): ArrayData = {
    val n = toks.numElements()
    val md = md5s.get()
    val bytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { bytes(i) = toks.getUTF8String(i).getBytes; i += 1 }
    val out = new Array[Any](if (n >= 2) 2 * n - 1 else n)
    i = 0
    while (i < n) {
      md.reset()
      md.update(bytes(i))
      out(i) = dsirBucket(md.digest(), m).toLong
      i += 1
    }
    i = 1
    while (i < n) {
      md.reset()
      md.update(bytes(i - 1))
      md.update(' '.toByte)
      md.update(bytes(i))
      out(n + i - 1) = dsirBucket(md.digest(), m).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Ordered-pair kernel; see [[PairCombos]]. */
  def pairCombos(ps: ArrayData): ArrayData = {
    val n = ps.numElements()
    val out = new Array[AnyRef](n * (n - 1) / 2)
    var o = 0
    var i = 0
    while (i < n) {
      val u = ps.getLong(i)
      var j = i + 1
      while (j < n) {
        out(o) = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](u, ps.getLong(j)))
        o += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Winnow window-minima kernel; see [[WinnowMins]]. Naive O(L·w)
    * scan (w is small); distinct preserves first-occurrence order via
    * value-hashed UTF8Strings — the array_distinct contract. */
  def winnowMins(hs: ArrayData, w: Int): ArrayData = {
    val n = hs.numElements()
    if (n == 0)
      return new GenericArrayData(Array.empty[Any])
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i < n) { parts(i) = hs.getUTF8String(i); i += 1 }
    val count = math.max(n - w, 0) + 1
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var j = 0
    while (j < count) {
      var min = parts(j)
      var t = j + 1
      val end = math.min(j + w, n)
      while (t < end) {
        if (parts(t).compareTo(min) < 0) min = parts(t)
        t += 1
      }
      seen.add(min)
      j += 1
    }
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** BPE pair-merge fold kernel; see [[PairMergeFold]]. One pass, one
    * output buffer — the state machine of the declarative fold. */
  def pairMergeFold(toks: ArrayData, a: UTF8String, b: UTF8String,
      merged: UTF8String): ArrayData = {
    val n = toks.numElements()
    val out = new Array[AnyRef](n)
    var len = 0
    var pend: UTF8String = null
    var i = 0
    while (i < n) {
      val x = toks.getUTF8String(i)
      if (pend != null && pend.equals(a) && x != null && x.equals(b)) {
        out(len) = merged; len += 1; pend = null
      } else if (pend == null) pend = x
      else { out(len) = pend; len += 1; pend = x }
      i += 1
    }
    if (pend != null) { out(len) = pend; len += 1 }
    new GenericArrayData(if (len == n) out
      else java.util.Arrays.copyOf(out, len))
  }

  /** Unit normalization; see [[L2Normalize]]. The divide is the same
    * IEEE op as the SQL `x / sqrt(...)`; a ZERO vector throws like the
    * ANSI-mode declarative divide does (Spark 4 default
    * spark.sql.ansi.enabled=true errors on double division by zero) —
    * same crash-on-degenerate-input outcome, so the kernel cannot
    * silently emit NaN rows where the declarative form failed the
    * query. An empty array normalizes to an empty array (no division
    * runs), also matching the declarative form. */
  def l2Normalize(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val norm = math.sqrt(sqNorm(a))
    if (norm == 0.0 && n > 0)
      throw new ArithmeticException(
        "[DIVIDE_BY_ZERO] l2_normalize of a zero vector (ANSI division by zero)")
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = a.getDouble(i) / norm; i += 1 }
    new GenericArrayData(out)
  }

  /** Entropy in bits over code points: decode, sort, one run-length
    * pass. Sorting fixes the summation order, so the result is
    * bit-stable across partitionings and thread counts. */
  def charEntropy(s: UTF8String): Double = {
    val str = s.toString
    val len = str.length
    if (len == 0) return 0.0
    val cps = new Array[Int](str.codePointCount(0, len))
    var i = 0
    var j = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      cps(j) = cp
      j += 1
      i += Character.charCount(cp)
    }
    val n = cps.length
    java.util.Arrays.sort(cps)
    val ln2 = math.log(2.0)
    var ent = 0.0
    var runStart = 0
    var k = 1
    while (k <= n) {
      if (k == n || cps(k) != cps(runStart)) {
        val p = (k - runStart).toDouble / n
        ent -= p * (math.log(p) / ln2)
        runStart = k
      }
      k += 1
    }
    ent
  }

  def minhashSignature(a: ArrayData, k: Int): ArrayData = {
    val n = a.numElements()
    val mins = Array.fill[Long](k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = a.getLong(i)
      var j = 0
      while (j < k) {
        // splitmix64 finalizer over (shingle ^ per-permutation seed)
        var h = s ^ (0x9e3779b97f4a7c15L * (j + 1))
        h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
        h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
        h = h ^ (h >>> 31)
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Packed phrase scan kernel; see [[PhrasePack]]. Tokenization
    * matches the declarative scan's `split(lower(trim(text)), "\s+")`
    * EXACTLY by reusing the same UTF8String primitives Spark's own
    * trim/lower compile to: `UTF8String.trim()` strips only space
    * (U+0020) — unlike `java.lang.String.trim`, which also strips
    * \t/\n/\r and would DROP the leading empty token the SQL split
    * keeps on tab-prefixed docs, shifting first_pos — and
    * `UTF8String.toLowerCase()` is the identical lowercase path
    * (ASCII fast path, default-locale fallback) as SQL `lower`. */
  def phrasePack(text: UTF8String, phrase: Array[String]): Long = {
    val toks = text.trim().toLowerCase().toString.split("\\s+", -1)
    val k = phrase.length
    var count = 0L
    var first = 0L
    var i = 0
    val last = toks.length - k
    while (i <= last) {
      var j = 0
      while (j < k && toks(i + j) == phrase(j)) j += 1
      if (j == k) {
        count += 1
        if (first == 0L) first = i + 1L
      }
      i += 1
    }
    (count << 32) | first
  }
}
