package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass loop behind [[PolyTokenHashes]] — kept on a plain object so
  * generated code reaches it through the static forwarder.
  *
  * Semantics are EXACTLY the HOF chain it replaces
  * (`transform(split(text, " "), t -> fold over split(t, "") of
  * (a*131 + ascii(c)) % 2^48)`), which the DuckDB oracles replay:
  * split-on-space keeps empty tokens (hash 0), characters are code points
  * (surrogate pairs kept whole, matching regex-split + `ascii`), and the
  * fold is 48-bit modular.
  */
object PolyHashOps {
  private final val M = 281474976710656L // 2^48

  def tokenHashes(s: UTF8String): ArrayData = {
    val str = s.toString
    var spaces = 0
    var i = 0
    while (i < str.length) {
      if (str.charAt(i) == ' ') spaces += 1
      i += 1
    }
    val out = new Array[Long](spaces + 1)
    var k = 0
    var acc = 0L
    i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      if (cp == 32) { out(k) = acc; k += 1; acc = 0L }
      else acc = (acc * 131L + cp) % M
      i += Character.charCount(cp)
    }
    out(k) = acc
    new GenericArrayData(out)
  }

  /** Whole-string 48-bit code-point fold — the unit hash behind
    * `portableUniform` (sampling, splits, DP noise, bootstrap weights).
    * Semantics are EXACTLY the HOF chain it replaces
    * (`aggregate(filter(split(key, ""), c != ""), 0L,
    * (a, c) -> (a*131 + ascii(c)) % 2^48)`): every code point including
    * spaces participates, empty string folds to 0.
    */
  def stringHash(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 131L + cp) % M
      i += Character.charCount(cp)
    }
    acc
  }
}

/** Native whole-string 48-bit polynomial hash (see
  * [[PolyHashOps.stringHash]]): one codegen'd pass where the HOF chain
  * runs an interpreted lambda per character — on the hot seeded-uniform
  * paths (group splits, temperature sampling, DP release, bootstrap
  * replicates at B× the corpus) this is the per-row inner loop.
  * Custom-operator tier (b); the DuckDB oracle replays are unaffected
  * because the values are identical (TextFunctionsSpec pins native ==
  * HOF).
  */
case class PolyStringHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "poly_string_hash"

  override def nullSafeEval(input: Any): Any =
    PolyHashOps.stringHash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.PolyHashOps.stringHash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Single-pass loop behind [[HashedShingles]]. Semantics are EXACTLY the
  * HOF chain (`array_distinct(transform(wordNGrams(text, n), s ->
  * xxhash64(s)))`): split on the single-space regex with limit -1 (empty
  * tokens kept), shingle = n consecutive tokens joined with one space,
  * hash = Spark's own XxHash64Function at the default seed 42, distinct
  * keeps first-occurrence order like `array_distinct`.
  */
object ShingleOps {
  def hashedShingles(s: UTF8String, n: Int): ArrayData = {
    val toks = s.toString.split(" ", -1)
    if (toks.length < n) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        UTF8String.fromString(sb.toString), StringType, 42L))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
}

/** Native distinct word-shingle xxhash64 hashes — the minhash/Jaccard
  * pipelines' unit set, computed in one pass per row instead of the
  * wordNGrams/array_join/slice/transform HOF tree (one interpreted lambda
  * per shingle). Values are bit-identical (same split regex semantics,
  * same XxHash64 seed), asserted against the retained HOF spec.
  */
case class HashedShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, "shingle width must be positive")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "hashed_shingles"

  override def nullSafeEval(input: Any): Any =
    ShingleOps.hashedShingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ShingleOps.hashedShingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native 48-bit polynomial per-token hash: `array<long>`, one value per
  * space-separated token of the input, each the code-point fold
  * (acc*131 + cp) % 2^48. The portable-hash family's unit operation
  * (fingerprints, simhash votes, minhash shingles) — the HOF composition
  * evaluated one interpreted lambda per character; this walks the string
  * once inside whole-stage codegen (measured ~10x on the token-hash
  * stage). Values are identical, so the DuckDB oracle replay of q13e /
  * q13f / q17b is unaffected.
  *
  * Custom-operator tier (b): a scalar Expression; the operators above it
  * stay declarative.
  */
case class PolyTokenHashes(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "poly_token_hashes"

  override def nullSafeEval(input: Any): Any =
    PolyHashOps.tokenHashes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.PolyHashOps.tokenHashes($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PolyHashOpsMinhash {
  /** All-permutations minhash minima in ONE pass: for each element h of
    * the (already mod-p-reduced) hash array, update every permutation's
    * running minimum of (a_j*h + b_j) % p. Replaces numHashes separate
    * array traversals of interpreted lambdas. Empty input -> empty
    * signature (the "no shingles, never a candidate" contract). Null
    * elements are SKIPPED — treated as absent shingles, like `array_min`
    * ignoring the nulls `transform` propagates — rather than read as 0,
    * which is what an unguarded getLong would silently do. (An ALL-null
    * array yields MaxValue minima rather than the HOF's null slots; no
    * caller produces null hashes, the guard exists so a future one fails
    * loudly in Jaccard verification rather than silently bucket-matching
    * everything on b_j.)
    */
  def signature(hm: ArrayData, as: Array[Long], bs: Array[Long], p: Long): ArrayData = {
    val n = hm.numElements()
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val k = as.length
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!hm.isNullAt(i)) {
        val h = hm.getLong(i)
        var j = 0
        while (j < k) {
          val v = (as(j) * h + bs(j)) % p
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** Native minhash signature: `array<long>` of one minimum per permutation
  * over literal (a, b) coefficient pairs in the Mersenne-31 space. The
  * HOF shape (`array(array_min(transform(hm, ...)) * numHashes)`)
  * re-traverses the hash array once per permutation with interpreted
  * lambdas; this updates all permutation minima in a single pass inside
  * whole-stage codegen. Arithmetic is identical ((a*h + b) % p on
  * nonnegative operands == pmod), so signatures — and every LSH bucket
  * and oracle value derived from them — are bit-equal.
  *
  * Input MUST already be reduced mod p (MinHashDedup's signature
  * projection wraps it in a `pmod` transform); coefficients and p ride
  * along as expression parameters, reaching generated code via
  * reference objects.
  */
case class MinHashSignature(
    child: Expression, as: Seq[Long], bs: Seq[Long], p: Long)
    extends UnaryExpression {
  require(as.length == bs.length && as.nonEmpty, "coefficient seqs must match")

  private lazy val asArr = as.toArray
  private lazy val bsArr = bs.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint>, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any =
    PolyHashOpsMinhash.signature(input.asInstanceOf[ArrayData], asArr, bsArr, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("minhashAs", asArr, "long[]")
    val bsRef = ctx.addReferenceObj("minhashBs", bsArr, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.PolyHashOpsMinhash.signature($c, $asRef, $bsRef, ${p}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PolyHashExpressions {
  /** Column-API surface for the native expression. */
  def polyTokenHashes(text: Column): Column =
    ColumnBridge.column(PolyTokenHashes(ColumnBridge.expression(text)))

  /** Column-API surface for the one-pass minhash signature. */
  def minhashSignature(hm: Column, as: Seq[Long], bs: Seq[Long], p: Long): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(hm), as, bs, p))

  /** Column-API surface for the one-pass hashed shingles. */
  def hashedShingles(text: Column, n: Int): Column =
    ColumnBridge.column(HashedShingles(ColumnBridge.expression(text), n))

  /** Column-API surface for the native whole-string fold. */
  def polyStringHash(text: Column): Column =
    ColumnBridge.column(PolyStringHash(ColumnBridge.expression(text)))
}
