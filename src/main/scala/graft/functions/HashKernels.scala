package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Shared bits for kernels over `array<long>` shingle hashes. */
trait LongArrayKernel extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint>, got ${other.simpleString}")
  }
}

/** Static kernels — JVM-static entry points shared by the interpreted
  * `nullSafeEval` path and the generated code (the expressions inline a
  * single static call via `defineCodeGen`, keeping the enclosing
  * whole-stage span; per-expression constants like salts/signs ride in
  * as `addReferenceObj` references). */
object HashKernels {
  /** splitmix64 finalizer — a strong, branchless 64-bit mixer (public
    * domain constant set; Steele et al., "Fast splittable pseudorandom
    * number generators"). */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic per-function salts (fixed seed → identical on every
    * executor and run). */
  def salts(numHashes: Int): Array[Long] = {
    val rnd = new java.util.SplittableRandom(0x67726166744c5348L) // "graftLSH"
    Array.fill(numHashes)(rnd.nextLong())
  }

  /** MinHash signature body: `sig[i] = min over h of mix64(h + salt_i)`.
    * NULL elements are skipped, not hashed-as-0: containsNull inputs
    * (SQL-built arrays) would otherwise make unrelated documents share
    * the mix64(salt) signature component. Returns the unboxed
    * [[UnsafeArrayData]] copy of the `long[]`. */
  def minhashSignature(hs: ArrayData, salts: Array[Long]): ArrayData = {
    val n = hs.numElements()
    val out = Array.fill(salts.length)(Long.MaxValue)
    var j = 0
    while (j < n) {
      if (!hs.isNullAt(j)) {
        val h = hs.getLong(j)
        var i = 0
        while (i < salts.length) {
          val v = mix64(h + salts(i))
          if (v < out(i)) out(i) = v
          i += 1
        }
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** SimHash body: 64-bit per-bit majority vote. NULL elements are
    * skipped — an all-zero vote would otherwise make every NULL-bearing
    * document drift toward simhash 0. */
  def simhash64(hs: ArrayData): Long = {
    val n = hs.numElements()
    val votes = new Array[Int](64)
    var j = 0
    while (j < n) {
      if (!hs.isNullAt(j)) {
        val h = hs.getLong(j)
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) != 0L) votes(i) += 1 else votes(i) -= 1
          i += 1
        }
      }
      j += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) {
      if (votes(i) > 0) out |= (1L << i)
      i += 1
    }
    out
  }

  /** SRP bucket body: bit p = sign of the ±1-plane projection. NULL
    * elements contribute 0 (skipped) instead of reading a garbage float
    * from the null slot. */
  def srpBucket(v: ArrayData, signs: Array[Boolean], planes: Int,
      dim: Int): Long = {
    val n = math.min(dim, v.numElements())
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var s = 0.0
      val off = p * dim
      var d = 0
      while (d < n) {
        if (!v.isNullAt(d)) {
          val x = v.getFloat(d).toDouble
          if (signs(off + d)) s += x else s -= x
        }
        d += 1
      }
      if (s > 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }
}

/**
 * MinHash signature kernel: `sig[i] = min over shingle hashes h of
 * mix64(h + salt_i)` — one compiled double loop, no per-element lambda
 * interpretation or intermediate arrays (the declarative
 * aggregate/zip_with formulation allocates a 64-wide array per shingle).
 */
case class MinHashSignature(child: Expression, numHashes: Int)
  extends LongArrayKernel {

  require(numHashes >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  @transient private lazy val salts = HashKernels.salts(numHashes)

  override def nullSafeEval(input: Any): Any =
    HashKernels.minhashSignature(input.asInstanceOf[ArrayData], salts)

  /** Real codegen (CodegenFallback through round 11's start — boxed
    * `eval` dispatch per row in the MinHash-LSH scans): one static
    * invoke of the shared kernel, salts pinned as a reference object. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val saltsRef = ctx.addReferenceObj("minhashSalts", salts, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.minhashSignature($c, $saltsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/**
 * Sign-random-projection bucket kernel over an `array<float>` embedding:
 * bit p of the result = sign of `Σ_d (±1)·vec[d]`, with the ±1 plane
 * components derived from mix64(p·dim + d) parity — deterministic, no
 * stored model, one compiled double loop (the declarative nested-lambda
 * form interprets planes × dims element evaluations per row).
 */
case class SrpBucket(child: Expression, planes: Int, dim: Int)
  extends UnaryExpression {

  require(planes >= 1 && planes <= 63)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float>, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "srp_bucket"

  /** Plane-component signs are a pure function of (p, d) — identical on
    * every row — so they are materialized ONCE per executor instead of
    * paying planes x dim mix64 evaluations per row (6144 per row at the
    * 8x768 default on an embedding scan). Same values: bit i =
    * mix64(i) & 1 for i = p*dim + d, exactly what the loop computed. */
  @transient private lazy val signs: Array[Boolean] = {
    val arr = new Array[Boolean](planes * dim)
    var i = 0
    while (i < arr.length) {
      arr(i) = (HashKernels.mix64(i.toLong) & 1L) != 0L
      i += 1
    }
    arr
  }

  override def nullSafeEval(input: Any): Any =
    HashKernels.srpBucket(input.asInstanceOf[ArrayData], signs, planes, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val signsRef = ctx.addReferenceObj("srpSigns", signs, "boolean[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.srpBucket($c, $signsRef, $planes, $dim)")
  }

  override protected def withNewChildInternal(newChild: Expression): SrpBucket =
    copy(child = newChild)
}

/**
 * SimHash kernel: 64-bit per-bit majority vote over shingle hashes,
 * folded into one BIGINT — one compiled loop (the declarative form
 * interprets 64 lambda evaluations per shingle).
 */
case class SimHash64(child: Expression)
  extends LongArrayKernel {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    HashKernels.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
