package graft.expr

import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash band keys: `minhash_bands(tokens, bands, rowsPerBand)`
  * maps a doc's `split(text, ' ')` token array to its `bands` band keys —
  * the signature [[graft.queries.Llm.minhashBandRows]] posts.
  *
  * Per row: the bigram shingles ([[graft.queries.Llm.shingleRows]]'
  * rule — adjacent tokens joined by one space, nulls skipped like
  * `concat_ws`, a one-token doc shingles as itself, an empty array as "")
  * each hashed once per seed as `md5(<seed letter>:<gram>)`; hash h is the
  * minimum over shingles of 8-hex slice h%4 of seed h/4's digest; band b's
  * key is the md5 hex of its `rowsPerBand` minima concatenated as hex.
  * Identical to the explode → `min(substring(md5))` → group-by form it
  * replaced: a lowercase-hex slice orders like its unsigned 32-bit value,
  * so the minimum is taken over ints and formatted once per band.
  *
  * Why an Expression: the group-by form shuffled every shingle of the
  * input (string `min` cannot hash-aggregate, so it planned two sort
  * aggregates around an exchange), and a higher-order-function form runs
  * its lambdas interpreted. The kernel is one codegen'd call per row, so
  * the signature stage is map-only.
  *
  * Null tokens → null (no shingles, no keys). */
case class MinhashBands(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(bands >= 1 && rowsPerBand >= 1,
    s"minhash_bands needs bands, rowsPerBand >= 1, got $bands, $rowsPerBand")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_bands requires array<string>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "minhash_bands"

  override def nullSafeEval(input: Any): Any =
    LshKernels.minhashBands(input.asInstanceOf[ArrayData], bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.expr.LshKernels.minhashBands($a, $bands, $rowsPerBand)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native random-hyperplane LSH buckets: `rp_buckets(embedding, bands,
  * bits)` maps a float or double vector to its `bands` bucket ints — the
  * buckets [[graft.queries.Llm.rpBandBuckets]] emits. Bit j of bucket b is
  * set when the vector's dot with hyperplane (b, j) is positive, the
  * hyperplane's coefficient at coordinate `pos` being +1 when
  * `xxhash64(b, j, pos)` is even and −1 otherwise.
  *
  * Identical to the posexplode → grouped `sum` form it replaced: each dot
  * starts at 0.0 and adds the signed coordinates in coordinate order
  * (the order the grouped sum applied them — all of one vector's rows came
  * from one input partition), skipping null elements as `sum` does; NaN
  * counts as positive, as in Spark's comparison. The ±1 table is cached
  * per (bands, bits, dimension).
  *
  * Null vector → null; an empty vector has all-zero buckets
  * ([[graft.queries.Llm.rpBandBuckets]] drops empty vectors first, as the
  * grouped form emitted no row for them). */
case class RpBuckets(child: Expression, bands: Int, bits: Int)
    extends UnaryExpression {
  require(bands >= 1 && bits >= 1 && bits <= 31,
    s"rp_buckets needs bands >= 1 and 1 <= bits <= 31, got $bands, $bits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rp_buckets requires array<float> or array<double>, got ${other.catalogString}")
  }

  private def isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "rp_buckets"

  override def nullSafeEval(input: Any): Any =
    LshKernels.rpBuckets(input.asInstanceOf[ArrayData], isFloat, bands, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.expr.LshKernels.rpBuckets($a, $isFloat, $bands, $bits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The row kernels behind [[MinhashBands]] and [[RpBuckets]], shared by
  * their interpreted and generated paths. */
object LshKernels {
  private val md5 =
    ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))
  private val hexDigits = "0123456789abcdef".getBytes(US_ASCII)

  private def hexInto(bytes: Array[Byte], from: Int, n: Int,
                      out: Array[Byte], at: Int): Unit = {
    var i = 0
    while (i < n) {
      val v = bytes(from + i) & 0xff
      out(at + 2 * i) = hexDigits(v >>> 4)
      out(at + 2 * i + 1) = hexDigits(v & 0xf)
      i += 1
    }
  }

  def minhashBands(tokens: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val md = md5.get()
    val nHashes = bands * rowsPerBand
    val nSeeds = (nHashes + 3) / 4
    val prefixes = Array.tabulate(nSeeds)(s =>
      (('a' + s).toChar.toString + ":").getBytes(UTF_8))
    val n = tokens.numElements()
    val tok = Array.tabulate(n)(i =>
      if (tokens.isNullAt(i)) null else tokens.getUTF8String(i).getBytes)
    val mins = Array.fill(nHashes)(Long.MaxValue)
    val digest = new Array[Byte](16)
    def shingle(a: Array[Byte], b: Array[Byte]): Unit = {
      var s = 0
      while (s < nSeeds) {
        md.update(prefixes(s))
        if (a != null) md.update(a)
        if (a != null && b != null) md.update(' '.toByte)
        if (b != null) md.update(b)
        md.digest(digest, 0, 16)
        var h = 4 * s
        while (h < nHashes && h < 4 * s + 4) {
          val o = 4 * (h % 4)
          val v = ((digest(o) & 0xffL) << 24) | ((digest(o + 1) & 0xffL) << 16) |
            ((digest(o + 2) & 0xffL) << 8) | (digest(o + 3) & 0xffL)
          if (v < mins(h)) mins(h) = v
          h += 1
        }
        s += 1
      }
    }
    if (n >= 2) {
      var i = 0
      while (i < n - 1) { shingle(tok(i), tok(i + 1)); i += 1 }
    } else shingle(if (n == 1) tok(0) else null, null)
    val concat = new Array[Byte](8 * rowsPerBand)
    val word = new Array[Byte](4)
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var r = 0
      while (r < rowsPerBand) {
        val v = mins(b * rowsPerBand + r)
        word(0) = (v >>> 24).toByte; word(1) = (v >>> 16).toByte
        word(2) = (v >>> 8).toByte; word(3) = v.toByte
        hexInto(word, 0, 4, concat, 8 * r)
        r += 1
      }
      md.update(concat)
      md.digest(digest, 0, 16)
      val hexKey = new Array[Byte](32)
      hexInto(digest, 0, 16, hexKey, 0)
      out(b) = UTF8String.fromBytes(hexKey)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** ±1.0 hyperplane coefficients, laid out `[pos][b * bits + j]`. */
  private val signTables = new ConcurrentHashMap[(Int, Int, Int), Array[Double]]()

  private def signs(bands: Int, bits: Int, dim: Int): Array[Double] =
    signTables.computeIfAbsent((bands, bits, dim), _ => {
      val w = bands * bits
      val t = new Array[Double](dim * w)
      for (pos <- 0 until dim; b <- 0 until bands; j <- 0 until bits) {
        val h = XXH64.hashInt(pos, XXH64.hashInt(j, XXH64.hashInt(b, 42L)))
        t(pos * w + b * bits + j) = if ((h & 1L) == 0L) 1.0 else -1.0
      }
      t
    })

  def rpBuckets(v: ArrayData, isFloat: Boolean, bands: Int, bits: Int): ArrayData = {
    val dim = v.numElements()
    val w = bands * bits
    val t = signs(bands, bits, dim)
    val dots = new Array[Double](w)
    var pos = 0
    while (pos < dim) {
      if (!v.isNullAt(pos)) {
        val x = if (isFloat) v.getFloat(pos).toDouble else v.getDouble(pos)
        val base = pos * w
        var k = 0
        while (k < w) { dots(k) += t(base + k) * x; k += 1 }
      }
      pos += 1
    }
    val out = new Array[Int](bands)
    var b = 0
    while (b < bands) {
      var bkt = 0
      var j = 0
      while (j < bits) {
        val d = dots(b * bits + j)
        if (d > 0.0 || java.lang.Double.isNaN(d)) bkt |= 1 << j
        j += 1
      }
      out(b) = bkt
      b += 1
    }
    ArrayData.toArrayData(out)
  }
}
