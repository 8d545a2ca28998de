package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

// Sketch signatures (MinHash, SimHash, sign-random-projection) as
// native expressions.
//
// These replace declarative forms built from nested higher-order
// functions (`transform(sequence(0,63), i -> array_min(transform(...,
// s -> hash(s, i))))`), which Spark evaluates interpreted, one lambda
// call per (element × hash). A signature over a 100-token document
// costs 64×100 interpreted evals that way; here it is one `eval` call
// per row with tight JVM loops inside. `CodegenFallback` is deliberate:
// the per-row work (thousands of hash mixes) dwarfs the row-transition
// overhead codegen would save, and the hash loop itself is already
// compiled Java. Every hash is engine-portable (md5 or integer
// arithmetic), so the DuckDB oracles rebuild each signature
// bit-for-bit.

/** ENGINE-PORTABLE string hashing for the sketch signatures, the
  * string-input analog of [[PortableSrpSig]]'s integer-arithmetic
  * weights: every value is a pure function of md5, which any SQL engine
  * can evaluate, so an external oracle can rebuild MinHash/SimHash
  * signatures bit-for-bit (Spark's xxhash64 cannot be reproduced in
  * DuckDB).
  *
  *  - `hex60(s)`  = first 15 hex chars of md5(s) as a long — exactly
  *    `CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)` in Spark
  *    SQL and `CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)` in
  *    DuckDB. 60 bits so the value fits a signed 64-bit int in every
  *    engine (16 chars could exceed 2^63).
  *  - `hex28(s)`  = first 7 hex chars, used only to derive per-slot
  *    affine constants.
  *  - slot i's universal-family hash is `(a_i·x + b_i) mod P` over the
  *    Mersenne prime P = 2^31 − 1 with `a_i, b_i` themselves derived
  *    from md5 of the slot index ("a0", "b0", "a1", …) — no constant
  *    tables to keep in sync between engines, and `a_i < P`, `x < P`
  *    keeps every product under 2^62 (ANSI-mode safe, no overflow).
  *
  * md5 is ~5-10× slower than xxhash64 per short string, but signatures
  * hash each distinct shingle once map-side, so at corpus scale this is
  * a few ns per input byte of linear map work — the price of an
  * engine-portable correctness oracle for the whole LSH pipeline.
  */
object PortableHash {
  /** 2^31 − 1 (Mersenne prime) — the affine-family modulus. */
  val P: Long = 2147483647L

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits (15 hex chars) of md5(bytes), big-endian. */
  def hex60(bytes: Array[Byte]): Long = {
    val d = md.get().digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** First 28 bits (7 hex chars) of md5(bytes), big-endian. */
  def hex28(bytes: Array[Byte]): Long = {
    val d = md.get().digest(bytes)
    (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) >>> 4
  }

  /** Slot i's multiplier: 1 + hex28("a"+i) mod (P−1) ∈ [1, P−1]. */
  def slotA(i: Int): Long = 1L + hex28(("a" + i).getBytes("UTF-8")) % (P - 1)

  /** Slot i's offset: hex28("b"+i) mod P ∈ [0, P). */
  def slotB(i: Int): Long = hex28(("b" + i).getBytes("UTF-8")) % P
}

/** MinHash signature: `minhash_sig(shingles, k)` → `array<long>` where
  * `sig[i] = min over shingles of (a_i·hex60(md5(s)) mod P + b_i) mod P`
  * — the [[PortableHash]] affine universal family over P = 2^31 − 1, so
  * an external SQL engine can recompute the signature (and hence the
  * full LSH candidate set) bit-for-bit from md5 alone.
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
  require(numHashes >= 1, s"minhash_sig needs numHashes >= 1, got $numHashes")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // empty input arrays produce null irrespective of child nullability
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<string>, got ${t.simpleString}")
  }

  // Per-slot affine constants are pure functions of the slot index:
  // materialize once per executor at first use, not per row.
  @transient private lazy val slotA: Array[Long] =
    Array.tabulate(numHashes)(PortableHash.slotA)
  @transient private lazy val slotB: Array[Long] =
    Array.tabulate(numHashes)(PortableHash.slotB)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val total = arr.numElements()
    // md5 every shingle ONCE; per-slot hashes are two integer ops over
    // the reduced base. Null elements contribute nothing.
    val base = new Array[Long](total)
    var n = 0
    var j = 0
    while (j < total) {
      val s = arr.getUTF8String(j)
      if (s != null) {
        base(n) = PortableHash.hex60(s.getBytes) % PortableHash.P
        n += 1
      }
      j += 1
    }
    if (n == 0) return null
    val sig = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      val a = slotA(i)
      val b = slotB(i)
      var min = Long.MaxValue
      var k = 0
      while (k < n) {
        val h = (a * base(k) + b) % PortableHash.P
        if (h < min) min = h
        k += 1
      }
      sig(i) = min
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
  override def prettyName: String = "minhash_sig"
}

/** SimHash: `simhash60(shingles)` → 60-bit signature. Bit b is set iff
  * the sum over shingles of (+1 if bit b of hex60(md5(shingle)) else -1)
  * is positive. 60 bits (not 64) because [[PortableHash.hex60]] is the
  * widest md5 prefix every SQL engine can hold in a signed 64-bit int —
  * the width an external oracle can recompute decides the signature
  * width. Banding slices adjust to 4 × 15 bits ([[graft.operators.Dedup
  * .simhashPairs]]), which preserves the pigeonhole exactness bound for
  * hamming ≤ 3.
  */
case class SimHash60(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  // content-free input (empty / all-null array) yields null, matching
  // MinHashSig — otherwise every empty doc would share signature 0 and
  // collide at hamming 0
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash60 requires array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val bitsums = new Array[Int](SimHash60.Bits)
    var contributed = 0
    var j = 0
    while (j < n) {
      val s = arr.getUTF8String(j)
      if (s != null) {
        contributed += 1
        val h = PortableHash.hex60(s.getBytes)
        var b = 0
        while (b < SimHash60.Bits) {
          if (((h >>> b) & 1L) == 1L) bitsums(b) += 1 else bitsums(b) -= 1
          b += 1
        }
      }
      j += 1
    }
    if (contributed == 0) return null
    var sig = 0L
    var b = 0
    while (b < SimHash60.Bits) {
      if (bitsums(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
  override def prettyName: String = "simhash60"
}

object SimHash60 {
  /** Signature width = the md5 prefix width hex60 exposes. */
  val Bits = 60
}

/** ENGINE-PORTABLE sign-random-projection signature:
  * `srp_sig_portable(embedding, p)` — bit p is the sign of the
  * projection onto pseudo-random hyperplane p, whose weights come from
  * pure integer arithmetic —
  * `w(p,i) = (((p·1024 + i) · 2654435761) mod 2000001 − 1000000) / 10⁶`
  * — so an external SQL engine can recompute the signature bit-for-bit
  * (Spark's xxhash64 cannot be evaluated in DuckDB). This is what
  * lets the bucketed embedding near-dup join keep a hash-checked
  * oracle: both engines derive the same buckets, so the
  * bucket-restricted result sets are comparable.
  *
  * The signature packs one sign bit per plane (bit p = 1 iff the
  * projection onto plane p is ≥ 0, accumulated left-to-right in double —
  * the same fold order as `list_sum`/`aggregate`, which is what makes
  * the sign reproducible). Band keys are then bit-slices of the
  * signature (`shiftright(sig, band·r) & (2^r − 1)`) — derived in plain
  * SQL on both sides.
  *
  * `planeOffset` starts the signature at a later plane of the SAME
  * global weight sequence (bit p = sign of plane `planeOffset + p`), so
  * a geometry wider than 64 total planes — the corpus-derived band
  * refinement [[graft.operators.Dedup.deriveSrpPlanes]] switches to
  * above the oracle ceiling — computes one signature PER BAND instead
  * of bit-slicing one packed long. At the default geometry the per-band
  * form is bit-identical to the packed slices: band b's key is the
  * signs of planes [b·r, b·r + r), either way.
  */
case class PortableSrpSig(child: Expression, numPlanes: Int,
                          planeOffset: Int = 0)
    extends UnaryExpression with CodegenFallback {
  // One bit per plane packed into a single long: >64 planes would wrap
  // the `1L << p` shift mod 64 and silently alias signatures.
  require(numPlanes >= 1 && numPlanes <= 64,
    s"srp_sig_portable needs 1 <= numPlanes <= 64, got $numPlanes")
  require(planeOffset >= 0, s"srp_sig_portable needs planeOffset >= 0, got $planeOffset")
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"srp_sig_portable requires array<float>, got ${t.simpleString}")
  }

  // Weight matrix is a pure function of (plane, dim): materialize once
  // per executor at first use, not per row.
  @transient private lazy val weights: Array[Array[Double]] =
    Array.tabulate(numPlanes, PortableSrpSig.MaxDims) { (p, i) =>
      PortableSrpSig.weight(planeOffset + p, i)
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = math.min(arr.numElements(), PortableSrpSig.MaxDims)
    var sig = 0L
    var p = 0
    while (p < numPlanes) {
      val w = weights(p)
      var proj = 0.0
      var i = 0
      while (i < n) {
        proj += arr.getFloat(i).toDouble * w(i)
        i += 1
      }
      if (proj >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): PortableSrpSig =
    copy(child = newChild)
  override def prettyName: String = "srp_sig_portable"
}

object PortableSrpSig {
  /** Dimensions a signature reads: the weight index `p·1024 + i`
    * encodes dim i below 1024. */
  val MaxDims = 1024

  /** The portable weight formula — kept callable so specs can assert
    * the SQL-side reconstruction matches. Knuth multiplier stride mod a
    * prime-ish modulus: uniform-ish in [-1, 1], zero state to ship. */
  def weight(plane: Int, dim: Int): Double =
    (((plane.toLong * 1024L + dim) * 2654435761L) % 2000001L - 1000000L)
      .toDouble / 1000000.0
}
