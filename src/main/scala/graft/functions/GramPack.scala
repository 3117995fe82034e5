package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bijective positional packing of a fixed-length 7-bit-clean string
  * slice into ONE long: bytes [lo, hi] of the input (0-based, hi - lo
  * <= 8) read directly off the UTF8String buffer and folded base-128.
  *
  * Purpose (r16, guide §2.3 narrower types): a k-gram used purely as
  * join/group IDENTITY — never output — can cross the exchange as two
  * longs instead of a k-char string, halving key bytes and replacing
  * string hashing with long hashing in every keyed operator downstream.
  * This is NOT a hash: for equal slice bounds the mapping is injective
  * on 7-bit-per-byte strings (canonical fold output [a-z0-9 ] here), so
  * packed equality IS string equality — exactness is structural, no
  * collision argument needed. The SQL-built-ins spelling
  * (ascii(substring(...)) x k) was measured 2x slower from document
  * text (per-char substring re-scans the string for multibyte safety)
  * and still net-slower from the gram itself; reading bytes is O(1).
  *
  * A byte with the high bit set is outside that alphabet and would
  * collide with its low seven bits, so it fails loudly instead (as
  * [[HexPack]] does for a non-hex byte).
  *
  * CodegenFallback: the surrounding stage stays whole-stage-codegen'd
  * (the MinHashSignature precedent); eval reads <= 8 bytes.
  */
case class GramPack(child: Expression, lo: Int, hi: Int)
    extends UnaryExpression with CodegenFallback {
  require(lo >= 0 && hi >= lo - 1 && hi - lo < 8,
    s"GramPack packs at most 8 bytes, got [$lo, $hi]")

  override def dataType: DataType = LongType
  override def prettyName: String = "gram_pack"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"gram_pack expects STRING, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes
    var v = 0L
    var i = lo
    while (i <= hi) {
      // beyond-end bytes fold as 0: only reachable when hi >= k for a
      // k-byte gram, which the caller never does (bounds follow k)
      val b = if (i < n) s.getByte(i) else 0
      if (b < 0) throw new IllegalArgumentException(
        s"gram_pack: non-7-bit byte ${b & 0xff} at $i in '$s'")
      v = (v << 7) | b
      i += 1
    }
    v
  }

  override protected def withNewChildInternal(newChild: Expression): GramPack =
    copy(child = newChild)
}

/** [[GramPack]]'s 4-bit sibling for HEX identities: bytes [lo, hi] of a
  * lowercase-hex string (hi - lo <= 16, e.g. one md5 half) fold into one
  * long at 4 bits per char — bijective on hex strings, so packed
  * equality IS string equality. Used by winnow pair detection, whose
  * fingerprint is an md5-hex prefix consumed purely as join/group
  * identity. A non-hex byte is a caller bug (the fingerprint is md5
  * output by construction) and fails loudly rather than colliding.
  */
case class HexPack(child: Expression, lo: Int, hi: Int)
    extends UnaryExpression with CodegenFallback {
  require(lo >= 0 && hi >= lo - 1 && hi - lo < 16,
    s"HexPack packs at most 16 hex chars, got [$lo, $hi]")

  override def dataType: DataType = LongType
  override def prettyName: String = "hex_pack"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hex_pack expects STRING, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes
    var v = 0L
    var i = lo
    while (i <= hi) {
      val b = if (i < n) s.getByte(i).toInt else '0'
      val nib =
        if (b >= '0' && b <= '9') b - '0'
        else if (b >= 'a' && b <= 'f') b - 'a' + 10
        else throw new IllegalArgumentException(
          s"hex_pack: non-hex byte ${b.toChar} at $i in '$s'")
      v = (v << 4) | nib
      i += 1
    }
    v
  }

  override protected def withNewChildInternal(newChild: Expression): HexPack =
    copy(child = newChild)
}
