package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for the ARRAY<FLOAT> dot product — the hot
  * inner loop of similarity search.
  *
  * Rationale (extension preference order: composed ops → native Expression
  * → custom plan): the composed form
  * `aggregate(zip_with(a,b,(x,y)->x*y), 0d, (acc,v)->acc+v)` is
  * semantically right but higher-order functions evaluate interpreted, one
  * lambda dispatch per element. This expression whole-stage-codegens to a
  * tight primitive loop — same left-to-right double accumulation, so
  * results are bit-identical to the HOF form (and to any engine's
  * left-to-right fold over the DOUBLE-widened elements, which is what the
  * DuckDB oracle's pinned list_reduce computes), just faster.
  */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_f expects (ARRAY<FLOAT>, ARRAY<FLOAT>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  // Length mismatch or any null element yields NULL — same contract as
  // the HOF zip_with/aggregate form this replaces (zip_with pads with
  // null, and a null element poisons the sum). Truncating or skipping
  // instead would silently rank malformed vectors with a plausible
  // partial score.
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override def nullable: Boolean = true

  private def elementsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  })

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      // null-element guard only generated when the schema admits null
      // elements — the common containsNull=false corpus keeps the tight
      // branch-free loop
      val nullGuard =
        if (elementsNullable)
          s"""if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"""
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullGuard
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductFloat =
    copy(left = newLeft, right = newRight)
}

/** Packed nearest-centroid argmax over a FOLDABLE centroid table — the
  * coarse-quantizer assignment loop as ONE expression per vector instead
  * of an n × nLists row explosion.
  *
  * Rationale (the r12 sf10 lesson): `scoreAgainstCentroids` +
  * `nearestCentroid` spell the argmax as crossJoin(broadcast(centroids))
  * + hash-aggregate — n × nLists materialized rows, each carrying both
  * code arrays. At fixed nLists=16 that is invisible; with the
  * nLists ∝ corpus lever engaged it turns the assignment O(n²/320) in
  * ROWS (sf10: 200k × 625 = 125M wide rows, 770s measured). The
  * centroid table is catalog-sized by contract (nLists <= 65536), so it
  * rides into the expression as literal arrays and the argmax runs as a
  * JIT-compiled primitive loop per row — identical arithmetic, zero row
  * multiplication, and the n·nLists distance computations execute at
  * FLOP speed rather than row-pipeline speed.
  *
  * Arithmetic is REPLICATED BIT-FOR-BIT from the dataflow form (the
  * DuckDB oracle recomputes it): dot = left-to-right double fold of
  * CAST(p)·CAST(q); cm = floor(dot / (vqn·cqn) · 1e6 + 0.5) as BIGINT;
  * selection key = cm·65536 − centroid_id (the packed max_by). Returns
  * the packed key; callers recover centroid_id = pmod(−packed, 65536)
  * and cm = (packed + centroid_id) DIV 65536 — exact because the
  * contract requires 0 <= centroid_id < 65536.
  *
  * children: (code ARRAY<BIGINT>, vqn DOUBLE, csums ARRAY<ARRAY<BIGINT>>,
  * cqns ARRAY<DOUBLE>, ids ARRAY<BIGINT>) — the last three must be
  * foldable (literals); they decode once per executor instance.
  */
/** Shared analysis-time validation of a literal centroid-id array for the
  * packed-key expressions: ids must be a non-NULL array, contain no NULL
  * elements, and each id must fit the `cm*65536 - id` packed key (callers
  * decode `centroid_id = pmod(-key, 65536)`, so anything outside
  * [0, 65536) corrupts the ranking silently). Element-wise `isNullAt`
  * BEFORE any bulk conversion: `ArrayData.toLongArray()` on an array
  * literal with a NULL element throws during analysis instead of
  * returning the clean TypeCheckFailure this validation exists for.
  */
private[functions] object CentroidIdCheck {
  def check(prettyName: String, ids: Any): TypeCheckResult = {
    if (ids == null)
      return TypeCheckResult.TypeCheckFailure(s"$prettyName: ids must not be NULL")
    val arr = ids.asInstanceOf[ArrayData]
    var i = 0
    while (i < arr.numElements()) {
      if (arr.isNullAt(i))
        return TypeCheckResult.TypeCheckFailure(
          s"$prettyName: ids must not contain NULL elements (element $i is NULL)")
      val id = arr.getLong(i)
      if (id < 0L || id >= 65536L)
        return TypeCheckResult.TypeCheckFailure(
          s"$prettyName: centroid ids must be in [0, 65536) for the " +
            s"packed cm*65536 - id key, got $id")
      i += 1
    }
    TypeCheckResult.TypeCheckSuccess
  }
}

case class NearestCentroidPacked(children: Seq[Expression])
    extends Expression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"

  private def codeChild = children(0)
  private def vqnChild = children(1)

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = children.length == 5 &&
      (codeChild.dataType match { case ArrayType(LongType, _) => true; case _ => false }) &&
      vqnChild.dataType == DoubleType &&
      (children(2).dataType match {
        case ArrayType(ArrayType(LongType, _), _) => true; case _ => false }) &&
      (children(3).dataType match { case ArrayType(DoubleType, _) => true; case _ => false }) &&
      (children(4).dataType match { case ArrayType(LongType, _) => true; case _ => false })
    if (!ok) TypeCheckResult.TypeCheckFailure(
      "nearest_centroid expects (ARRAY<BIGINT>, DOUBLE, ARRAY<ARRAY<BIGINT>>, ARRAY<DOUBLE>, ARRAY<BIGINT>)")
    else if (!children.drop(2).forall(_.foldable))
      TypeCheckResult.TypeCheckFailure(
        "nearest_centroid's centroid table arguments must be literals")
    else {
      // same packed-key contract as top_centroids_f: callers decode
      // centroid_id = pmod(−key, 65536), so out-of-range ids corrupt the
      // argmax silently — fail at analysis time instead.
      CentroidIdCheck.check("nearest_centroid", children(4).eval(null))
    }
  }

  @transient private lazy val mat: Array[Array[Long]] = {
    val ad = children(2).eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(i => ad.getArray(i).toLongArray())
  }
  @transient private lazy val nrm: Array[Double] =
    children(3).eval(null).asInstanceOf[ArrayData].toDoubleArray()
  @transient private lazy val idv: Array[Long] =
    children(4).eval(null).asInstanceOf[ArrayData].toLongArray()

  /** The per-row loop, shared by eval and the generated code (which
    * calls it through an addReferenceObj handle — the loop body itself
    * is JIT-compiled Scala either way).
    */
  def bestPacked(code: ArrayData, vqn: Double): Long = {
    val nc = mat.length
    var best = Long.MinValue
    var j = 0
    while (j < nc) {
      val m = mat(j)
      var acc = 0.0
      var i = 0
      val n = m.length
      while (i < n) {
        acc += code.getLong(i).toDouble * m(i).toDouble
        i += 1
      }
      val cm = math.floor(acc / (vqn * nrm(j)) * 1000000d + 0.5d).toLong
      val key = cm * 65536L - idv(j)
      if (key > best) best = key
      j += 1
    }
    best
  }

  /** Empty centroid table => NULL (same as max_by over zero rows). */
  def hasCentroids: Boolean = mat.nonEmpty

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val c = codeChild.eval(input)
    val v = vqnChild.eval(input)
    if (c == null || v == null || !hasCentroids) null
    else bestPacked(c.asInstanceOf[ArrayData], v.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("nearestCentroid", this,
      classOf[NearestCentroidPacked].getName)
    val codeGen = codeChild.genCode(ctx)
    val vqnGen = vqnChild.genCode(ctx)
    ev.copy(code =
      code"""
        ${codeGen.code}
        ${vqnGen.code}
        boolean ${ev.isNull} = ${codeGen.isNull} || ${vqnGen.isNull} || !$ref.hasCentroids();
        long ${ev.value} = -1L;
        if (!${ev.isNull}) {
          ${ev.value} = $ref.bestPacked(${codeGen.value}, ${vqnGen.value});
        }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NearestCentroidPacked =
    copy(children = newChildren)
}

/** FLOAT-space top-k centroid selection over a FOLDABLE centroid table —
  * [[NearestCentroidPacked]]'s lesson applied to the first-N (untrained)
  * quantizer, generalized from argmax to top-k:
  *
  * the first-N IVF paths score vectors against centroids in raw
  * embedding space (`scoreMicrosFromNorms` over `dot_f`), spelled as
  * crossJoin(broadcast(centroids)) — n × nLists materialized rows, each
  * carrying the full float payload, plus (for probes) a corpus-wide
  * row_number window. Invisible at the pinned nLists=16; with the
  * AutoNLists lever (nLists ∝ corpus) it is the exact quadratic-in-rows
  * blowup r12 measured at 770s on sf10's assignment. This expression
  * runs the whole selection as one JIT-compiled primitive loop per
  * vector: dot = left-to-right double fold of (double)a·(double)b
  * (dot_f's fold, bit-identical), cm = floor(dot/(vnorm·cnorm)·1e6+0.5)
  * as BIGINT, ranking by the packed key cm·65536 − centroid_id (the
  * max_by / row_number(cm DESC, id ASC) ordering, exact because ids are
  * < 65536 by contract). Returns the top-k centroid_ids in rank order;
  * k=1 is assignment, k=nProbe is the probe list.
  *
  * children: (vec ARRAY<FLOAT>, vnorm DOUBLE, cmat ARRAY<ARRAY<FLOAT>>,
  * cnorms ARRAY<DOUBLE>, ids ARRAY<BIGINT>, k INT) — the last four must
  * be foldable (literals).
  */
case class TopCentroidsFloat(children: Seq[Expression])
    extends Expression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "top_centroids_f"

  private def vecChild = children(0)
  private def vnormChild = children(1)

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = children.length == 6 &&
      (vecChild.dataType match { case ArrayType(FloatType, _) => true; case _ => false }) &&
      vnormChild.dataType == DoubleType &&
      (children(2).dataType match {
        case ArrayType(ArrayType(FloatType, _), _) => true; case _ => false }) &&
      (children(3).dataType match { case ArrayType(DoubleType, _) => true; case _ => false }) &&
      (children(4).dataType match { case ArrayType(LongType, _) => true; case _ => false }) &&
      children(5).dataType == IntegerType
    if (!ok) TypeCheckResult.TypeCheckFailure(
      "top_centroids_f expects (ARRAY<FLOAT>, DOUBLE, ARRAY<ARRAY<FLOAT>>, ARRAY<DOUBLE>, ARRAY<BIGINT>, INT)")
    else if (!children.drop(2).forall(_.foldable))
      TypeCheckResult.TypeCheckFailure(
        "top_centroids_f's centroid table and k arguments must be literals")
    else {
      // the packed key is cm·65536 − centroid_id and callers recover the
      // id with pmod(−key, 65536): ids outside [0, 65536) would silently
      // corrupt the ranking, and k < 1 would blow up the insertion
      // buffer. The function is user-callable from SQL, so the contract
      // is enforced HERE (analysis time, literals are evaluable) rather
      // than trusted to internal call sites.
      val kv = children(5).eval(null)
      if (kv == null || kv.asInstanceOf[Int] < 1)
        TypeCheckResult.TypeCheckFailure(
          s"top_centroids_f: k must be >= 1, got $kv")
      else
        CentroidIdCheck.check("top_centroids_f", children(4).eval(null))
    }
  }

  @transient private lazy val mat: Array[Array[Float]] = {
    val ad = children(2).eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(i => ad.getArray(i).toFloatArray())
  }
  @transient private lazy val nrm: Array[Double] =
    children(3).eval(null).asInstanceOf[ArrayData].toDoubleArray()
  @transient private lazy val idv: Array[Long] =
    children(4).eval(null).asInstanceOf[ArrayData].toLongArray()
  @transient private lazy val kk: Int =
    children(5).eval(null).asInstanceOf[Int]

  /** Per-row loop, shared by eval and generated code (addReferenceObj
    * handle — JIT-compiled Scala either way): score every centroid,
    * keep the top-k packed keys by insertion (k is small — nProbe or 1;
    * cost nc·(dim + k)).
    */
  def topIds(vec: ArrayData, vnorm: Double): ArrayData = {
    val nc = mat.length
    val k = math.min(kk, nc)
    val keys = new Array[Long](k)
    val ids = new Array[Long](k)
    var filled = 0
    var j = 0
    while (j < nc) {
      val m = mat(j)
      var acc = 0.0
      var i = 0
      val n = m.length
      while (i < n) {
        acc += vec.getFloat(i).toDouble * m(i).toDouble
        i += 1
      }
      val cm = math.floor(acc / (vnorm * nrm(j)) * 1000000d + 0.5d).toLong
      val key = cm * 65536L - idv(j)
      if (filled < k || key > keys(filled - 1)) {
        var p = math.min(filled, k - 1)
        while (p > 0 && keys(p - 1) < key) {
          keys(p) = keys(p - 1); ids(p) = ids(p - 1); p -= 1
        }
        keys(p) = key; ids(p) = idv(j)
        if (filled < k) filled += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(ids, filled))
  }

  def hasCentroids: Boolean = mat.nonEmpty

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vecChild.eval(input)
    val n = vnormChild.eval(input)
    if (v == null || n == null || !hasCentroids) null
    else topIds(v.asInstanceOf[ArrayData], n.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("topCentroids", this,
      classOf[TopCentroidsFloat].getName)
    val vecGen = vecChild.genCode(ctx)
    val nGen = vnormChild.genCode(ctx)
    ev.copy(code =
      code"""
        ${vecGen.code}
        ${nGen.code}
        boolean ${ev.isNull} = ${vecGen.isNull} || ${nGen.isNull} || !$ref.hasCentroids();
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = $ref.topIds(${vecGen.value}, ${nGen.value});
        }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopCentroidsFloat =
    copy(children = newChildren)
}

/** Saturating bucket-count summary of a shingle SET — the fixed-width
  * side-car that lets the prefix-filter verify join prune candidates
  * without touching the full string arrays.
  *
  * children: (shingles ARRAY<STRING>, buckets INT foldable). Output is a
  * BINARY of exactly `buckets` bytes where byte b = min(255, |{s ∈
  * shingles : murmur3(s) mod buckets = b}|) — a multiset histogram of the
  * hashed shingles. For any two docs, Σ_b min(cA[b], cB[b]) is a PROVABLE
  * upper bound on |A ∩ B| (every common shingle lands in the same bucket
  * on both sides), so a threshold test evaluated on the bound instead of
  * the true intersection can only over-admit, never drop a true pair —
  * the exactness argument [[Dedup.prefixFilterJaccard]]'s pre-verify
  * rests on. Saturation at 255 only distorts the bound when BOTH sides
  * saturate the same bucket (min of one exact count and one floor is
  * still exact), which requires both docs to carry >= 256 shingles;
  * callers pass such pairs straight to the exact verify.
  *
  * 100 TB shape: computed once per document at corpus size (one murmur3 +
  * one increment per shingle), then the 31M-candidate verify join at sf10
  * streams `buckets` bytes per side instead of the ~1.2 KB string arrays
  * — the attach-payload-late move, summary edition.
  */
case class JaccardSummaryBytes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "jacc_summary"

  override def checkInputDataTypes(): TypeCheckResult = {
    val okL = left.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (!okL || right.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"jacc_summary expects (ARRAY<STRING>, INT), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure("jacc_summary's bucket count must be a literal")
    else {
      val b = right.eval(null)
      if (b == null || b.asInstanceOf[Int] < 1 || b.asInstanceOf[Int] > 65536)
        TypeCheckResult.TypeCheckFailure(
          s"jacc_summary: buckets must be in [1, 65536], got $b")
      else TypeCheckResult.TypeCheckSuccess
    }
  }

  @transient private lazy val buckets: Int = right.eval(null).asInstanceOf[Int]

  /** Per-document loop, shared by eval and generated code (JIT-compiled
    * Scala either way). A null ELEMENT yields a null summary — the
    * conservative contract: callers must route null-summary pairs to the
    * exact verify, so a malformed doc can weaken pruning but never
    * correctness.
    */
  def summarize(arr: ArrayData): Array[Byte] = {
    val out = new Array[Byte](buckets)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val s = arr.getUTF8String(i)
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32
        .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42)
      val b = ((h % buckets) + buckets) % buckets
      if ((out(b) & 0xFF) < 255) out(b) = (out(b) + 1).toByte
      i += 1
    }
    out
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    summarize(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jaccSummary", this,
      classOf[JaccardSummaryBytes].getName)
    nullSafeCodeGen(ctx, ev, (a, _) => {
      s"""
         |${ev.value} = $ref.summarize($a);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSummaryBytes =
    copy(left = newLeft, right = newRight)
}

/** Σ_b min(a[b], b[b]) over two unsigned-byte BINARY histograms — the
  * intersection upper bound [[JaccardSummaryBytes]] documents, as the
  * candidate-volume hot loop (one call per candidate PAIR), so it
  * whole-stage-codegens to a tight primitive loop like dot_f. Length
  * mismatch yields NULL (summaries built with different bucket counts are
  * not comparable); callers treat NULL as "cannot prune".
  */
case class MinSumBytes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "minsum_b"

  override def checkInputDataTypes(): TypeCheckResult = {
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minsum_b expects (BINARY, BINARY), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    if (x.length != y.length) return null
    var acc = 0
    var i = 0
    while (i < x.length) {
      val xa = x(i) & 0xFF
      val xb = y(i) & 0xFF
      acc += (if (xa < xb) xa else xb)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val xa = ctx.freshName("xa")
      val xb = ctx.freshName("xb")
      s"""
         |if ($a.length != $b.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $acc = 0;
         |  for (int $i = 0; $i < $a.length; $i++) {
         |    int $xa = $a[$i] & 0xFF;
         |    int $xb = $b[$i] & 0xFF;
         |    $acc += ($xa < $xb) ? $xa : $xb;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinSumBytes =
    copy(left = newLeft, right = newRight)
}
