package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Array-native PQ/IVF codec expressions over `array<long>` lattice
  * vectors against a FROZEN, parameter-bounded geometry (coarse
  * centroids ≤ `cells`·dims longs, PQ codebooks ≤ m·ks·dsub longs —
  * index METADATA, never data-sized), carried as plain driver arrays
  * inside the expression.
  *
  * Exists because the join-based forms — broadcast-join the codebook
  * onto dims×-exploded lattice rows, partial-aggregate the dot
  * products, argmin via `min_by` — pay two Exchanges per assignment
  * over rows that are dims× the corpus, per build stage and per Lloyd
  * round ([[graft.ops.Similarity]] r16 profile: nearly every ANN key
  * job-count bound). Each expression here is one codegen'd primitive
  * loop per VECTOR, so coarse assign, residual, and per-subspace code
  * assignment all become map-side work and the only remaining shuffle
  * in a PQ build is the tiny per-round centroid update aggregate.
  *
  * Arithmetic is IDENTICAL to the join forms — the same exact-integer
  * lattice terms (`Σce² − 2·Σxe·ce`), the same tie rule (lowest id
  * wins: ids iterate ascending with a strict `<`, mirroring
  * `min_by(struct(term, id))`), and long addition is associative and
  * commutative even on overflow — so results are bit-identical under
  * the driver's hash gates. Fixed dims: every centroid has the length
  * its constructor names (the coarse dims, or `dsub`), and every kernel
  * rejects a vector of any other length, so each position pairs with
  * exactly one centroid coordinate, like the equi-join on `pos`.
  *
  * Operator code builds these as Columns through the typed builders
  * of [[graft.functions]] (`cellAsg`, `cellRanks`, `cellResidual`,
  * `pqCodes`, `pqDist2`); the geometry stays typed `Array[Long]` inside
  * the node (cells·dims + m·ks·dsub longs for the standard
  * dims=64/cells=16/m=8/ks=16 geometry) and has no SQL name.
  */
object PqCodec {

  /** Shared exact-integer argmin: index into `cents`/`cn2` (iterated
    * ascending, strict `<` — ties keep the earliest = lowest id) of
    * `cn2(i) − 2·dot(xs[off..], cents(i))`; the callers' length checks
    * keep `off + cents(i).length` within `xs`.
    */
  private[functions] def argmin(xs: ArrayData, off: Int,
                                cents: Array[Array[Long]],
                                cn2: Array[Long]): Int = {
    var best = 0
    var bestTerm = 0L
    var i = 0
    while (i < cents.length) {
      val t = term(xs, off, cents(i), cn2(i))
      if (i == 0 || t < bestTerm) { bestTerm = t; best = i }
      i += 1
    }
    best
  }

  /** The exact lattice term `cn2 − 2·dot(xs[off..], c)`. */
  private[functions] def term(xs: ArrayData, off: Int, c: Array[Long],
                              cn2: Long): Long = {
    var dot = 0L
    var p = 0
    while (p < c.length) { dot += xs.getLong(off + p) * c(p); p += 1 }
    cn2 - 2L * dot
  }

  private[functions] def norms2(cents: Array[Array[Long]]): Array[Long] =
    cents.map { c =>
      var s = 0L; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s
    }
}

/** Coarse cell assignment: the id (from `ids`, ascending) of the
  * centroid minimizing the exact lattice term `|c|² − 2·x·c` — the
  * array-native form of `ivfPqCellTerms` + `min_by(struct(term, id))`.
  */
case class CellArgmin(child: Expression, ids: Array[Long],
                      cents: Array[Array[Long]])
    extends UnaryExpression {
  require(ids.length == cents.length && ids.nonEmpty,
    s"ids (${ids.length}) and centroids (${cents.length}) must align")
  require((1 until ids.length).forall(i => ids(i - 1) < ids(i)),
    "centroid ids must be strictly ascending (the tie rule)")
  require(cents.forall(_.length == cents(0).length),
    "coarse centroids must share one length (the fixed-dims convention)")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_cell_asg expects ARRAY<BIGINT>, got ${t.sql}")
  }

  override def dataType: DataType = LongType

  @transient private lazy val cn2 = PqCodec.norms2(cents)

  def assign(xs: ArrayData): Long = {
    // fixed-dims contract (ADVICE r16): the replaced equi-join form
    // silently DROPPED a vector whose length mismatched the geometry
    // (no joined rows), while argmin over a short vector would assign
    // the min-norm centroid — fail loud instead of either
    if (xs.numElements() != cents(0).length)
      throw new IllegalArgumentException(
        s"pq_cell_asg: vector length ${xs.numElements()} != geometry " +
          s"dims ${cents(0).length}")
    ids(PqCodec.argmin(xs, 0, cents, cn2))
  }

  override def nullSafeEval(x: Any): Any = assign(x.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellArgmin", this)
    defineCodeGen(ctx, ev, x => s"$ref.assign($x)")
  }

  override protected def withNewChildInternal(c: Expression): CellArgmin =
    copy(child = c)

  override def prettyName: String = "pq_cell_asg"
}

/** Probe order of the coarse cells: every id of `ids` ordered by the
  * exact lattice term `|c|² − 2·x·c`, ties → lowest id — [[CellArgmin]]'s
  * rule extended to a full ranking, so element 0 is the assigned cell
  * and the first `nprobe` elements are the cells a query probes.
  */
case class CellRanks(child: Expression, ids: Array[Long],
                     cents: Array[Array[Long]])
    extends UnaryExpression {
  require(ids.length == cents.length && ids.nonEmpty,
    s"ids (${ids.length}) and centroids (${cents.length}) must align")
  require(cents.forall(_.length == cents(0).length),
    "coarse centroids must share one length (the fixed-dims convention)")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_cell_ranks expects ARRAY<BIGINT>, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val cn2 = PqCodec.norms2(cents)

  def ranks(xs: ArrayData): ArrayData = {
    // fixed-dims contract (ADVICE r16) — see CellArgmin.assign
    if (xs.numElements() != cents(0).length)
      throw new IllegalArgumentException(
        s"pq_cell_ranks: vector length ${xs.numElements()} != geometry " +
          s"dims ${cents(0).length}")
    val terms = cents.indices.map(i => PqCodec.term(xs, 0, cents(i), cn2(i)))
    new GenericArrayData(
      ids.indices.sortBy(i => (terms(i), ids(i))).map(ids(_)).toArray)
  }

  override def nullSafeEval(x: Any): Any = ranks(x.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellRanks", this)
    defineCodeGen(ctx, ev, x => s"$ref.ranks($x)")
  }

  override protected def withNewChildInternal(c: Expression): CellRanks =
    copy(child = c)

  override def prettyName: String = "pq_cell_ranks"
}

/** Residual against an assigned centroid: `xs − cents[cell]` per
  * position — the array-native form of the `(cell_id, pos)` equi-join
  * with `xe − ce`.
  */
case class CellResidual(left: Expression, right: Expression,
                        ids: Array[Long], cents: Array[Array[Long]])
    extends BinaryExpression {
  require(ids.length == cents.length && ids.nonEmpty,
    s"ids (${ids.length}) and centroids (${cents.length}) must align")
  require(cents.forall(_.length == cents(0).length),
    "coarse centroids must share one length (the fixed-dims convention)")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_residual expects (ARRAY<BIGINT>, BIGINT), got (${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def residual(xs: ArrayData, cell: Long): ArrayData = {
    // fixed-dims contract (ADVICE r16) — see CellArgmin.assign
    if (xs.numElements() != cents(0).length)
      throw new IllegalArgumentException(
        s"pq_residual: vector length ${xs.numElements()} != geometry " +
          s"dims ${cents(0).length}")
    var idx = -1
    var i = 0
    while (idx < 0 && i < ids.length) {
      if (ids(i) == cell) idx = i
      i += 1
    }
    if (idx < 0) throw new IllegalStateException(
      s"pq_residual: cell $cell not in the frozen coarse geometry")
    val c = cents(idx)
    val n = xs.numElements()
    val out = new Array[Long](n)
    var p = 0
    while (p < n) {
      out(p) = xs.getLong(p) - c(p)
      p += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(x: Any, cell: Any): Any =
    residual(x.asInstanceOf[ArrayData], cell.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellResidual", this)
    defineCodeGen(ctx, ev, (x, cell) => s"$ref.residual($x, $cell)")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CellResidual = copy(left = l, right = r)

  override def prettyName: String = "pq_residual"
}

/** Per-subspace PQ code assignment: for each sub s (array index), the
  * cid (from `subCids(s)`, ascending) of the codebook centroid
  * minimizing the exact lattice term over the sub's `dsub`-slice — the
  * array-native form of `pqAssign`. Returns `array<long>` indexed by
  * sub.
  */
case class PqCodes(child: Expression, dsub: Int,
                   subCids: Array[Array[Long]],
                   subCents: Array[Array[Array[Long]]])
    extends UnaryExpression {
  require(dsub > 0, s"dsub=$dsub must be positive")
  require(subCids.length == subCents.length && subCids.nonEmpty,
    "per-sub cid and centroid tables must align")
  require(subCids.indices.forall(s =>
    subCids(s).length == subCents(s).length && subCids(s).nonEmpty),
    "every subspace needs at least one surviving centroid")
  require(subCents.forall(_.forall(_.length == dsub)),
    s"every codebook centroid must have length dsub=$dsub")
  require(subCids.forall(cids =>
    (1 until cids.length).forall(i => cids(i - 1) < cids(i))),
    "per-sub cids must be strictly ascending (the tie rule)")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_codes expects ARRAY<BIGINT>, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val cn2 = subCents.map(PqCodec.norms2)

  def codes(xs: ArrayData): ArrayData = {
    val m = subCids.length
    // fixed-dims contract (ADVICE r16) — see CellArgmin.assign
    if (xs.numElements() != m * dsub)
      throw new IllegalArgumentException(
        s"pq_codes: vector length ${xs.numElements()} != m·dsub = ${m * dsub}")
    val out = new Array[Long](m)
    var s = 0
    while (s < m) {
      out(s) = subCids(s)(
        PqCodec.argmin(xs, s * dsub, subCents(s), cn2(s)))
      s += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(x: Any): Any = codes(x.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodes", this)
    defineCodeGen(ctx, ev, x => s"$ref.codes($x)")
  }

  override protected def withNewChildInternal(c: Expression): PqCodes =
    copy(child = c)

  override def prettyName: String = "pq_codes"
}

/** Per-subspace squared distance to the ASSIGNED codebook centroid:
  * `array<long>` indexed by sub of `Σ_pos (xe − ce)²` for the sub's
  * argmin cid — the distortion audit's per-(vector, sub) `d2` in one
  * pass (assignment recomputed exactly as [[PqCodes]]).
  */
case class PqDist2(child: Expression, dsub: Int,
                   subCids: Array[Array[Long]],
                   subCents: Array[Array[Array[Long]]])
    extends UnaryExpression {
  require(dsub > 0, s"dsub=$dsub must be positive")
  require(subCids.length == subCents.length && subCids.nonEmpty,
    "per-sub cid and centroid tables must align")
  require(subCids.indices.forall(s =>
    subCids(s).length == subCents(s).length && subCids(s).nonEmpty),
    "every subspace needs at least one surviving centroid")
  require(subCents.forall(_.forall(_.length == dsub)),
    s"every codebook centroid must have length dsub=$dsub")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_dist2 expects ARRAY<BIGINT>, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val cn2 = subCents.map(PqCodec.norms2)

  def dists(xs: ArrayData): ArrayData = {
    val m = subCids.length
    // fixed-dims contract (ADVICE r16) — see CellArgmin.assign
    if (xs.numElements() != m * dsub)
      throw new IllegalArgumentException(
        s"pq_dist2: vector length ${xs.numElements()} != m·dsub = ${m * dsub}")
    val out = new Array[Long](m)
    var s = 0
    while (s < m) {
      val off = s * dsub
      val c = subCents(s)(PqCodec.argmin(xs, off, subCents(s), cn2(s)))
      var d2 = 0L
      var p = 0
      while (p < dsub) {
        val d = xs.getLong(off + p) - c(p)
        d2 += d * d
        p += 1
      }
      out(s) = d2
      s += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(x: Any): Any = dists(x.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqDist2", this)
    defineCodeGen(ctx, ev, x => s"$ref.dists($x)")
  }

  override protected def withNewChildInternal(c: Expression): PqDist2 =
    copy(child = c)

  override def prettyName: String = "pq_dist2"
}
