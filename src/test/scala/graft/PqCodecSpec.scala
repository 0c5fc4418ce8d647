package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Pins the array-native PQ codec expressions
  * ([[graft.functions.PqCodec]], built through the typed Column
  * builders of [[graft.functions]]) to the join-form argmin they
  * replaced (r16): same exact-integer terms, same lowest-id tie rule,
  * same surviving-cell semantics — the properties the ANN keys' hash
  * gates rest on.
  */
class PqCodecSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  import graft.functions.{cellAsg, cellRanks, cellResidual, pqCodes, pqDist2}

  // deterministic 12-vector, dims=8 lattice fixture; values chosen so
  // several vectors are equidistant between centroids (tie exercise)
  private val dims = 8
  private def vecOf(seed: Long): Array[Long] =
    Array.tabulate(dims)(p => ((seed * 31 + p * 7) % 11) - 5)
  private val vecs: DataFrame = (0L until 12L)
    .map(i => (i, vecOf(i)))
    .toDF("n_id", "xs")

  /** Brute-force reference: argmin id of `Σc² − 2·x·c` over the given
    * centroids, dots over shared positions, ties → lowest id.
    */
  private def refArgmin(xs: Array[Long], ids: Array[Long],
                        cents: Array[Array[Long]], off: Int = 0): Long = {
    val terms = ids.indices.map { i =>
      val c = cents(i)
      val cn2 = c.map(v => v * v).sum
      val dot = c.indices.filter(p => off + p < xs.length)
        .map(p => xs(off + p) * c(p)).sum
      (cn2 - 2L * dot, ids(i))
    }
    terms.min._2
  }

  test("pq_cell_asg matches the brute-force exact-integer argmin") {
    val ids = Array(0L, 3L, 7L)
    val cents = Array(vecOf(0L), vecOf(3L), vecOf(7L))
    val got = vecs.select($"n_id",
        cellAsg($"xs", ids, cents).as("cell"))
      .as[(Long, Long)].collect().toMap
    (0L until 12L).foreach { i =>
      assert(got(i) == refArgmin(vecOf(i), ids, cents),
        s"vector $i assigned ${got(i)}")
    }
    // membership sanity: each seed vector assigns to itself (d = 0)
    assert(got(0L) == 0L && got(3L) == 3L && got(7L) == 7L)
  }

  test("pq_cell_ranks orders every cell by exact term, ties → lowest id; rank 0 is pq_cell_asg") {
    // centroid 5 duplicates centroid 3: the pair ties on every vector
    val ids = Array(0L, 3L, 5L, 7L)
    val cents = Array(vecOf(0L), vecOf(3L), vecOf(3L), vecOf(7L))
    val got = vecs.select($"n_id", cellRanks($"xs", ids, cents).as("r"),
        cellAsg($"xs", ids, cents).as("a"))
      .as[(Long, Seq[Long], Long)].collect()
    got.foreach { case (i, r, a) =>
      val xs = vecOf(i)
      val want = ids.indices.map { j =>
        (cents(j).map(v => v * v).sum -
          2L * cents(j).indices.map(p => xs(p) * cents(j)(p)).sum, ids(j))
      }.sorted.map(_._2)
      assert(r == want, s"vector $i ranked $r")
      assert(r.head == a && r.indexOf(3L) < r.indexOf(5L))
    }
  }

  test("pq_cell_asg ties resolve to the lowest id (min_by struct order)") {
    // two IDENTICAL centroids under different ids: every vector ties
    val c = vecOf(1L)
    val got = vecs.select(
        cellAsg($"xs", Array(2L, 9L), Array(c, c)).as("cell"))
      .as[Long].collect()
    assert(got.forall(_ == 2L))
  }

  test("pq_residual subtracts the assigned centroid per position") {
    val ids = Array(0L, 3L)
    val cents = Array(vecOf(0L), vecOf(3L))
    val got = vecs
      .select($"n_id", $"xs",
        cellAsg($"xs", ids, cents).as("cell"))
      .select($"n_id", $"cell",
        cellResidual($"xs", $"cell", ids, cents).as("rxs"))
      .as[(Long, Long, Array[Long])].collect()
    got.foreach { case (i, cell, rxs) =>
      val c = cents(ids.indexOf(cell))
      val want = vecOf(i).zipWithIndex.map { case (x, p) => x - c(p) }
      assert(rxs.sameElements(want), s"vector $i residual vs cell $cell")
    }
  }

  test("pq_codes: per-sub argmin over the sub's slice, ties → lowest cid") {
    val dsub = 4
    // sub 0: three distinct centroids; sub 1: first two identical (tie)
    val sub0 = Array(vecOf(2L).take(dsub), vecOf(5L).take(dsub),
      vecOf(8L).take(dsub))
    val tied = vecOf(4L).slice(dsub, dims)
    val sub1 = Array(tied, tied, vecOf(9L).slice(dsub, dims))
    val cids = Array(Array(10L, 20L, 30L), Array(1L, 2L, 3L))
    val got = vecs.select($"n_id",
        pqCodes($"xs", dsub, cids, Array(sub0, sub1)).as("codes"))
      .as[(Long, Array[Long])].collect()
    got.foreach { case (i, codes) =>
      assert(codes.length == 2)
      assert(codes(0) == refArgmin(vecOf(i), cids(0), sub0, off = 0))
      assert(codes(1) == refArgmin(vecOf(i), cids(1), sub1, off = dsub))
    }
    // the sub-1 tie between cids 1 and 2 must resolve to 1 whenever the
    // tied centroid wins at all
    got.filter(_._2(1) != 3L).foreach { case (i, codes) =>
      assert(codes(1) == 1L, s"vector $i sub-1 tie broke to ${codes(1)}")
    }
  }

  test("pqTrainVec: seed = id range, Lloyd mean is the sign-split DIV, " +
      "empty cells drop out") {
    // 1-D subspaces (dsub=1, m=2, dims=2) make the Lloyd round hand-
    // checkable: seeds are vectors 0 and 1; all members assign to the
    // nearer seed, the update is sign(sum)·(|sum| DIV count)
    val data = Seq(
      (0L, Array(0L, -10L)),   // seed cid=0
      (1L, Array(100L, 10L)),  // seed cid=1
      (2L, Array(1L, -9L)),
      (3L, Array(99L, 11L)),
      (4L, Array(2L, -12L))
    ).toDF("n_id", "xs")
    val (cids, cents) =
      graft.ops.Similarity.pqTrainVec(data, dsub = 1, m = 2, ks = 2,
        refineIters = 1)
    // sub 0: members {0,1,2} → cid 0 (sum 3, n 3 → 1); {1,3} → cid 1
    // (sum 199, n 2 → 99). sub 1: {-10,-9,-12} → cid 0: sign-split
    // mean of -31/3 = -10 (floor-like via abs DIV); {10,11} → cid 1: 10
    assert(cids(0).sameElements(Array(0L, 1L)))
    assert(cents(0)(0).sameElements(Array(1L)))
    assert(cents(0)(1).sameElements(Array(99L)))
    assert(cids(1).sameElements(Array(0L, 1L)))
    assert(cents(1)(0).sameElements(Array(-10L)))
    assert(cents(1)(1).sameElements(Array(10L)))
    // empty-cell drop: seeds 0 and 1 share the same sub-0 value, so the
    // lowest-cid tie rule routes EVERY member (seed 1's own row
    // included) to cid 0 — cid 1 must vanish from sub 0's codebook
    val skew = Seq(
      (0L, Array(5L, 0L)),
      (1L, Array(5L, 1L)),
      (2L, Array(6L, 2L)),
      (3L, Array(4L, 3L))
    ).toDF("n_id", "xs")
    val (cids2, _) =
      graft.ops.Similarity.pqTrainVec(skew, dsub = 1, m = 2, ks = 2,
        refineIters = 1)
    assert(cids2(0).sameElements(Array(0L)),
      s"sub 0 kept ${cids2(0).mkString(",")}")
  }

  test("fixed-dims contract: short vectors fail loud instead of " +
      "assigning the min-norm centroid (ADVICE r16)") {
    val ids = Array(0L, 3L)
    val cents = Array(vecOf(0L), vecOf(3L))
    val short = Seq((0L, Array(1L, 2L, 3L))).toDF("n_id", "xs")
    // local mode may surface the row-level throw directly or wrapped in
    // a SparkException — accept either, require the expression's name
    def rootChain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    val e1 = intercept[Exception] {
      short.select(cellAsg($"xs", ids, cents)).collect()
    }
    assert(rootChain(e1).exists(_.contains("pq_cell_asg")))
    // the residual kernel checks the same length: a short vector must not
    // pass its missing positions through unsubtracted
    val e0 = intercept[Exception] {
      short.select(cellResidual($"xs", org.apache.spark.sql.functions.lit(3L), ids, cents)).collect()
    }
    assert(rootChain(e0).exists(_.contains("pq_residual: vector length 3")))
    val eR = intercept[Exception] {
      short.select(cellRanks($"xs", ids, cents)).collect()
    }
    assert(rootChain(eR).exists(_.contains("pq_cell_ranks: vector length 3")))
    val dsub = 4
    val subs = Array(vecOf(2L).take(dsub), vecOf(5L).take(dsub))
    val e2 = intercept[Exception] {
      short.select(pqCodes($"xs", dsub, Array(Array(1L, 2L)), Array(subs)))
        .collect()
    }
    assert(rootChain(e2).exists(_.contains("pq_codes")))
    // exact length: a vector LONGER than m·dsub fails too, instead of
    // silently dropping its tail (here m·dsub = 4 < 8 = dims)
    val e3 = intercept[Exception] {
      vecs.select(pqCodes($"xs", dsub, Array(Array(1L, 2L)), Array(subs)))
        .collect()
    }
    assert(rootChain(e3).exists(_.contains("pq_codes: vector length 8 != m·dsub = 4")))
    val e4 = intercept[Exception] {
      vecs.select(pqDist2($"xs", dsub, Array(Array(1L, 2L)), Array(subs)))
        .collect()
    }
    assert(rootChain(e4).exists(_.contains("pq_dist2: vector length 8 != m·dsub = 4")))
  }

  test("collectCoarseGeo rejects a sparse coarse table (ADVICE r16)") {
    // cell 3 misses its trailing pos row: a truncated/hand-landed store
    val sparse = Seq(
      (0L, 0, 10L), (0L, 1, 11L),
      (3L, 0, 20L)
    ).toDF("cell_id", "pos", "ce")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Similarity.collectCoarseGeo(sparse, dims = 2)
    }
    assert(e.getMessage.contains("not dense"))
    // and the dense form of the same table passes
    val dense = sparse.union(Seq((3L, 1, 21L)).toDF("cell_id", "pos", "ce"))
    val (idsOk, centsOk) = graft.ops.Similarity.collectCoarseGeo(dense, dims = 2)
    assert(idsOk.sameElements(Array(0L, 3L)))
    assert(centsOk.forall(_.length == 2))
    // a table dense but shorter than the caller's dims is rejected too
    intercept[IllegalArgumentException] {
      graft.ops.Similarity.collectCoarseGeo(dense, dims = 3)
    }
    // cell 3 skips pos 1 but keeps pos 2: both centroids span
    // max(pos)+1 = 3, so a cross-cell length check alone would pass it
    // and read the hole as a 0 coordinate
    val holed = Seq(
      (0L, 0, 10L), (0L, 1, 11L), (0L, 2, 12L),
      (3L, 0, 20L), (3L, 2, 22L)
    ).toDF("cell_id", "pos", "ce")
    val eh = intercept[IllegalArgumentException] {
      graft.ops.Similarity.collectCoarseGeo(holed, dims = 3)
    }
    assert(eh.getMessage.contains("not dense") && eh.getMessage.contains("cell 3"))
    // a duplicated pos row in place of the hole fails the same way
    val duped = holed.union(Seq((3L, 0, 20L)).toDF("cell_id", "pos", "ce"))
    intercept[IllegalArgumentException] {
      graft.ops.Similarity.collectCoarseGeo(duped, dims = 3)
    }
  }
}
