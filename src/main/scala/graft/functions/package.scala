package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftRelationalBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction

/** The engine's kernels as typed Column builders: each wraps its
  * Catalyst expression around the argument Columns directly, so
  * operator code never names a kernel in SQL text, never touches a
  * session's function registry, and keeps parameters typed inside the
  * node (PQ/IVF geometry stays `Array[Long]`, never printed into array
  * literals and parsed back). SQL callers reach the same expressions
  * by name through [[Catalog]].
  */
package object functions {

  private def agg(f: AggregateFunction): Column =
    column(f.toAggregateExpression())

  /** Millis → "MM:SS.mmm" ([[LapTimeMillis]]). */
  def lapTime(ms: Column): Column = column(LapTimeMillis(expression(ms)))

  /** Unicode NFC normalization ([[NfcNormalize]]). */
  def nfc(s: Column): Column = column(NfcNormalize(expression(s)))

  /** Dot product of two `array<double>` ([[DotProduct]]). */
  def dot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  /** Jaccard of two sorted distinct arrays ([[JaccardSorted]]). */
  def jaccard(a: Column, b: Column): Column =
    column(JaccardSorted(expression(a), expression(b)))

  /** Distinct n-token shingle strings ([[Shingles]]). */
  def shingles(toks: Column, n: Int): Column =
    column(Shingles(expression(toks), n))

  /** Sorted distinct xxhash64 of the n-token shingles ([[ShingleHashes]]). */
  def shingleHashes(toks: Column, n: Int): Column =
    column(ShingleHashes(expression(toks), n))

  /** Minimum Karp-Rabin hash over k-byte windows ([[RollingHashMin]]). */
  def rollingHashMin(s: Column, k: Int): Column =
    column(RollingHashMin(expression(s), k))

  /** `k` min-hashes of a hashed shingle set ([[MinHashSignature]]). */
  def minhash(sh: Column, k: Int): Column =
    column(MinHashSignature(expression(sh), k))

  /** Band-tagged sign-random-projection codes ([[SrpBands]]). */
  def srpBands(v: Column, bands: Int, bitsPerBand: Int): Column =
    column(SrpBands(expression(v), bands, bitsPerBand))

  /** 64-bit simhash of a token array ([[SimhashSignature]]). */
  def simhash(toks: Column): Column = column(SimhashSignature(expression(toks)))

  /** Aggregate: KLL quantile sketch of a BIGINT column ([[KllSketchAgg]]). */
  def kllSketch(v: Column, k: Int = KllSketch.DefaultK): Column =
    agg(KllSketchAgg(expression(v), k))

  /** Inclusive rank-`q` quantile of a KLL sketch ([[KllSketchQuantile]]). */
  def kllQuantile(sk: Column, q: Double): Column =
    column(KllSketchQuantile(expression(sk), Literal(q)))

  /** Aggregate: Count-Min counter plane of a token column ([[CountMinAgg]]). */
  def countMin(tok: Column): Column = agg(CountMinAgg(expression(tok)))

  /** Coarse cell id of each lattice vector ([[CellArgmin]]). */
  def cellAsg(xs: Column, ids: Array[Long], cents: Array[Array[Long]]): Column =
    column(CellArgmin(expression(xs), ids, cents))

  /** Coarse cell ids of each lattice vector in probe order ([[CellRanks]]). */
  def cellRanks(xs: Column, ids: Array[Long], cents: Array[Array[Long]]): Column =
    column(CellRanks(expression(xs), ids, cents))

  /** Residual of each vector against its assigned cell ([[CellResidual]]). */
  def cellResidual(xs: Column, cell: Column, ids: Array[Long],
                   cents: Array[Array[Long]]): Column =
    column(CellResidual(expression(xs), expression(cell), ids, cents))

  /** Per-subspace PQ codes ([[PqCodes]]). */
  def pqCodes(xs: Column, dsub: Int, cids: Array[Array[Long]],
              cents: Array[Array[Array[Long]]]): Column =
    column(PqCodes(expression(xs), dsub, cids, cents))

  /** Per-subspace squared distance to the assigned code ([[PqDist2]]). */
  def pqDist2(xs: Column, dsub: Int, cids: Array[Array[Long]],
              cents: Array[Array[Array[Long]]]): Column =
    column(PqDist2(expression(xs), dsub, cids, cents))
}
