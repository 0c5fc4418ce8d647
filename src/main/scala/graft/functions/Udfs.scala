package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udf

/** The engine's demonstration UDF and UDAF (SURVEY.md §2.B last row),
  * registered as `lap_time_udf` and `top_k_events` by
  * [[Catalog.register]].
  *
  * Preference order in this engine is native expressions > custom Catalyst
  * Expression > Scala UDF; the UDF exists to demonstrate the registration
  * path, with the same semantics as the native formatLapTime.
  */
object Udfs {

  /** Scalar Scala UDF: millis → "MM:SS.mmm" (null-safe). */
  val formatLapTimeUdf = udf((ms: java.lang.Long) =>
    if (ms == null) null else LapTimeMillis.format(ms))
}

/** Bounded top-k accumulator over (id, score) pairs: keeps the k largest
  * by (score, then lower id wins ties), merges associatively — the
  * partial-aggregation-friendly shape for distributed top-k (map-side
  * heaps, tiny shuffle payloads; contrast collecting whole groups).
  * Output is sorted descending, encoded as "id:score_cents" strings for
  * portable comparison.
  */
class TopKAggregator(k: Int)
    extends Aggregator[TopKIn, Seq[TopKIn], Seq[String]] {

  private def ord: Ordering[TopKIn] =
    Ordering.by((e: TopKIn) => (e.score, -e.id)) // max by score, min id on tie

  override def zero: Seq[TopKIn] = Vector.empty

  override def reduce(buf: Seq[TopKIn], in: TopKIn): Seq[TopKIn] =
    trim(buf :+ in)

  override def merge(a: Seq[TopKIn], b: Seq[TopKIn]): Seq[TopKIn] =
    trim(a ++ b)

  private def trim(xs: Seq[TopKIn]): Seq[TopKIn] =
    xs.sorted(ord.reverse).take(k)

  override def finish(buf: Seq[TopKIn]): Seq[String] =
    buf.sorted(ord.reverse)
      .map(e => s"${e.id}:${math.round(e.score * 100)}")

  override def bufferEncoder: Encoder[Seq[TopKIn]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[TopKIn]]()
  override def outputEncoder: Encoder[Seq[String]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
}

case class TopKIn(id: Long, score: Double)
