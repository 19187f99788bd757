package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** A posting list with its exact cardinality, list truncated at
  * `max + 1` elements (enough to know "over the cap" without carrying
  * the tail). */
final case class IdsAcc(ids: Seq[Long], n: Long)

/** Size-bounded id-list aggregator: collects a group's ids up to
  * `max + 1` of them plus the EXACT group count, with map-side partial
  * aggregation.
  *
  * Why this exists next to `collect_list`: a df-capped inverted-index
  * pair counter (SQL's `bounded_ids_20`; the DataFrame posting tier the
  * specs keep as `PairCountsReference`) only ever consumes posting
  * lists of groups with `n <= max` — but a plain
  * `collect_list` + `filter(count <= max)` plan materializes and
  * shuffles the FULL list of every hot key first, which on a boilerplate
  * shingle shared by millions of documents is a straggler/OOM, not a
  * plan. Here every partial buffer is bounded at `max + 1` elements, so
  * the exchange carries O(groups x max) regardless of skew; a group
  * whose true count exceeds the cap keeps its exact `n` (the filter
  * still sees it) but never its tail. For kept groups (`n <= max`) no
  * truncation can have occurred, so the list is complete and exact —
  * order-insensitive consumers (pair expansion, set sizes) are
  * deterministic. */
final class BoundedIds(max: Int) extends Aggregator[Long, IdsAcc, IdsAcc] {
  require(max >= 1, s"BoundedIds needs max >= 1, got $max")

  override def zero: IdsAcc = IdsAcc(Seq.empty, 0L)

  override def reduce(b: IdsAcc, id: Long): IdsAcc =
    IdsAcc(if (b.ids.size <= max) b.ids :+ id else b.ids, b.n + 1)

  override def merge(a: IdsAcc, b: IdsAcc): IdsAcc = {
    val joined =
      if (a.ids.size + b.ids.size <= max + 1) a.ids ++ b.ids
      else (a.ids ++ b.ids).take(max + 1)
    IdsAcc(joined, a.n + b.n)
  }

  override def finish(r: IdsAcc): IdsAcc = r

  override def bufferEncoder: Encoder[IdsAcc] = ExpressionEncoder()
  override def outputEncoder: Encoder[IdsAcc] = ExpressionEncoder()
}
