package graft.pipeline

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** The chunk fit as a typed `Aggregator` (SURVEY.md §4.2's optional
  * UDAF form): makes a DARIMA fit expressible inside `agg(...)` on a
  * KeyValueGroupedDataset, composable with other aggregates in one
  * pass. Identical to the chunk-partition map step by construction — both
  * call [[Darima.fitOneChunk]]; buffer collects (time, value) pairs,
  * finish sorts and fits.
  *
  * The buffer is O(chunk) like the chunk-partition map step (a fit needs
  * the whole series); Kryo-encoded so spill still works.
  */
final case class CoefRow(coef: String, lag_idx: Int, value: Double,
    weight: Double, n: Long)

class ArimaFitAggregator(cfg: DarimaConfig)
    extends Aggregator[(Double, Double),
      scala.collection.mutable.ArrayBuffer[(Double, Double)],
      Array[CoefRow]] with Serializable {

  type Buf = scala.collection.mutable.ArrayBuffer[(Double, Double)]

  override def zero: Buf = scala.collection.mutable.ArrayBuffer.empty

  override def reduce(b: Buf, a: (Double, Double)): Buf = { b += a; b }

  override def merge(b1: Buf, b2: Buf): Buf = { b1 ++= b2; b1 }

  override def finish(b: Buf): Array[CoefRow] =
    Darima.fitOneChunk(b.sortBy(_._1).toArray, cfg)

  override def bufferEncoder: Encoder[Buf] = Encoders.kryo[Buf]

  override def outputEncoder: Encoder[Array[CoefRow]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[CoefRow]]()
}
