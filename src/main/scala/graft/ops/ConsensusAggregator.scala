package graft.ops

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Consensus winner as a typed `Aggregator` (SURVEY §2.10): the
  * tie-break-by-priority argmax in ONE partial-aggregable pass, for callers
  * that hold votes as a typed `Dataset` and need only the winner, not the
  * disagreement report — e.g. the streaming hot path. Semantics identical
  * to [[Consensus.merge]]: most votes wins, ties go to the lowest source
  * priority (registration order), then lowest value for full determinism.
  */
object ConsensusAggregator {

  case class Vote(categoria: String, valor: Long, source_name: String, priority: Int)
  /** per candidate value: (votes, best priority) */
  type Buf = Map[Long, (Long, Int)]
  case class Winner(valor: Long, n_votes: Long)

  val winner: Aggregator[Vote, Buf, Winner] = new Aggregator[Vote, Buf, Winner] {
    def zero: Buf = Map.empty
    def reduce(b: Buf, v: Vote): Buf = {
      val (n, p) = b.getOrElse(v.valor, (0L, Int.MaxValue))
      b.updated(v.valor, (n + 1, math.min(p, v.priority)))
    }
    def merge(a: Buf, b: Buf): Buf =
      b.foldLeft(a) { case (acc, (valor, (n, p))) =>
        val (n0, p0) = acc.getOrElse(valor, (0L, Int.MaxValue))
        acc.updated(valor, (n0 + n, math.min(p0, p)))
      }
    def finish(b: Buf): Winner = {
      // max votes; tie → lowest priority (first registered); tie → lowest value
      val (valor, (n, _)) = b.minBy { case (v, (n, p)) => (-n, p, v) }
      Winner(valor, n)
    }
    def bufferEncoder: Encoder[Buf] = Encoders.kryo[Buf]
    def outputEncoder: Encoder[Winner] = Encoders.product[Winner]
  }
}
