package graft.ops

import graft.Model.NormalizedRecord

/** The EP1 decision policy (SURVEY §3 EP1 steps 6, 8 and 10), the one
  * implementation every caller reaches: [[RunPipeline.run]],
  * [[graft.streaming.EventStreams.pozoChangeDetect]] and the declared
  * query `polla_decision_matrix`. Pure driver-side functions over a run's
  * few values; a cycle's decision needs no Spark plan.
  *
  * Reference semantics:
  *  - `_compute_unchanged` (`polla_app/pipeline.py:257-285`): a run is
  *    "unchanged" iff the previous state holds a record with the same
  *    (sorteo, fecha) — Python `None == None` is true, so the key equality
  *    is null-safe — and either the provenance sha256 matches (cheap
  *    short-circuit, PROV-01) or the amounts map is deeply equal
  *    ([[sameContent]]);
  *  - derived scalars and confidence (`pipeline.py:383-404`, [[scalars]]);
  *  - decision rule (`pipeline.py:439-459`, [[decide]]): skip if
  *    unchanged; quarantine if mismatch_ratio > threshold (default 0.25)
  *    or max_deviation > 0.10; else publish; force_publish turns a skip
  *    into publish_forced.
  */
object StatePipeline {

  /** Same content: both sha256 present and equal, or equal amounts. An
    * absent sha256 matches nothing, not even another absent one. */
  def sameContent(prevSha: Option[String], prevAmounts: Map[String, Long],
      sha: Option[String], amounts: Map[String, Long]): Boolean =
    prevSha.exists(sha.contains) || prevAmounts == amounts

  /** Change detection: some previous record has `record`'s (sorteo, fecha)
    * and [[sameContent]]. */
  def unchanged(previous: Seq[NormalizedRecord], record: NormalizedRecord): Boolean =
    previous.exists { prev =>
      prev.sorteo == record.sorteo && prev.fecha == record.fecha &&
        sameContent(prev.provenance.pozos.primary.sha256, prev.pozos_proximo,
          record.provenance.pozos.primary.sha256, record.pozos_proximo)
    }

  /** (mismatch_ratio, max_deviation, confidence) of a consensus over
    * `categories` categories, where `deviations` holds the max_deviation
    * of each category with disagreeing values, and `collected` of the
    * `expected` sources returned a payload. */
  def scalars(categories: Int, deviations: Seq[Double], collected: Int,
      expected: Int): (Double, Double, String) = {
    val mismatchRatio =
      if (categories == 0) 0.0 else deviations.size.toDouble / categories
    val confidence =
      if (collected < expected || mismatchRatio > 0) "degraded"
      else if (collected == 1) "single_source"
      else "full"
    (mismatchRatio, (0.0 +: deviations).max, confidence)
  }

  /** Publish decision as (status, publish, reason). */
  def decide(
      unchanged: Boolean,
      mismatchRatio: Double,
      maxDeviation: Double,
      mismatchThreshold: Double = 0.25,
      forcePublish: Boolean = false): (String, Boolean, String) = {
    val (status, publish, reason) =
      if (unchanged)
        ("skip", false, "sorteo_fecha_and_amounts_unchanged")
      else if (mismatchRatio > mismatchThreshold || maxDeviation > 0.10) {
        val why =
          if (maxDeviation > 0.10) f"max_deviation_${maxDeviation}%.2f_exceeds_threshold_0.10"
          else f"mismatch_ratio_${mismatchRatio}%.2f_exceeds_threshold_$mismatchThreshold%s"
        ("quarantine", false, why)
      } else ("publish", true, "updated_or_new_amounts")
    if (forcePublish && unchanged) ("publish_forced", true, "force_publish_requested")
    else (status, publish, reason)
  }
}
