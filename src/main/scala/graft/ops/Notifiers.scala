package graft.ops

import graft.Model.{Mismatch, Summary}

/** Slack notification payload builders (reference `polla_app/notifiers.py`).
  * Pure functions → JSON-ish structures; the transport (webhook POST) is a
  * pluggable sink so tests and offline runs never touch the network. */
object Notifiers {

  /** Skip rule (`notifiers.py:30-31`): unchanged runs don't notify. */
  def shouldNotify(summary: Summary): Boolean =
    !(summary.decision.status == "skip" && !summary.prizes_changed)

  /** Run-summary message text (`notifiers.py:20-43`). */
  def summaryText(summary: Summary, updatedRows: Int): String = {
    val quarantined = summary.decision.status == "quarantine"
    val icon = if (quarantined) "⚠️" else "✅"
    val title = if (quarantined) "*Polla Scraper DISCREPANCY ALERT*"
      else "*Polla Scraper Run Summary*"
    s"""$icon $title
       |• *Status:* `${summary.decision.status.toUpperCase}`
       |• *Decision:* ${summary.publish_reason}
       |• *Updated Rows:* $updatedRows
       |• *Discrepancies:* ${summary.decision.mismatched_categories}
       |• *Run ID:* `${summary.run_id}`
       |""".stripMargin
  }

  /** Quarantine Blocks payload, detail capped at 15 mismatches
    * (`notifiers.py:53-108`). Rendered as (type, text) sections. */
  def quarantineBlocks(summary: Summary, mismatches: Seq[Mismatch]): Seq[(String, String)] = {
    val head = Seq(
      "header" -> "🚨 Polla Scraper Quarantine Alert",
      "section" ->
        s"""*Status:* `${summary.decision.status.toUpperCase}`
           |*Reason:* ${summary.publish_reason}
           |*Run ID:* `${summary.run_id}`""".stripMargin)
    if (mismatches.isEmpty) head
    else {
      val lines = mismatches.take(15).map { m =>
        val winner = m.consensus.keys.headOption.getOrElse("N/A")
        val missing = if (m.missing_sources.nonEmpty)
          s" (Missing: ${m.missing_sources.mkString(", ")})" else ""
        s"• *${m.categoria}*: `$winner`$missing"
      }
      head :+ ("section" -> ("*Discrepancies Detail:*\n" + lines.mkString("\n")))
    }
  }
}
