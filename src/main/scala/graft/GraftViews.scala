package graft

import org.apache.spark.sql.SparkSession

/** The reference's SQL surface: audit_star users query generated views
  * (`<t>_audit_delta` / `_snapshot` / `_compare`, docs/index.md), not an
  * API. This registrar exposes the same surface as Spark temp views over a
  * feed directory, so `spark.sql("SELECT * FROM events_audit_snapshot")`
  * works exactly like the Postgres views did.
  *
  * Only pure plan-builders are registered — views are lazy plans, nothing
  * executes at registration. Operators that *run* work when built (the
  * streaming capture pipelines, the iterative component clustering) are
  * deliberately excluded: a view that launches a streaming job on
  * resolution would be a trap.
  */
object GraftViews {

  /** View-name suffix → operator, mirroring the reference's naming
    * (`<table>_audit_<view>`); the feed table here is `events`. */
  private val auditSurface: Seq[(String, Q)] = Seq(
    "audit" -> audit.AuditQueries.auditLog,
    "audit_delta" -> audit.AuditQueries.auditDelta,
    "audit_delta_old" -> audit.AuditQueries.auditDeltaOld,
    "audit_snapshot" -> audit.AuditQueries.auditSnapshot,
    "audit_compare" -> audit.AuditQueries.auditCompare,
    "audit_current" -> audit.AuditQueries.auditCurrent,
    "audit_history" -> audit.AuditQueries.auditHistory)

  /** Registers the audit view surface for one feed; returns the view
    * names. `table` plays the role of the reference's audited table name
    * in `<table>_<view>`. */
  def register(spark: SparkSession, feedDir: String,
      table: String = "events"): Seq[String] = {
    GraftSession.prepare(spark)
    auditSurface.map { case (suffix, q) =>
      val name = s"${table}_$suffix"
      q.fn(spark, feedDir).createOrReplaceTempView(name)
      name
    }
  }
}
