package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{AsOfRangePushdown, AsOfStrategy}

/** GraftSession.prepare is the one path that readies a session, and no
  * operator changes session state behind it. Each test works on a fresh
  * `newSession()` (its own registry, rules and SQL conf) so it neither
  * sees nor leaves the shared test session's state. */
class SessionPostureSpec extends AnyFunSuite {
  import TestSession._

  private def fresh() =
    spark.newSession().asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  test("prepare is idempotent: every native function, each AS-OF rule once") {
    val s = fresh()
    val registry = s.sessionState.functionRegistry
    val names = GraftFunctions.descriptions.map(_._1)
    assert(names.nonEmpty)
    assert(names.forall(n => !registry.functionExists(FunctionIdentifier(n))),
      "a fresh session must not already carry graft functions")
    GraftSession.prepare(s)
    GraftSession.prepare(s)
    names.foreach(n => assert(registry.functionExists(FunctionIdentifier(n)), n))
    assert(s.experimental.extraStrategies.count(_ == AsOfStrategy) === 1)
    assert(s.experimental.extraOptimizations.count(_ == AsOfRangePushdown) === 1)
  }

  test("prepare pins ANSI mode and parquet nanos-as-long decoding") {
    val s = fresh()
    GraftSession.prepare(s)
    assert(s.conf.get("spark.sql.ansi.enabled") === "true")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }

  test("operators and feed readers leave the session conf unchanged") {
    val s = fresh()
    GraftSession.prepare(s)
    // The test data's events.ts is TIMESTAMP(MICROS), which reads the same
    // either way; flipping the key off makes a reader that sets it visible.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val before = s.conf.getAll
    def changed: Map[String, Option[String]] = {
      val now = s.conf.getAll
      (now.keySet ++ before.keySet).filter(k => now.get(k) != before.get(k))
        .map(k => k -> now.get(k)).toMap
    }
    Seq(audit.AuditQueries.auditDelta, streaming.EventStream.auditStream,
        text.TextOps.dedupExact, vector.Similarity.annTopk).foreach { q =>
      q.fn(s, sfDir).write.format("noop").mode("overwrite").save()
      assert(changed === Map.empty, q.name)
    }
    sources.FeedSources.parquetFeed(s, s"$sfDir/events.parquet")
    assert(changed === Map.empty, "parquetFeed")
  }
}
