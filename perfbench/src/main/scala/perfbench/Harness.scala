package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** One closed-loop client: the ops of a workload run back to back in one
  * `local[4]` session, each forced through the `noop` sink.
  *
  * {{{
  * Harness --data DIR --ops a,b,c --seed N --seconds S --trace 0|1
  *         --launched EPOCH_S --out FILE
  * }}}
  *
  * Passes: one cold pass, then [[WarmupPasses]] warm-up passes (the first
  * takes each op's output digest in place of the noop write), then the
  * [[TimedPasses]] timed passes, then extra passes while `--seconds` have
  * not elapsed since the first timed pass. Metrics come from the timed
  * passes alone, so every run measures the same pass positions of its
  * session however fast the passes are. The seed only permutes the op
  * order of the passes after the cold one.
  *
  * With `--trace 1` the passes after the warm-up alternate untraced and
  * traced, starting and ending with an untraced one, so each traced pass
  * has an untraced pass on either side; only traced passes record spans
  * and counters. All results go to `--out` as one JSON object; run.py
  * turns them into metrics.
  */
object Harness {

  /** The op every session runs once before any pass (as graft.Bench does). */
  val WarmupOp = "q1_pricing"

  /** Warm-up passes after the cold pass. On a 4-core host pass times keep
    * falling for ~40 s of passes (JIT), more than a run can spend, so the
    * schedule is fixed: every run times the same passes of its session. */
  val WarmupPasses = 2

  /** Timed passes of an untraced run. */
  val TimedPasses = 3

  /** Passes after the warm-up of a traced run: U T U T U. */
  val TracedRunPasses = 5

  final case class OpRun(pass: Int, kind: String, op: String, startMs: Double,
      endMs: Double, buildS: Double, planS: Double, execS: Double, error: String,
      phases: Map[String, Double], shape: Map[String, Int])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val ops = opt.get("ops").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val seed = opt.getOrElse("seed", "0").toLong
    val seconds = opt.getOrElse("seconds", "10").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val launched = opt("launched").toDouble

    val tb = System.nanoTime()
    val spark = graft.GraftSession.build("perfbench", "4")
    val sessionBuildS = secs(tb)
    val registry = graft.SparkEntry.queries
    val unknown = (ops :+ WarmupOp).filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown ops: ${unknown.mkString(",")}")

    registry(WarmupOp)(spark, data).write.mode("overwrite").format("noop").save()
    spark.catalog.clearCache()
    val setupS = nowMs() / 1e3 - launched

    val out = new StringBuilder
    out ++= s"""{"setup_s":$setupS,"session_build_s":$sessionBuildS"""
    val runner = new Runner(spark, data, registry, seed)
    runner.passes(ops, seconds, trace)
    out ++= "," + runner.toJson
    out ++= s""","peak_rss_mb":${peakRssMb()}}"""
    spark.stop()
    Files.write(Paths.get(opt("out")), out.toString.getBytes("UTF-8"))
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def nowMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1e3 + i.getNano / 1e6
  }

  /** VmHWM: the resident-set high-water mark of this JVM. */
  def peakRssMb(): Double = {
    val l = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    l.split("\\s+")(1).toDouble / 1024.0
  }

  final class Runner(spark: SparkSession, data: String,
      registry: Map[String, (SparkSession, String) => DataFrame], seed: Long) {
    private val sc = spark.sparkContext
    private val runs = mutable.ArrayBuffer.empty[OpRun]
    private val passWalls = mutable.ArrayBuffer.empty[(Int, String, Double, Double)]
    private val digests = mutable.LinkedHashMap.empty[String, String]
    private val recorder = new Recorder
    private val streamRecorder = new StreamRecorder
    private var pass = 0

    def passes(ops: Seq[String], seconds: Double, trace: Boolean): Unit = {
      runPass(ops, "cold")
      runPass(ops, "warmup", digest = true)
      (2 to WarmupPasses).foreach(_ => runPass(ops, "warmup"))
      val minPasses = if (trace) TracedRunPasses else TimedPasses
      val t0 = System.nanoTime()
      var k = 0
      // a traced run stops only after an untraced pass, so that every
      // traced pass sits between two untraced ones
      while (k < minPasses || secs(t0) < seconds || (trace && k % 2 == 0)) {
        if (trace && k % 2 == 1) {
          sc.addSparkListener(recorder)
          spark.streams.addListener(streamRecorder)
          runPass(ops, "traced", traced = true)
          PerfbenchBus.drain(sc)
          spark.streams.removeListener(streamRecorder)
          sc.removeSparkListener(recorder)
        } else if (trace) runPass(ops, "untraced")
        else runPass(ops, if (k < TimedPasses) "timed" else "extra")
        k += 1
      }
    }

    /** One pass over `ops`: the cold pass in the listed order, as a
      * scheduled job runs them; later passes in a seeded order. */
    private def runPass(ops: Seq[String], kind: String, traced: Boolean = false,
        digest: Boolean = false): Unit = {
      val order =
        if (kind == "cold") ops else new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
      val p0 = nowMs()
      order.foreach(op => runOp(op, kind, traced, digest))
      val p1 = nowMs()
      passWalls += ((pass, kind, p0, p1))
      System.err.println(f"[perfbench] pass $pass%d $kind%s ${(p1 - p0) / 1e3}%.3f s")
      pass += 1
    }

    private def runOp(op: String, kind: String, traced: Boolean, digest: Boolean): Unit = {
      if (traced) sc.setLocalProperty(Recorder.SpanKey, s"$seed/$pass/$op")
      def phase(p: String): Unit = if (traced) sc.setLocalProperty(Recorder.PhaseKey, p)
      var (buildS, planS, execS, error) = (0.0, 0.0, 0.0, "")
      var phases = Map.empty[String, Double]
      var shape = Map.empty[String, Int]
      val start = nowMs()
      try {
        phase("build")
        val t0 = System.nanoTime()
        val df = registry(op)(spark, data)
        buildS = secs(t0)
        if (traced) {
          phase("plan")
          val t1 = System.nanoTime()
          val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution
          val plan = qe.executedPlan
          planS = secs(t1)
          phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
          shape = planShape(plan)
        }
        phase("exec")
        val t2 = System.nanoTime()
        // the digest reads every column, so it stands in for the noop write
        if (digest) digests(op) = outputDigest(df)
        else df.write.mode("overwrite").format("noop").save()
        execS = secs(t2)
      } catch {
        case e: Throwable => error = s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      spark.catalog.clearCache() // op-internal caches must not leak
      val end = nowMs()
      sc.setLocalProperty(Recorder.SpanKey, null)
      sc.setLocalProperty(Recorder.PhaseKey, null)
      if (digest && error.nonEmpty) digests(op) = s"""{"error":${Json.str(error)}}"""
      System.err.println(f"[perfbench] op $pass%d $op%s ${(end - start) / 1e3}%.3f s")
      runs += OpRun(pass, kind, op, start, end, buildS, planS, execS, error, phases, shape)
    }

    def toJson: String = {
      val rs = runs.map { r =>
        s"""{"pass":${r.pass},"kind":${Json.str(r.kind)},"op":${Json.str(r.op)},""" +
          s""""span":${Json.str(s"$seed/${r.pass}/${r.op}")},""" +
          s""""start_ms":${r.startMs},"end_ms":${r.endMs},"build_s":${r.buildS},""" +
          s""""plan_s":${r.planS},"exec_s":${r.execS},"error":${Json.str(r.error)},""" +
          s""""phases":${obj(r.phases.map { case (k, v) => k -> v.toString })},""" +
          s""""shape":${obj(r.shape.map { case (k, v) => k -> v.toString })}}"""
      }
      val ps = passWalls.map { case (p, k, s, e) =>
        s"""{"pass":$p,"kind":${Json.str(k)},"start_ms":$s,"end_ms":$e}"""
      }
      s""""ops":${rs.mkString("[", ",", "]")},"passes":${ps.mkString("[", ",", "]")},""" +
        s""""digests":${obj(digests.toMap)},${recorder.toJson},${streamRecorder.toJson}"""
    }
  }

  private def obj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")

  /** Row count plus an order-insensitive hash: the sum of each row's
    * xxhash64 over its JSON form (columns renamed positionally, so
    * duplicate names cannot collide). */
  def outputDigest(df: DataFrame): String = {
    val cols = df.columns.indices.map(i => s"c$i")
    val r = df.toDF(cols: _*)
      .select(xxhash64(to_json(struct(cols.map(col): _*))).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    val h = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    s"""{"rows":${r.getLong(0)},"hash":${Json.str(h)}}"""
  }

  /** Exchanges, windows and broadcasts of the physical plan before
    * execution (for an adaptive plan, its initial plan; subqueries
    * included). */
  def planShape(plan: SparkPlan): Map[String, Int] = {
    val counts = mutable.Map("exchanges" -> 0, "windows" -> 0, "broadcasts" -> 0)
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case _: ShuffleExchangeLike => counts("exchanges") += 1
        case _: BroadcastExchangeLike => counts("broadcasts") += 1
        case _: WindowExec => counts("windows") += 1
        case _ =>
      }
      if (!p.isInstanceOf[AdaptiveSparkPlanExec]) {
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
      }
    }
    walk(plan)
    counts.toMap
  }
}
