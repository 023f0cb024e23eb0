package graft

/** Single-query fresh-JVM bench: cold = rep 1 (includes session+JIT
  * warmup), warm = min of later reps. Used by tools/bench_iso.py and
  * tools/bench_subset.py for contention-free numbers.
  *
  * SPARK_GRAFT_METRICS=1 additionally registers a stage-metrics listener
  * and prints a second JSON line with cumulative shuffle read/write and
  * memory/disk spill bytes — the evidence channel for the scale-leg
  * carries (q_part_pagerank's one-box edge-exchange claim at the 1000x
  * leg is a number with it, a narrative without it). */
object BenchOne {

  private final class StageMetrics extends org.apache.spark.scheduler.SparkListener {
    @volatile var shuffleRead = 0L
    @volatile var shuffleWrite = 0L
    @volatile var memSpill = 0L
    @volatile var diskSpill = 0L
    @volatile var peakMem = 0L
    @volatile var jobs = 0L
    @volatile var stages = 0L
    @volatile var tasks = 0L
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) synchronized {
        stages += 1
        tasks += e.stageInfo.numTasks
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        memSpill += m.memoryBytesSpilled
        diskSpill += m.diskBytesSpilled
        peakMem = math.max(peakMem, m.peakExecutionMemory)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build("graft-bench-one", cpus)
    val metrics =
      if (sys.env.get("SPARK_GRAFT_METRICS").contains("1")) {
        val l = new StageMetrics
        spark.sparkContext.addSparkListener(l)
        Some(l)
      } else None
    val fn = SparkEntry.queries(name)
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      // Between-reps hygiene, untimed: drop cached frames, then nudge the
      // ContextCleaner so the previous rep's shuffle files are deleted —
      // without this, shuffle-heavy ops pay rep N-1's disk residue in
      // rep N and "warm" reads SLOWER than cold (seen at sf1 on the
      // dedup closure family: 34 s cold / 58 s "warm").
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(200)
      dt
    }
    println(s"""{"query":"$name","sf":"$sfDir","times":[${times.map(t => f"$t%.2f").mkString(",")}]}""")
    metrics.foreach { l =>
      println(s"""{"metrics":"$name","shuffle_read_bytes":${l.shuffleRead},""" +
        s""""shuffle_write_bytes":${l.shuffleWrite},""" +
        s""""memory_spill_bytes":${l.memSpill},"disk_spill_bytes":${l.diskSpill},""" +
        s""""peak_execution_memory":${l.peakMem},"jobs":${l.jobs},""" +
        s""""stages":${l.stages},"tasks":${l.tasks},"reps":$reps}""")
    }
    spark.stop()
  }
}
