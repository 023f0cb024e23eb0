package perfbench

/** Digests of op outputs that graft.Verify wrote as parquet, one line of
  * `op<TAB>digest-json` per op, for tying the committed expected digests
  * to outputs the DuckDB oracle has checked.
  *
  * {{{ DigestDir <verify-out-dir> op [op...] }}} */
object DigestDir {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.build("perfbench-digest", "4")
    args.tail.foreach { op =>
      val d = Harness.outputDigest(spark.read.parquet(s"${args.head}/$op"))
      println(s"$op\t$d")
    }
    spark.stop()
  }
}
