package graft

/** Catalog micro-bench: `runMain graft.MiniBench <sfDir> <passes> <q1,q2,...>`
  * — times a comma-separated list of catalog queries (one is fine)
  * through the same noop-sink path as [[Bench]] in ONE session (one
  * JVM/session startup for a whole config experiment). Each query gets
  * one warmup pass (timed and printed, not counted: it includes
  * JIT/codegen warmup), then `passes` timed passes, each printed; the
  * reported stat is the MIN (the config-experiment question is intrinsic
  * cost, and load noise is additive — the [[Bench]] slowest-decile
  * rationale). Dev tool for plan iteration; the driver's numbers come
  * from [[Bench]]. */
object MiniBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val passes = args(1).toInt
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cores = cpus, appName = "graft-minibench")
    val bad = names.filterNot(SparkEntry.queries.contains)
    require(bad.isEmpty, s"unknown queries: ${bad.mkString(", ")}")
    def runOne(name: String): Double = {
      val fn = SparkEntry.queries(name)
      def timed(label: String): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[minibench] $name $label: $s%.3f s")
        s
      }
      timed("warmup")
      (1 to passes).map(i => timed(s"pass $i")).min
    }
    val results = names.map(n => n -> runOne(n))
    results.foreach { case (n, t) => println(f"[minibench] $n%-40s $t%8.3f s") }
    println(f"[minibench] TOTAL ${results.map(_._2).sum}%8.3f s over ${results.length} queries")
    spark.stop()
  }
}
