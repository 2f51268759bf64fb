package graft

/** Dev tool: time ONE declared query, warm + `reps` timed executions.
  * Usage: `runMain graft.BenchOne q_sim_ivf [reps]` with the same env as
  * [[Bench]] (`SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`). Per-rep times
  * expose the variance a single [[Bench]] pass hides, so a 0.1 s delta
  * can be judged signal vs noise before chasing it.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: BenchOne <query> [reps]"))
    val reps = if (args.length > 1) args(1).toInt else 5
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder("graft-bench-one", s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    FullExec.count(fn(spark, warmDir))
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      FullExec.count(fn(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }
    println(f"[benchone] $name reps=$reps min=${times.min}%.3f median=${times.sorted.apply(reps / 2)}%.3f max=${times.max}%.3f all=${times.map(t => f"$t%.3f").mkString(",")}")
    spark.stop()
  }
}
