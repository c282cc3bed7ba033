package graft.tools

import graft.{Sessions, SparkEntry}

/** Dev tool: run one registered query N times with timings and print its
  * formatted physical plan. Usage:
  *   runMain graft.tools.Explain <queryName> [sfDir] [reps] [--final]
  * (AQE off: `SPARK_GRAFT_CONF=spark.sql.adaptive.enabled=false`).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    val name = pos(0)
    val sfDir = if (pos.length > 1) pos(1) else "/root/testdata/sf0.1"
    val reps = if (pos.length > 2) pos(2).toInt else 3
    val cpus = graft.Env.cpus(default = 32)
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    println(s"=== $name @ $sfDir (aqe=$aqe) ===")
    val df = fn(spark, sfDir)
    df.explain("formatted")
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      val n = graft.Materialize(fn(spark, sfDir))
      println(f"run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    // With AQE the pre-execution plan is the INITIAL one
    // (isFinalPlan=false); after materializing the same DataFrame, the
    // re-printed plan shows the runtime-reoptimized joins and
    // AQEShuffleReads — the shape that actually ran.
    if (args.contains("--final")) {
      graft.Materialize(df)
      println(s"=== $name FINAL (post-execution) plan ===")
      df.explain("formatted")
    }
    spark.stop()
  }
}
