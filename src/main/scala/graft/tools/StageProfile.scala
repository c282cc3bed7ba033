package graft.tools

import graft.{Sessions, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import scala.collection.mutable

/** Dev profiler: run one registered query and print per-stage wall
  * time, task time, and shuffle/input volumes — the empirical loop of
  * the optimization guide (§1.1) without the UI (spark.ui is disabled
  * in this sandbox). Stages are attributed by their callsite string.
  *
  * Usage: runMain graft.tools.StageProfile <queryName> [sfDir] [reps]
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.builder(graft.Env.cpus(default = 32)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = mutable.ArrayBuffer.empty[(Int, String, Long, Long, Long, Long, Long, Int)]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        rows.synchronized {
          rows += ((si.stageId, si.name.takeWhile(_ != '\n').take(90), wall,
            m.executorRunTime,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.inputMetrics.bytesRead, si.numTasks))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val fn = SparkEntry.queries(name)
    for (r <- 1 to reps) {
      rows.synchronized(rows.clear())
      val t0 = System.nanoTime()
      val n = graft.Materialize(fn(spark, sfDir))
      val sec = (System.nanoTime() - t0) / 1e9
      graft.data.ScopedCaches.releaseAll()
      spark.catalog.clearCache()
      // Listener events are posted asynchronously and the bus drain API is
      // private[spark]; poll until the row count is stable for 200 ms
      // (bounded at 2 s).
      var prev = -1
      var spins = 0
      while (spins < 10 && rows.synchronized(rows.size) != prev) {
        prev = rows.synchronized(rows.size)
        Thread.sleep(200)
        spins += 1
      }
      if (rows.synchronized(rows.size) != prev)
        System.err.println(s"[stageprofile] WARNING: $name rep $r: stage " +
          "rows still arriving after the 2 s settle bound; the table below " +
          "may be missing stages")
      val snap = rows.synchronized(rows.toVector)
      println(f"=== $name rep $r: $sec%.2f s ($n rows), ${snap.size} stages ===")
      println(f"${"stage"}%6s ${"wall_ms"}%8s ${"task_ms"}%9s ${"shRead"}%10s ${"shWrite"}%10s ${"input"}%10s ${"tasks"}%5s  name")
      snap.sortBy(-_._3).take(25).foreach {
        case (id, nm, wall, task, sr, sw, in, nt) =>
          println(f"$id%6d $wall%8d $task%9d $sr%10d $sw%10d $in%10d $nt%5d  $nm")
      }
    }
    spark.sparkContext.removeSparkListener(listener)
    spark.stop()
  }
}
