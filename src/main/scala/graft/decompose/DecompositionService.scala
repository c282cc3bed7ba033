package graft.decompose

import graft.core.AttrSet
import graft.schema.JoinTree
import org.apache.spark.sql.SparkSession

import java.util.concurrent.Executors
import scala.concurrent.{ExecutionContext, Future}

/** Async decomposition-evaluation facade: the Spark analogue of the
  * reference's stream-of-jobs service (`entropy/NewSmallDBInMemory.java:
  * 63-178,295-352` — BlockingQueue + worker threads each owning a SQLite
  * copy + LRU of results). Here the "private DB copy" is Spark's shared
  * cached plan; workers are a small driver-side pool submitting Spark
  * actions; cancellation maps to `cancelJobGroup`; results keep an LRU
  * keyed by the cluster set, holding at most 100 evaluations.
  */
final class DecompositionService(
    spark: SparkSession,
    decomposer: Decomposer,
    workers: Int = math.min(4, Runtime.getRuntime.availableProcessors() - 1)) {

  // daemon workers: a missed shutdown() (e.g. an exception before it)
  // must not pin the JVM open
  private val pool = Executors.newFixedThreadPool(math.max(1, workers),
    (r: Runnable) => {
      val t = new Thread(r, "decomposition-worker")
      t.setDaemon(true)
      t
    })
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  private val CacheMax = 100
  // access-ordered LRU, like the reference's LinkedHashMap(accessOrder);
  // it holds the Future, so a miss during an evaluation joins it
  private val lru = new java.util.LinkedHashMap[Set[AttrSet], Future[DecompositionInfo]](
    16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[Set[AttrSet], Future[DecompositionInfo]]): Boolean =
      size() > CacheMax
  }

  private def jobGroup(tree: JoinTree.Tree): String =
    "decomp-" + tree.clusters.map(_.toString).mkString("|").hashCode.toHexString

  /** Submit an evaluation; memoized on the cluster set, one at a time
    * per set. A failed or cancelled one is replaced, so a retry re-runs. */
  def submitJob(tree: JoinTree.Tree): Future[DecompositionInfo] = {
    val key = tree.clusters.toSet
    lru.synchronized {
      Option(lru.get(key)).filterNot(_.value.exists(_.isFailure)).getOrElse {
        val f = Future {
          spark.sparkContext.setJobGroup(jobGroup(tree),
            s"decomposition ${tree.clusters.mkString(", ")}", interruptOnCancel = true)
          try decomposer.evaluate(tree)
          finally spark.sparkContext.clearJobGroup()
        }
        lru.put(key, f)
        f
      }
    }
  }

  def submitJobSynchronous(tree: JoinTree.Tree): DecompositionInfo = {
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    Await.result(submitJob(tree), Duration.Inf)
  }

  /** Cooperative cancellation of a submitted evaluation's Spark jobs. */
  def cancelJob(tree: JoinTree.Tree): Unit =
    spark.sparkContext.cancelJobGroup(jobGroup(tree))

  def shutdown(): Unit = pool.shutdown()
}
