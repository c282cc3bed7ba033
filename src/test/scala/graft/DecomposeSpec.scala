package graft

import graft.core.{AttrSet, Jd}
import graft.decompose.{Decomposer, DecompositionService}
import graft.entropy.EntropyEngine
import graft.mine.JdMiner
import graft.schema.{AcyclicSchema, JoinTree, SchemaEnumerator}
import org.scalatest.funsuite.AnyFunSuite

class DecomposeSpec extends AnyFunSuite {
  import SparkSuite._

  private val j1 = Jd(AttrSet(1), Vector(AttrSet(0), AttrSet(2, 3)))
  private val j2 = Jd(AttrSet(2), Vector(AttrSet(0, 1), AttrSet(3)))
  private val jCross = Jd(AttrSet(0, 2), Vector(AttrSet(1), AttrSet(3)))

  test("clustersOf applies JDs to a path decomposition") {
    val cl = JoinTree.clustersOf(4, Seq(j1, j2))
    assert(cl.contains(Vector(AttrSet(0, 1), AttrSet(1, 2), AttrSet(2, 3))))
  }

  test("compatibility: path JDs compatible, crossing JDs not") {
    assert(JoinTree.compatible(4, j1, j2))
    assert(!JoinTree.compatible(4, j1, jCross))
  }

  test("join tree has running-intersection separators") {
    val tree = JoinTree.fromJds(4, Seq(j1, j2)).get
    assert(tree.edges.length == 2)
    assert(tree.separators.toSet == Set(AttrSet(1), AttrSet(2)))
  }

  test("schema enumerator emits maximal compatible sets") {
    val jds = Vector(j1, j2, jCross)
    val schemas = new SchemaEnumerator(4, jds).schemas().toSeq
    val sets = schemas.map(_.jds.toSet).toSet
    assert(sets == Set(Set(j1, j2), Set(jCross)))
  }

  test("fold join size equals distinct-join count (lossless and lossy)") {
    for (noise <- Seq(0, 10)) {
      val dec = new Decomposer(relation(chainFixture(noise)))
      val clusters = Vector(AttrSet(0, 1), AttrSet(1, 2), AttrSet(2, 3))
      val tree = JoinTree.build(clusters)
      val fold = dec.joinSize(tree)
      val slow = dec.distinctJoinCount(clusters)
      assert(fold == BigInt(slow), s"noise=$noise")
      if (noise == 0) assert(fold == BigInt(dec.numTuples)) // lossless
      else assert(fold > BigInt(dec.numTuples)) // spurious tuples appear
    }
  }

  test("empty separator degenerates to a cross join") {
    val dec = new Decomposer(relation(chainFixture(0)))
    val tree = JoinTree.build(Vector(AttrSet(0), AttrSet(3)))
    assert(tree.edges.head.sep.isEmpty)
    val expected = dec.clusterSize(AttrSet(0)) * dec.clusterSize(AttrSet(3))
    assert(dec.joinSize(tree) == BigInt(expected))
  }

  test("evaluate reports sizes and spuriousness") {
    val dec = new Decomposer(relation(chainFixture(0)))
    val info = dec.evaluate(JoinTree.build(Vector(AttrSet(0, 1), AttrSet(1, 2, 3))))
    assert(info.isLossless)
    assert(info.clusterSizes.length == 2)
    assert(info.totalTuples == info.clusterSizes.sum)
    assert(info.totalCells ==
      2 * info.clusterSizes(0) + 3 * info.clusterSizes(1))
  }

  test("decomposition service memoizes and returns the evaluation") {
    val dec = new Decomposer(relation(chainFixture(0)))
    val svc = new DecompositionService(spark, dec, workers = 2)
    val tree = JoinTree.build(Vector(AttrSet(0, 1), AttrSet(1, 2, 3)))
    val a = svc.submitJobSynchronous(tree)
    val b = svc.submitJobSynchronous(tree)
    assert(a == b)
    assert(svc.submitJob(tree) eq svc.submitJob(tree))
    // a failed evaluation (attribute 9 does not exist) is not memoized:
    // the retry runs again
    val bad = JoinTree.build(Vector(AttrSet(0, 9)))
    val failed = svc.submitJob(bad)
    assert(scala.util.Try(svc.submitJobSynchronous(bad)).isFailure && failed.isCompleted)
    assert(svc.submitJob(bad) ne failed)
    svc.shutdown()
  }

  test("two concurrent misses on one tree run one evaluation") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val tree = JoinTree.build(Vector(AttrSet(0, 1), AttrSet(1, 2, 3)))
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    // jobs started in decomposition job groups while `run` ran; the bus
    // delivers in order, so once a marker job submitted afterwards is
    // seen, every earlier job start has been counted
    def decompJobs(run: => Unit): Int = {
      groups.clear()
      run
      val marker = s"marker-${System.nanoTime()}"
      spark.sparkContext.setJobGroup(marker, marker)
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!groups.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(marker), "listener bus did not deliver the marker job")
      groups.asScala.count(_.startsWith("decomp-"))
    }
    def service() =
      new DecompositionService(spark, new Decomposer(relation(chainFixture(0))), workers = 2)
    spark.sparkContext.addSparkListener(listener)
    try {
      val alone = decompJobs {
        val svc = service()
        svc.submitJobSynchronous(tree)
        svc.shutdown()
      }
      val svc = service()
      val start = new java.util.concurrent.CyclicBarrier(2)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
      val together = decompJobs {
        val clients = (1 to 2).map(_ => new Thread(() => {
          start.await()
          results.add(svc.submitJobSynchronous(tree))
        }))
        clients.foreach(_.start())
        clients.foreach(_.join())
      }
      svc.shutdown()
      assert(alone > 0 && together == alone, s"alone=$alone together=$together")
      assert(results.size == 2 && results.asScala.toSet.size == 1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("end to end: mine separators, enumerate schemas, evaluate losslessly") {
    val rows = chainFixture(0)
    val eng = new EntropyEngine(relation(rows).cache())
    val miner = new JdMiner(eng, 0.0)
    val jds = miner.mineAllFullJds(limit = 5).toVector
    assert(jds.nonEmpty)
    val schemas = new SchemaEnumerator(4, jds).schemas(limit = 5).toSeq
    assert(schemas.nonEmpty)
    val dec = new Decomposer(relation(rows))
    for (schema <- schemas.take(2)) {
      val info = dec.evaluate(schema.tree)
      // JDs mined at threshold 0 on exact data must reassemble losslessly
      assert(info.isLossless, s"schema ${schema.clusters} spurious=${info.spurious}")
    }
  }
}
