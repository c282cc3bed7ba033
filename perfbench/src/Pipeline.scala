package perfbench

import graft.Tables
import graft.core.{AttrSet, Jd}
import graft.data.Ingest
import graft.decompose.{DecompositionInfo, DecompositionService, Decomposer}
import graft.entropy.EntropyEngine
import graft.mine.{JdMiner, MvdMiner}
import graft.schema.{JoinTree, SchemaEnumerator}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.control.NonFatal

/** The pipeline's relation: 6 key-like columns of the star join of
  * lineitem, orders, customer and supplier, over every fourth order.
  * (l_orderkey, l_linenumber) is a key, with the planted FDs
  * l_orderkey -> o_custkey -> c_nationkey and l_suppkey -> s_nationkey.
  */
object Relation {
  val Cols = Seq("l_orderkey", "l_linenumber", "l_suppkey", "s_nationkey", "o_custkey", "c_nationkey")
  val Epsilon = 0.3
  val Sample = 4

  def star(ctx: Ctx): DataFrame = {
    val (s, d) = (ctx.spark, ctx.data.toString)
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .filter(col("l_orderkey") % Sample === 0)
  }

  /** The encoded relation, columns in the renaming's order, cached and
    * counted. Returns it with the encode time in seconds.
    */
  def encoded(ctx: Ctx, ren: Renaming): (DataFrame, Double) = {
    val t0 = System.nanoTime()
    val rel = Ingest.encode(Ingest.relationOf(star(ctx), ren.perm.map(Cols)))
      .repartition(ctx.cpus).cache()
    rel.count()
    (rel, (System.nanoTime() - t0) / 1e9)
  }
}

/** GYO reduction: a hypergraph is acyclic iff repeatedly deleting the
  * attributes that occur in one edge only, and the edges contained in
  * another edge, leaves at most one edge.
  */
object Acyclic {
  def apply(edges: Seq[AttrSet]): Boolean = {
    var es = edges.toVector
    var changed = true
    while (changed) {
      val counts = es.flatMap(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
      val stripped = es.map(e => AttrSet.of(e.toSeq.filter(counts(_) > 1)))
      val kept = stripped.indices.filterNot { i =>
        stripped.indices.exists(j => j != i && stripped(i).subsetOf(stripped(j)) &&
          (stripped(i) != stripped(j) || j < i))
      }.map(stripped).toVector
      changed = kept != es
      es = kept
    }
    es.size <= 1
  }
}

/** Trace arithmetic shared by the workloads. */
object Layers {
  /** Harness spans of `layer` directly under the passes' root spans. */
  def spansOf(tr: Tracer, passes: Seq[PassOut], layer: String): Seq[Span] = {
    val roots = passes.map(_.rootSpan).toSet
    tr.allSpans.filter(s => s.layer == layer && roots.contains(s.parent))
  }
  def jobSpans(tr: Tracer, group: String): Seq[Span] =
    tr.allSpans.filter(s => s.layer == "spark" && s.group == group)
  def mean(passes: Seq[PassOut], key: String): Double =
    passes.map(_.counts(key)).sum / passes.size
}

/** `pipeline`: the paper's workflow, one pass at a time.
  *
  *  1. mine: on a fresh entropy engine, MVDs, every minimal separator and
  *     the full JDs (exhaustive, so the result does not depend on the
  *     attribute order and is checked against the golden modulo renaming);
  *  2. enumerate: every acyclic schema of the mined JDs (driver-only),
  *     given in the fixed attribute order (see [[canonical]]);
  *  3. evaluate: a fixed list of schemas through a fresh
  *     [[DecompositionService]], with `cpus - 1` client threads in a
  *     closed loop.
  *
  * Every output is checked against the goldens on every pass. The
  * evaluated schemas are given by their clusters, whose join tree
  * `JoinTree.build` derives in the seed's attribute order.
  */
final class PipelineWorkload(ctx: Ctx) extends Workload {
  val opKind = "eval"
  private val n = Relation.Cols.length
  private val ren = ctx.renaming(n)
  private val clients = math.max(1, ctx.cpus - 1)
  private val minedGolden = ctx.goldens.resolve("pipeline-mined.txt")
  private val evalGolden = ctx.goldens.resolve("pipeline-eval.txt")
  /** How many enumerated schemas `--mode record` keeps for evaluation. */
  private val RecordSchemas = 3
  private var rel: DataFrame = _
  private var rows = 0L
  private var decomposer: Decomposer = _

  private lazy val expected = Goldens.read(minedGolden).toSet

  /** Expected result line -> its join tree, in a seed-shuffled order. */
  private lazy val schemas: Seq[(String, JoinTree.Tree)] = {
    val cluster = "\\{([^}]*)\\}:".r
    val ordered = Goldens.read(evalGolden).map { line =>
      val clusters = cluster.findAllMatchIn(line).map { m =>
        ren.forward(AttrSet.of(m.group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt)))
      }.toVector
      line -> JoinTree.build(clusters)
    }
    new scala.util.Random(ctx.seed).shuffle(ordered)
  }

  def setup(): Map[String, Double] = {
    val (df, encodeS) = Relation.encoded(ctx, ren)
    rel = df
    rows = rel.count()
    decomposer = new Decomposer(rel)
    Map("data.encode_s" -> encodeS, "data.rows" -> rows.toDouble,
      "data.distinct_rows" -> decomposer.numTuples.toDouble)
  }

  def release(): Unit = {
    decomposer.distinctRelation.unpersist(blocking = true)
    rel.unpersist(blocking = true)
  }

  /** Mines on a fresh engine; returns the JDs and the canonical lines. */
  private def mine(p: PassOut): Either[String, (Seq[Jd], Seq[String])] = {
    val tr = ctx.tracer
    val eng = new EntropyEngine(rel, Some(rows))
    val stop = new AtomicBoolean(false)
    def call[T](phase: String)(body: => T): Either[String, T] = {
      val g = p.group(phase)
      val t0 = System.nanoTime()
      val r = tr.span(phase, "mine", p.rootSpan, g) { _ => Budget.run(ctx.sc, g, ctx.budgetS, stop)(body) }
      p.add(s"mine.${phase}_s", (System.nanoTime() - t0) / 1e9)
      r
    }
    val t0 = System.nanoTime()
    val miner = new JdMiner(eng, Relation.Epsilon, () => stop.get)
    val out = for {
      mvds <- call("mvd")(new MvdMiner(eng, Relation.Epsilon, () => stop.get).mine())
      seps <- call("minseps")(miner.mineAllMinSeps())
      jds <- call("jds")(miner.mineAllFullJds(Int.MaxValue, Some(seps)))
    } yield (mvds, seps, jds)
    val mineS = (System.nanoTime() - t0) / 1e9
    p.add("entropy.spark_jobs", eng.numQueriesIssued.toDouble)
    p.add("entropy.memo_hits", eng.numCacheHits.toDouble)
    p.add("entropy.subsets", eng.cachedEntropies.toDouble)
    val result = out.map { case (mvds, seps, jds) =>
      p.add("mine.mvds", mvds.size)
      p.add("mine.separators", seps.size)
      p.add("mine.jds", jds.size)
      p.telemetry += mutable.LinkedHashMap(
        "#Attributes" -> n.toString, "#Rows" -> rows.toString,
        "Threshold" -> Relation.Epsilon.toString, "#MVDs" -> mvds.size.toString,
        "#Minimal Separators" -> seps.size.toString, "#Full MVDs" -> jds.size.toString,
        "#queries" -> eng.numQueriesIssued.toString,
        "#cached entropies" -> eng.cachedEntropies.toString, "mine_s" -> mineS.toString)
      val lines = mvds.map(ren.mvd) ++
        seps.toSeq.flatMap { case (s, pairs) => pairs.map { case (a, b) => ren.sep(s, a, b) } } ++
        jds.map(ren.jd)
      (jds, lines)
    }
    val checked = result.flatMap { case r @ (_, lines) => check(lines, Set("mvd", "sep", "jd")).map(_ => r) }
    p.op("mine", "mine", mineS, checked)
    checked
  }

  /** `lines` against the golden lines of the given kinds. */
  private def check(lines: Seq[String], kinds: Set[String]): Either[String, Unit] = {
    if (ctx.mode == "record") return Right(())
    val got = lines.toSet
    val exp = expected.filter(l => kinds.contains(l.takeWhile(_ != ' ')))
    if (got == exp) Right(())
    else Left(s"wrong: ${(got -- exp).size} unexpected (${(got -- exp).toSeq.sorted.take(3).mkString("; ")}), " +
      s"${(exp -- got).size} missing (${(exp -- got).toSeq.sorted.take(3).mkString("; ")})")
  }

  /** Enumerates every schema of the JDs; returns their clusters. */
  private def enumerate(p: PassOut, jds: Seq[Jd]): Either[String, Seq[Vector[AttrSet]]] = {
    val t0 = System.nanoTime()
    val en = new SchemaEnumerator(n, jds.toVector)
    val r = ctx.tracer.span("enumerate", "schema", p.rootSpan) { _ =>
      Budget.driverOnly(ctx.budgetS)(en.schemas().map(_.clusters.sorted).toVector)
    }
    val s = (System.nanoTime() - t0) / 1e9
    p.add("schema.enumerate_s", s)
    r.foreach { found =>
      p.add("schema.emitted", found.size)
      p.add("schema.skipped_unrealizable", en.skippedUnrealizable)
      p.add("schema.cyclic", found.count(c => !Acyclic(c)))
      p.telemetry.lastOption.foreach(_("#Schemas") = found.size.toString)
    }
    p.op("enumerate", "enumerate", s, r.flatMap(found => check(found.map(schemaLine), Set("schema"))))
    r
  }

  private def schemaLine(clusters: Seq[AttrSet]): String = "schema " + clusters.mkString(" ")

  private def render(info: DecompositionInfo): String = {
    val sized = info.clusters.zip(info.clusterSizes)
      .map { case (c, s) => s"${ren.back(c)}:$s" }.sorted.mkString(" ")
    s"eval $sized join=${info.joinSize} spurious=${info.spurious}"
  }

  /** The service's job group for a tree (it names groups by cluster list). */
  private def groupOf(tree: JoinTree.Tree): String =
    "decomp-" + tree.clusters.map(_.toString).mkString("|").hashCode.toHexString

  private def evaluate(p: PassOut): Unit = {
    val tr = ctx.tracer
    val service = new DecompositionService(ctx.spark, decomposer, workers = clients)
    val queue = new ConcurrentLinkedQueue[(String, JoinTree.Tree)]()
    schemas.foreach(queue.add)
    def client(): Unit = {
      var next = queue.poll()
      while (next != null) {
        val (line, tree) = next
        val t0 = System.nanoTime()
        val s0 = tr.nowMs
        val r: Either[String, DecompositionInfo] =
          try Right(Await.result(service.submitJob(tree), ctx.budgetS.seconds))
          catch {
            case _: java.util.concurrent.TimeoutException =>
              service.cancelJob(tree); Left("timeout")
            case NonFatal(e) => Left(s"error: $e")
          }
        val s = (System.nanoTime() - t0) / 1e9
        tr.record("eval", "decompose", p.rootSpan, groupOf(tree), s0, tr.nowMs)
        val checked = r.flatMap(info =>
          if (render(info) == line) Right(info) else Left(s"wrong: ${render(info)}"))
        p.synchronized {
          p.op("eval", line, s, checked)
          checked.foreach { info =>
            p.add("decompose.spurious", info.spurious.toDouble)
            p.telemetry += mutable.LinkedHashMap(
              "#Attributes" -> n.toString, "#Rows" -> info.numTuples.toString,
              "#Relations" -> info.clusters.size.toString,
              "Largest Relation" -> info.largestRelation.toString,
              "#Spurious Tuples" -> info.spurious.toString,
              "DecompositionSize" -> info.totalTuples.toString,
              "DecompositionCells" -> info.totalCells.toString, "eval_s" -> s.toString)
          }
        }
        next = queue.poll()
      }
    }
    val threads = (1 to clients).map(i => new Thread(() => client(), s"pipeline-client-$i"))
    threads.foreach(_.start())
    threads.foreach(_.join())
    service.shutdown()
  }

  /** The mined JDs in the fixed attribute order: which JD sets build a
    * join tree depends on the numbering, so enumerating the renamed JDs
    * would make the enumeration's work and output depend on the seed.
    */
  private def canonical(jds: Seq[Jd]): Seq[Jd] = jds.map(ren.back).sortBy(_.toString)

  def pass(p: PassOut): Unit = {
    mine(p).foreach { case (jds, _) => enumerate(p, canonical(jds)) }
    evaluate(p)
  }

  def layers(traced: Seq[PassOut]): Map[String, Double] = {
    val tr = ctx.tracer
    val nPasses = traced.size.toDouble
    // entropy + mine: the engine's jobs run in the mining spans' job groups
    val mining = Layers.spansOf(tr, traced, "mine")
    val entropy = tr.statsWhere(g => mining.exists(_.group == g))
    val jobS = mining.flatMap(s => Layers.jobSpans(tr, s.group)).map(_.durMs).sum / 1e3 / nPasses
    val mineS = traced.flatMap(_.ops).filter(_.kind == "mine").map(_.seconds).sum / nPasses
    traced.foreach(_.telemetry.filter(_.contains("mine_s")).foreach(_("%querying") = (jobS / mineS).toString))
    val hits = Layers.mean(traced, "entropy.memo_hits")
    val subsets = Layers.mean(traced, "entropy.subsets")
    // decompose: per evaluation, submit -> its first job start -> result
    val evals = Layers.spansOf(tr, traced, "decompose")
    val decompJobs = tr.allSpans.filter(s => s.layer == "spark" && s.group.startsWith("decomp-"))
    val split = evals.flatMap { e =>
      decompJobs.filter(j => j.group == e.group && j.startMs >= e.startMs && j.startMs <= e.endMs)
        .map(_.startMs).minOption.map(first => (first - e.startMs, e.endMs - first))
    }
    val decomp = tr.statsWhere(_.startsWith("decomp-"))
    val emitted = Layers.mean(traced, "schema.emitted")
    val skipped = Layers.mean(traced, "schema.skipped_unrealizable")
    Seq("schema.cyclic", "entropy.spark_jobs", "mine.mvd_s", "mine.minseps_s", "mine.jds_s", "mine.mvds",
      "mine.separators", "mine.jds", "schema.enumerate_s", "decompose.spurious")
      .map(k => k -> Layers.mean(traced, k)).toMap ++ Map(
      "entropy.memo_hits" -> hits,
      "entropy.subsets" -> subsets,
      "entropy.hit_ratio" -> hits / (hits + subsets),
      "entropy.job_s" -> jobS,
      "entropy.task_s" -> entropy.taskMs / 1e3 / nPasses,
      "entropy.rows_read" -> entropy.recordsRead / nPasses,
      "entropy.shuffle_bytes" -> entropy.shuffleBytes / nPasses,
      "mine.driver_s" -> mining.map(s => SelfTime.of(s, Layers.jobSpans(tr, s.group))).sum / 1e3 / nPasses,
      "schema.emitted" -> emitted,
      "schema.skipped_unrealizable" -> skipped,
      "schema.yield" -> emitted / (emitted + skipped),
      "decompose.wait_s" -> Main.median(split.map(_._1 / 1e3)),
      "decompose.eval_s" -> Main.median(split.map(_._2 / 1e3)),
      "decompose.spark_jobs" -> decomp.jobs / nPasses,
      "decompose.task_s" -> decomp.taskMs / 1e3 / nPasses,
      "decompose.shuffle_bytes" -> decomp.shuffleBytes / nPasses,
      "decompose.spill_bytes" -> decomp.spillBytes / nPasses)
  }

  /** Mines, then keeps the first [[RecordSchemas]] enumerated schemas and
    * records their evaluations.
    */
  def record(): Unit = {
    val p = new PassOut(0, traced = false)
    val (jds, lines) = mine(p).fold(f => sys.error(s"mining failed: $f"), identity)
    val found = enumerate(p, canonical(jds)).fold(f => sys.error(s"enumeration failed: $f"), identity)
    Goldens.write(minedGolden, (lines ++ found.map(schemaLine)).sorted)
    // a cyclic cluster set has no join tree, so the count fold over the
    // spanning tree JoinTree.build picks for it is not its join size
    val picked = found.filter(Acyclic(_)).take(RecordSchemas)
    val evals = picked.map(c => render(decomposer.evaluate(JoinTree.build(c))))
    Goldens.write(evalGolden, evals)
    println(s"[record] pipeline: ${lines.size} mined lines, ${found.size} schemas " +
      s"(${found.count(c => !Acyclic(c))} cyclic), ${evals.size} evaluated")
  }

  /** MVDs against the exhaustive miner, which measures every candidate;
    * writes the relation and each schema's clusters for the DuckDB
    * spurious-count check in validate.py.
    */
  def validate(): Seq[String] = {
    val eng = new EntropyEngine(rel, Some(rows))
    val brute = new MvdMiner(eng, Relation.Epsilon).bruteForce().map(ren.mvd).toSet
    val golden = expected.filter(_.startsWith("mvd "))
    val dir = ctx.out.resolve("validate").resolve("pipeline")
    rel.write.mode("overwrite").parquet(dir.resolve("relation").toString)
    Goldens.write(dir.resolve("schemas.tsv"), schemas.map { case (line, tree) =>
      tree.clusters.map(_.toSeq.map(i => s"att$i").mkString(",")).mkString(";") + "\t" + line
    })
    if (brute == golden) Nil
    else Seq(s"MVD golden differs from MvdMiner.bruteForce: ${(golden -- brute).size} extra, ${(brute -- golden).size} missing")
  }
}
