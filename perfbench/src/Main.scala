package perfbench

import graft.Sessions
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One operation of a pass: a mining call, an enumeration, a schema
  * evaluation or a query. `name` tells apart the operations of one kind
  * (a schema, a query). `failure` is set for errors, timeouts and
  * outputs that differ from their golden.
  */
final case class Op(kind: String, name: String, seconds: Double, failure: Option[String])

/** What one pass did. `counts` holds per-pass layer numbers the program
  * reports itself (engine counters, result sizes); Spark-side numbers come
  * from the tracer.
  */
final class PassOut(val index: Int, val traced: Boolean) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val counts = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  /** Reference telemetry rows (BASELINE.md column names), JSON values. */
  val telemetry = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, String]]
  var rootSpan: Int = -1
  var wallS = 0.0
  var gcS = 0.0
  def group(phase: String): String = s"p$index.$phase"
  def add(key: String, v: Double): Unit = counts(key) += v
  def op(kind: String, name: String, seconds: Double, result: Either[String, _]): Unit =
    ops += Op(kind, name, seconds, result.left.toOption)
}

final case class Ctx(spark: SparkSession, tracer: Tracer, data: Path, goldens: Path,
                     out: Path, seed: Long, cpus: Int, budgetS: Double, mode: String) {
  def sc = spark.sparkContext
  /** Benchmark runs see a seed-permuted attribute order; recording and
    * validating goldens use the fixed order.
    */
  def renaming(n: Int): Renaming =
    if (mode == "bench") Renaming.seeded(n, seed) else Renaming.identity(n)
}

/** A benchmark workload: set-up that can be repeated, and closed-loop
  * passes that check every output against a golden.
  */
trait Workload {
  /** The operation kind whose latencies make op_p50_s; every pass runs
    * the same fixed list of operations of this kind.
    */
  def opKind: String
  /** Build the inputs. Returns data-layer numbers (encode time, rows). */
  def setup(): Map[String, Double]
  /** Drop what [[setup]] cached, so set-up can be timed again. */
  def release(): Unit
  def pass(p: PassOut): Unit
  /** Per-layer metrics from the traced passes. */
  def layers(traced: Seq[PassOut]): Map[String, Double]
  /** Write goldens from an unpermuted run (`--mode record`). */
  def record(): Unit
  /** Check the goldens against independent paths; returns problems. */
  def validate(): Seq[String]
}

object Main {

  /** Every per-layer metric, in the order BENCHMARK.json lists them. */
  val PerLayer: Seq[String] = Seq(
    "data.encode_s", "data.rows", "data.distinct_rows",
    "entropy.spark_jobs", "entropy.memo_hits", "entropy.subsets", "entropy.hit_ratio",
    "entropy.job_s", "entropy.task_s", "entropy.rows_read", "entropy.shuffle_bytes",
    "mine.mvd_s", "mine.minseps_s", "mine.jds_s", "mine.driver_s",
    "mine.mvds", "mine.separators", "mine.jds",
    "schema.enumerate_s", "schema.emitted", "schema.skipped_unrealizable", "schema.yield",
    "schema.cyclic",
    "decompose.eval_s", "decompose.wait_s", "decompose.spark_jobs", "decompose.task_s",
    "decompose.shuffle_bytes", "decompose.spill_bytes", "decompose.spurious",
    "ops.plan_s", "ops.exec_s", "ops.jobs", "ops.task_s", "ops.shuffle_bytes", "ops.spill_bytes") ++
    OpsWorkload.Queries.flatMap(q => Seq(s"ops.$q.plan_s", s"ops.$q.exec_s")) ++ Seq(
    "jvm.gc_s", "spark.stages", "spark.tasks",
    "trace.passes", "trace.overhead_frac", "trace.pass_self_frac")

  /** Passes run before the measured window. The first pass pays for
    * class loading, code generation and compilation; with C1 only (see
    * run.py) later passes are within a few percent of each other.
    */
  val WarmupPasses = 1

  /** Wall-clock budget of one operation. */
  val BudgetS = 60.0

  private def arg(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`key`, v) => v }

  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(sys.error("--seed is required"))
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val mode = arg(args, "--mode").getOrElse("bench")
    val data = Paths.get(arg(args, "--data").getOrElse("perfbench/data/sf0.01"))
    val goldens = Paths.get(arg(args, "--goldens").getOrElse("perfbench/goldens"))
    val out = Paths.get(".bench_build/perfbench")
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    require(Files.isDirectory(data), s"data directory $data not found")

    val spark = Sessions.builder(cpus)
      .config("spark.local.dir", out.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, new Tracer(spark.sparkContext), data, goldens, out, seed, cpus, BudgetS, mode)
    val w: Workload = workload match {
      case "pipeline" => new PipelineWorkload(ctx)
      case "ops" => new OpsWorkload(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    try mode match {
      case "record" => w.setup(); w.record()
      case "validate" =>
        w.setup()
        val problems = w.validate()
        problems.foreach(p => println(s"[validate] $workload: $p"))
        println(s"[validate] $workload: ${if (problems.isEmpty) "ok" else s"${problems.size} problem(s)"}")
        if (problems.nonEmpty) sys.exit(1)
      case _ => bench(ctx, w, workload, seed, seconds, trace, sessionS)
    } finally spark.stop()
  }

  private def bench(ctx: Ctx, w: Workload, workload: String, seed: Long, seconds: Double,
                    trace: Boolean, sessionS: Double): Unit = {
    val tr = ctx.tracer
    // set-up is repeated and its median reported, so one slow repeat
    // (a GC, a noisy neighbour) does not move setup_s
    val setups = (1 to 3).map { i =>
      val s0 = System.nanoTime()
      val layer = w.setup()
      val s = (System.nanoTime() - s0) / 1e9
      if (i < 3) w.release()
      (s, layer)
    }
    val setupS = sessionS + median(setups.map(_._1))
    progress(s"set-up done: session ${sessionS}s, repeats ${setups.map(_._1).mkString(", ")}")
    val dataLayer = setups.last._2.keys.map(k => k -> median(setups.map(_._2(k)))).toMap

    def runPass(index: Int, traced: Boolean): PassOut = {
      val p = new PassOut(index, traced)
      tr.enable(traced)
      val gc0 = gcSeconds
      val a = System.nanoTime()
      tr.span(s"pass $index", "pass") { id => p.rootSpan = id; w.pass(p) }
      p.wallS = (System.nanoTime() - a) / 1e9
      p.gcS = gcSeconds - gc0
      if (traced) tr.settle()
      tr.enable(false)
      progress(f"pass $index: ${p.wallS}%.3f s, ops " +
        p.ops.map(o => f"${o.kind}=${o.seconds}%.3f").mkString(" "))
      p
    }

    // warm-up: JIT, codegen and first-job costs stay out of the window.
    // The count is fixed: a time-based warm-up left runs at different
    // points of the warm-up curve. Warm-up outputs are still checked.
    val warm = (1 to WarmupPasses).map(i => runPass(-i, traced = false))
    progress(s"warm-up passes done: ${warm.map(_.wallS).mkString(", ")}")
    val passes = mutable.ArrayBuffer.empty[PassOut]
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    var i = 1
    // with --trace 1, traced and untraced passes alternate so the
    // difference between them is the tracing overhead
    while (elapsed < seconds || (trace && (!passes.exists(_.traced) || !passes.exists(!_.traced)))) {
      passes += runPass(i, traced = trace && i % 2 == 1)
      i += 1
    }

    progress(s"${passes.size} passes done")
    val all = warm ++ passes
    val ops = all.flatMap(_.ops)
    val failures = ops.filter(_.failure.nonEmpty)
    failures.groupBy(o => (o.kind, o.failure.get)).foreach { case ((k, f), os) =>
      System.err.println(s"[perfbench] $workload: ${os.size} x $k failed: $f")
    }
    val timedPasses = passes.filter(p => !p.traced)
    val timedOps = timedPasses.flatMap(_.ops).filter(o => o.kind == w.opKind && o.failure.isEmpty)
    // the median over the operation list of each operation's median: a
    // pooled median of operations of different sizes falls in the gap
    // between two of them and reads the edges of their spreads
    val opP50 = median(timedOps.groupBy(_.name).values.map(os => median(os.map(_.seconds))).toSeq)
    val passS = timedPasses.map(_.wallS)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", median(passS), "s"),
        ("op_p50_s", opP50, "s"))
      else {
        val traced = passes.filter(_.traced).toSeq
        val layers = dataLayer ++ w.layers(traced)
        val spans = tr.allSpans
        val selfFrac = traced.map { p =>
          val root = spans.find(_.id == p.rootSpan).get
          SelfTime.of(root, spans.filter(_.parent == root.id)) / root.durMs
        }
        val common = Map(
          "jvm.gc_s" -> traced.map(_.gcS).sum / traced.size,
          "spark.stages" -> tr.totalStages.toDouble / traced.size,
          "spark.tasks" -> tr.totalTasks.toDouble / traced.size,
          "trace.passes" -> traced.size.toDouble,
          "trace.overhead_frac" -> (median(traced.map(_.wallS)) / median(passS) - 1.0),
          "trace.pass_self_frac" -> median(selfFrac))
        val merged = layers ++ common
        tr.dump(ctx.out.resolve(s"trace-$workload-seed$seed.jsonl"))
        PerLayer.map(k => (k, merged.getOrElse(k, 0.0), unitOf(k)))
      }

    val env = envRecord(ctx, workload, seed, trace)
    all.foreach(p => p.telemetry.foreach { t =>
      val row = (t ++ Seq("pass" -> p.index.toString, "seed" -> seed.toString))
        .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
      println(s"""{"telemetry":$row}""")
    })
    println(f"""{"summary":{"workload":"$workload","seed":$seed,"passes":${passes.size},"timed_passes":${timedPasses.size},"ops":${timedOps.size},"tail":${Json.str(tailNote(timedOps.map(_.seconds)))}}}""")
    println(env)
    val metricJson = metrics.map { case (k, v, u) =>
      s"""${Json.str(k)}:{"value":${num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val line = s"""{"correct":${failures.isEmpty},"attempted":${ops.size},"failed":${failures.size},"metrics":$metricJson}"""
    appendResult(ctx.out, s"""{"env":$env,"result":$line}""")
    println(line)
  }

  /** The highest percentile with at least ten samples beyond it. */
  private def tailNote(xs: collection.Seq[Double]): String = {
    val n = xs.size
    if (n < 20) s"n=$n: fewer than 20 samples, no percentile above p50 has 10 beyond it"
    else {
      val q = math.floor(100.0 * (n - 10) / n).toInt
      f"n=$n p$q=${quantile(xs, q / 100.0)}%.4f s"
    }
  }

  private val started = System.nanoTime()
  private def progress(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1fs $msg")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def unitOf(k: String): String =
    if (k.endsWith("_s")) "s"
    else if (k.endsWith("_bytes")) "bytes"
    else if (k.endsWith("_frac") || k.endsWith("ratio") || k.endsWith("yield")) "ratio"
    else "count"

  private def envRecord(ctx: Ctx, workload: String, seed: Long, trace: Boolean): String = {
    val rt = Runtime.getRuntime
    val commit = sys.env.getOrElse("PERFBENCH_COMMIT", "none")
    val source = sys.env.getOrElse("PERFBENCH_SOURCE", "none")
    s"""{"env":{"workload":"$workload","seed":$seed,"trace":$trace,"nproc":${rt.availableProcessors()},"master":"local[${ctx.cpus}]","driver_max_heap_mb":${rt.maxMemory() / (1 << 20)},"jdk":${Json.str(System.getProperty("java.version"))},"spark":"${ctx.spark.version}","commit":${Json.str(commit)},"source_sha256":${Json.str(source)},"budget_s":${ctx.budgetS}}}"""
  }

  private def appendResult(out: Path, line: String): Unit = {
    Files.createDirectories(out)
    Files.writeString(out.resolve("results.jsonl"), line + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}
