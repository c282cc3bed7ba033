package perfbench

import graft.SparkEntry
import graft.data.ScopedCaches
import org.apache.spark.sql.{DataFrame, Row}

/** `ops`: a fixed list of registry queries, run in a seed-permuted order
  * through `SparkEntry.queries`. Each query is collected, so its rows
  * can be digested and checked against the golden; caches are released
  * before each query as `graft.Bench` does between reps.
  */
final class OpsWorkload(ctx: Ctx) extends Workload {
  val opKind = "query"
  private val golden = ctx.goldens.resolve("ops.txt")
  private lazy val expected: Map[String, String] =
    Goldens.read(golden).map { l => val Array(q, rows, sha) = l.split(" "); q -> s"$rows $sha" }.toMap
  private val order = new scala.util.Random(ctx.seed).shuffle(
    if (ctx.mode == "bench") OpsWorkload.Queries else OpsWorkload.Queries.sorted)

  def setup(): Map[String, Double] = Map.empty
  def release(): Unit = ()

  private def planSeconds(df: DataFrame): Double = {
    val phases = df.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum / 1e3
  }

  /** Runs one query; returns its rows, wall seconds and planning seconds. */
  private def run(p: PassOut, q: String): (Either[String, (DataFrame, Array[Row])], Double) = {
    val g = p.group(q)
    val t0 = System.nanoTime()
    val r = ctx.tracer.span(q, "ops", p.rootSpan, g) { _ =>
      Budget.run(ctx.sc, g, ctx.budgetS) {
        val df = SparkEntry.queries(q)(ctx.spark, ctx.data.toString)
        (df, df.collect())
      }
    }
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def digest(df: DataFrame, rows: Array[Row]): String =
    s"${rows.length} ${Digest.of(df.columns.toSeq, rows)}"

  def pass(p: PassOut): Unit = {
    for (q <- order) {
      // every query starts from empty caches, so its latency does not
      // depend on the queries the seed's order put before it
      ScopedCaches.releaseAll()
      ctx.spark.catalog.clearCache()
      val (r, s) = run(p, q)
      val checked = r.flatMap { case (df, rows) =>
        p.add(s"ops.$q.plan_s", planSeconds(df))
        val d = digest(df, rows)
        if (expected.get(q).contains(d)) Right(()) else Left(s"wrong: $q -> $d")
      }
      p.op("query", q, s, checked)
    }
  }

  def layers(traced: Seq[PassOut]): Map[String, Double] = {
    val tr = ctx.tracer
    val n = traced.size.toDouble
    val spans = Layers.spansOf(tr, traced, "ops")
    val perQuery = OpsWorkload.Queries.flatMap { q =>
      val mine = spans.filter(_.name == q)
      val exec = mine.map(s => s.durMs - SelfTime.of(s, Layers.jobSpans(tr, s.group))).sum / 1e3 / n
      Seq(s"ops.$q.plan_s" -> Layers.mean(traced, s"ops.$q.plan_s"), s"ops.$q.exec_s" -> exec)
    }.toMap
    val stats = tr.statsWhere(g => spans.exists(_.group == g))
    perQuery ++ Map(
      "ops.plan_s" -> OpsWorkload.Queries.map(q => perQuery(s"ops.$q.plan_s")).sum,
      "ops.exec_s" -> OpsWorkload.Queries.map(q => perQuery(s"ops.$q.exec_s")).sum,
      "ops.jobs" -> stats.jobs / n,
      "ops.task_s" -> stats.taskMs / 1e3 / n,
      "ops.shuffle_bytes" -> stats.shuffleBytes / n,
      "ops.spill_bytes" -> stats.spillBytes / n)
  }

  def record(): Unit = {
    val p = new PassOut(0, traced = false)
    val lines = order.map { q =>
      val (r, _) = run(p, q)
      val (df, rows) = r.fold(f => sys.error(s"$q failed: $f"), identity)
      s"$q ${digest(df, rows)}"
    }
    Goldens.write(golden, lines.sorted)
    println(s"[record] ops: ${lines.size} queries -> $golden")
  }

  /** Writes each query's output and its oracle SQL for the DuckDB check
    * in validate.py, and checks the output still matches its digest.
    */
  def validate(): Seq[String] = {
    val dir = ctx.out.resolve("validate").resolve("ops")
    val p = new PassOut(0, traced = false)
    val oracles = SparkEntry.oracleSql
    val problems = order.flatMap { q =>
      val (r, _) = run(p, q)
      r match {
        case Left(f) => Some(s"$q failed: $f")
        case Right((df, rows)) =>
          df.write.mode("overwrite").parquet(dir.resolve(q).toString)
          if (!expected.get(q).contains(digest(df, rows))) Some(s"$q differs from its golden digest")
          else if (!oracles.contains(q)) Some(s"$q has no oracle SQL")
          else None
      }
    }
    val json = order.map(q => s"${Json.str(q)}:${Json.str(oracles.getOrElse(q, ""))}").mkString("{", ",", "}")
    java.nio.file.Files.writeString(dir.resolve("oracle_sql.json"), json)
    problems
  }
}

object OpsWorkload {
  /** Heavy families the ROADMAP targets (graph, dedup, text n-grams)
    * plus a light query whose time is mostly planning.
    */
  val Queries: Seq[String] = Seq(
    "q1_agg", "li_triangle_census", "dedup_ngram_jaccard", "text_ngram_novelty")
}
