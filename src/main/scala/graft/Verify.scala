package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Fail-loud contract (post round-6 regression): every registry name
  * either produces an output directory or appears in `_failed.json` —
  * a broken query can no longer just vanish from the artifact. CliSpec
  * exercises `dump` with a deliberately-broken query to pin this.
  */
object Verify {
  /** Runs every query in `queries`, writing each result under `outDir`
    * and a `_failed.json` manifest of the ones that threw.
    * @return names that failed, in registry order
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Seq[(String, (SparkSession, String) => DataFrame)],
           oracleSql: Map[String, String]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer.empty[(String, String)]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      // each query's operator-scoped caches die with its terminal action
      graft.data.ScopedCaches.releaseAll()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonObject(oracleSql))
    Files.writeString(Paths.get(s"$outDir/_failed.json"), jsonObject(failed))
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} FAILED: " +
        failed.map(_._1).mkString(", "))
    failed.map(_._1).toSeq
  }

  /** A flat JSON object of string fields. Escapes backslash, quote and
    * ALL control chars (<0x20): a tab or CR in an oracle's SQL would
    * otherwise make the whole file unreadable to a strict JSON parser.
    */
  def jsonObject(fields: Iterable[(String, String)]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    fields.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }

  /** args: sfDir outDir [comma-separated name filter — dev use only;
    * the driver always runs the full registry]. */
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = Env.cpus(default = 4)
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qs = SparkEntry.queries.toSeq
      .filter(q => only.forall(_.contains(q._1)))
    dump(spark, sfDir, outDir, qs,
      SparkEntry.oracleSql.filter(o => only.forall(_.contains(o._1))))
    spark.stop()
  }
}
