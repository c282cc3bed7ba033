package graft

import graft.cli.{CsvReport, Reports, SepFiles}
import graft.core.{AttrSet, Jd, Measure}
import graft.entropy.EntropyEngine
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class CliSpec extends AnyFunSuite {
  import SparkSuite._

  test(".sep line round-trips through the reference grammar") {
    val line = "13,{{4, 9}|{1},{6, 11},{2, 5, 7, 8, 10, 12},{3}},8.881784197001252E-16"
    val (n, jd) = SepFiles.parseLine(line)
    assert(n == 13)
    assert(jd.lhs == AttrSet(4, 9))
    assert(jd.components == Vector(AttrSet(1), AttrSet(6, 11),
      AttrSet(2, 5, 7, 8, 10, 12), AttrSet(3)))
    assert(jd.measure.value == 8.881784197001252e-16)
    assert(SepFiles.formatLine(n, jd) == line)
  }

  test(".sep file write/read with empty separator and threshold filename") {
    val dir = Files.createTempDirectory("graft-sep").toString
    val jds = Seq(
      Jd(AttrSet.empty, Vector(AttrSet(0), AttrSet(1, 2)), Measure.exact(0.0)),
      Jd(AttrSet(1), Vector(AttrSet(0), AttrSet(2)), Measure.exact(0.25)))
    val path = s"$dir/orders.THRESH.0.5.sep"
    SepFiles.write(path, 3, jds)
    val back = SepFiles.read(path)
    assert(back.map(_._2) == jds.map(_.canonical))
    assert(SepFiles.thresholdOf("orders.THRESH.0.5.sep").contains(0.5))
    assert(SepFiles.thresholdOf("x.THRESH.8.88E-16.sep").contains(8.88e-16))
    assert(SepFiles.thresholdOf("orders.sep").isEmpty)
  }

  test("csv report appends with header once and escapes fields") {
    val path = Files.createTempDirectory("graft-rep").toString + "/m.csv"
    val r1 = new CsvReport(path, Reports.MiningHeader)
    r1.record(Seq(3, 100, 0.5, 2, 7, "1.0", "2.0", 50))
    r1.close()
    val r2 = new CsvReport(path, Reports.MiningHeader)
    r2.record(Seq(3, 100, 0.5, "with,comma", 7, "1.0", "2.0", 50))
    r2.close()
    val lines = Files.readAllLines(java.nio.file.Paths.get(path))
    assert(lines.size == 3)
    assert(lines.get(0) == Reports.MiningHeader.mkString(","))
    assert(lines.get(2).contains("\"with,comma\""))
  }

  test("precompute + lattice helpers") {
    val rows = mvdFixture(noise = 10)
    val fresh = new EntropyEngine(relation(rows))
    fresh.precomputeMostSpecific()
    assert(fresh.cachedEntropies >= 3) // 3 singletons + pairs for n=3
    val lattice = fresh.allEntropies()
    assert(lattice.size == 7)
    for ((x, h) <- lattice if x.size < 3) {
      assert(math.abs(h - naiveEntropy(rows, x.toSeq)) < 1e-9)
    }
  }

  test("mining workflow end-to-end on a csv input with reports") {
    // write the chain fixture as a CSV, run the MVD workflow pieces
    val dir = Files.createTempDirectory("graft-cli").toString
    val csv = s"$dir/rel.csv"
    val body = chainFixture(0).map(_.mkString(",")).mkString("\n")
    Files.writeString(java.nio.file.Paths.get(csv), "a,b,c,d\n" + body)
    graft.cli.MineMvds.main(Array("--input", csv, "--header", "true",
      "--thresholds", "0.0", "--timeout", "600",
      "--report", s"$dir/mining.csv"))
    val report = Files.readAllLines(java.nio.file.Paths.get(s"$dir/mining.csv"))
    assert(report.size == 2 && !report.get(1).contains("TIMEOUT"))
    graft.cli.MineSeps.main(Array("--input", csv, "--header", "true",
      "--thresholds", "0.0", "--timeout", "600", "--out", s"$dir/jds",
      "--report", s"$dir/jdmining.csv"))
    val seps = new java.io.File(s"$dir/jds").listFiles()
    assert(seps != null && seps.nonEmpty)
    graft.cli.EnumerateSchemas.main(Array("--input", csv, "--header", "true",
      "--seps", s"$dir/jds", "--limit", "3", "--report", s"$dir/enum.csv"))
    val enumRep = Files.readAllLines(java.nio.file.Paths.get(s"$dir/enum.csv"))
    assert(enumRep.size >= 2)
    // threshold-0 schemas on the exact chain fixture must be lossless
    assert(enumRep.get(1).split(",")(6) == "0")
  }

  test("directory batch sweep mines every csv, one report per input") {
    val dir = Files.createTempDirectory("graft-sweep").toString
    val in = s"$dir/in"
    new java.io.File(in).mkdirs()
    // two inputs of different size: the 3-attr MVD fixture and the
    // larger 4-attr chain fixture
    Files.writeString(java.nio.file.Paths.get(s"$in/small.csv"),
      "a,b,c\n" + mvdFixture(0).map(_.mkString(",")).mkString("\n"))
    Files.writeString(java.nio.file.Paths.get(s"$in/big.csv"),
      "a,b,c,d\n" + chainFixture(0).map(_.mkString(",")).mkString("\n"))
    graft.cli.MineMvds.main(Array("--inputDir", in, "--header", "true",
      "--thresholds", "0.0,0.5", "--timeout", "600", "--out", s"$dir/out"))
    for ((name, attrs) <- Seq("small.csv" -> 3, "big.csv" -> 4)) {
      val rep = Files.readAllLines(
        java.nio.file.Paths.get(s"$dir/out/$name.out.csv"))
      assert(rep.size == 3, s"$name: ${rep.size} lines") // header + 2 thresholds
      assert(rep.get(0) == graft.cli.Reports.MiningHeader.mkString(","))
      for (i <- 1 to 2) {
        val row = rep.get(i).split(",")
        assert(row(0).toInt == attrs, s"$name row $i")
        assert(!rep.get(i).contains("TIMEOUT"), s"$name row $i")
      }
    }
  }

  // ---- fail-loud harness guards (post round-6 silent 22-query loss) ----

  test("every registry query analyzes against the real fixtures") {
    // Catches schema-drift regressions (e.g. the events ts type change)
    // at analysis time, without executing the plans: a query that cannot
    // even resolve must turn this red, not silently shrink the round's
    // artifacts. Queries whose *construction* runs Spark jobs (sampled
    // fits, collected query vectors) do run those here — acceptable at
    // sf0.001.
    val dir = "/root/testdata/sf0.001"
    val bad = SparkEntry.registry.flatMap { q =>
      try { q.fn(spark, dir).queryExecution.analyzed; None }
      catch { case e: Throwable =>
        Some(s"${q.name}: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}")
      } finally graft.data.ScopedCaches.releaseAll()
    }
    assert(bad.isEmpty, s"\n${bad.size} unanalyzable: \n  " + bad.mkString("\n  "))
  }

  test("Verify.dump records a broken query in _failed.json, keeps the rest") {
    val out = Files.createTempDirectory("graft-verify").toString
    val good = (s: org.apache.spark.sql.SparkSession, _: String) =>
      relation(Seq(Seq(1, 2), Seq(3, 4)))
    val broken = (s: org.apache.spark.sql.SparkSession, _: String) =>
      relation(Seq(Seq(1))).select("no_such_column")
    val failed = Verify.dump(spark, "unused", out,
      Seq("good_q" -> good, "broken_q" -> broken),
      Map("good_q" -> "SELECT 1"))
    assert(failed == Seq("broken_q"))
    assert(new java.io.File(s"$out/good_q").exists())
    val manifest = Files.readString(java.nio.file.Paths.get(s"$out/_failed.json"))
    assert(manifest.contains("broken_q"))
    assert(!manifest.contains("good_q"))
    // every registry name produced output or is explicitly failed
    for (name <- Seq("good_q", "broken_q"))
      assert(new java.io.File(s"$out/$name").exists() || manifest.contains(name),
        s"$name vanished from both artifacts")
  }

  test("Bench.summarize drops failed queries from timings, any-rep policy") {
    val perRep = Seq(
      Map("a" -> 1.0, "b" -> Double.NaN, "c" -> 3.0),
      Map("a" -> 0.5, "b" -> 0.05, "c" -> Double.NaN))
    val (failed, mins) = Bench.summarize(Seq("a", "b", "c"), perRep)
    // b failed once then "passed" fast — still failed (no 0.05s laundering)
    assert(failed == Seq("b", "c"))
    assert(mins == Seq("a" -> 0.5))
  }
}
