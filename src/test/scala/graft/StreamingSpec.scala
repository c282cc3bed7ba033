package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  import SparkSuite._

  test("streaming hourly window agg equals the batch plan on the same input") {
    val dir = "/root/testdata/sf0.001"
    val batchEvents = Tables.events(spark, dir)
      .select("ts", "event_type", "value")
    val expected = StreamOps.hourlyAgg(batchEvents)
      .collect().map(_.toSeq).toSet

    // drive the same parquet through a real streaming query
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    batchEvents.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream
      .schema(batchEvents.schema)
      .parquet(tmp)
    val q = StreamOps.hourlyAgg(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_out")
      .start()
    q.processAllAvailable()
    // append mode emits only windows closed by the watermark; a final
    // empty batch advances it past the max event time
    q.stop()
    val got = spark.table("graft_stream_out").collect().map(_.toSeq).toSet
    // watermark semantics: emitted rows must be a subset of the batch
    // result, and cover all but the last (still-open) hour
    assert(got.subsetOf(expected))
    assert(got.size >= expected.size - TextishSlack(expected.size))
  }

  private def TextishSlack(n: Int): Int = math.max(2, n / 10)

  test("streaming agg recovers from checkpoint: restart is exactly-once") {
    val dir = "/root/testdata/sf0.001"
    val batchEvents = Tables.events(spark, dir)
      .select("ts", "event_type", "value")
    val expected = StreamOps.hourlyAgg(batchEvents)
      .collect().map(_.toSeq).toSet

    val root = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val (srcDir, outDir, ckpt) = (s"$root/src", s"$root/out", s"$root/ckpt")
    // feed the first half, run to quiescence, STOP the query
    val h1 = batchEvents.filter(col("ts") < "2024-01-15")
    val h2 = batchEvents.filter(col("ts") >= "2024-01-15")
    h1.write.mode("overwrite").parquet(srcDir)
    def start() = StreamOps.hourlyAgg(
        spark.readStream.schema(batchEvents.schema).parquet(srcDir))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", outDir).start()
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // add the second half and RESTART from the same checkpoint
    h2.write.mode("append").parquet(srcDir)
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    val got = spark.read.parquet(outDir).collect().map(_.toSeq)
    // exactly-once across the restart: no (hour, type) emitted twice
    assert(got.map(r => (r(0), r(1))).distinct.length == got.length)
    // every emitted row is a true batch row; coverage up to open windows
    assert(got.toSet.subsetOf(expected))
    assert(got.length >= expected.size - TextishSlack(expected.size))
  }

  test("the event-time watermark is dropped from batch plans") {
    import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
    val ev = spark.range(12).select(timestamp_seconds(col("id") * 600).as("ts"),
      col("id").as("event_id"), lit("purchase").as("event_type"),
      (col("id") % 3).as("user_id"), col("id").cast("double").as("value"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-wm").toString
    ev.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(ev.schema).parquet(tmp)
    def ops(df: org.apache.spark.sql.DataFrame) = Seq(
      StreamOps.hourlyAgg(df.select("ts", "event_type", "value")),
      graft.ops.Analytics.slidingDistinct(df, "ts", "user_id", "24 hours", "6 hours"),
      graft.ops.Stats.sprtHourly(df, col("event_id"), "ts",
        col("event_type") === "purchase"))
    def watermarked(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.exists(_.isInstanceOf[EventTimeWatermark])
    // Spark's EliminateEventTimeWatermark rule: the operators call
    // withWatermark unconditionally and rely on it for their batch plans
    assert(ops(ev).forall(!watermarked(_)))
    assert(ops(stream).forall(watermarked))
  }

  test("streaming sliding distinct equals the batch sliding distinct") {
    val dir = "/root/testdata/sf0.001"
    val batchEvents = Tables.events(spark, dir).select("ts", "user_id")
    // independent reference: the plain count_distinct a batch-only plan
    // would use (streaming forbids it)
    val expected = batchEvents
      .groupBy(window(col("ts"), "24 hours", "6 hours").as("w"))
      .agg(count_distinct(col("user_id")).as("n_distinct"))
      .select(col("w.start"), unix_micros(col("w.start")), col("n_distinct"))
      .collect().map(_.toSeq).toSet
    val sliding = (df: org.apache.spark.sql.DataFrame) =>
      graft.ops.Analytics.slidingDistinct(df, "ts", "user_id", "24 hours", "6 hours")
    assert(sliding(batchEvents).collect().map(_.toSeq).toSet == expected)

    val tmp = java.nio.file.Files.createTempDirectory("graft-sdist").toString
    batchEvents.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(batchEvents.schema).parquet(tmp)
    val q = sliding(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_sdist_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_sdist_out").collect().map(_.toSeq).toSet
    assert(got.subsetOf(expected))
    assert(got.size >= expected.size - TextishSlack(expected.size))
  }

  test("streaming PSI monitor: pinned-edge twin replays the batch op") {
    val dir = "/root/testdata/sf0.001"
    val pivot = lit("2024-01-15").cast("timestamp")
    // fit the reference offline: edges + smoothed baseline proportions
    // from the batch op (exactly what a production deploy would pin)
    val batch = graft.ops.Stats.psiDrift(Tables.events(spark, dir),
        col("value"), col("ts") < pivot, bins = 4)
      .orderBy("bin").collect()
    val edges = batch.filter(_.getInt(0) < 4).map(_.getDouble(2)).toSeq
    val baseProps = batch.map(_.getDouble(5)).toSeq // 6dp-rounded pins
    val cur = Tables.events(spark, dir).select(col("ts"), col("value"))
      .filter(col("ts") >= pivot)
    // one whole-stream window: the twin must reproduce the PSI computed
    // by hand from the batch op's own current-side counts and the SAME
    // rounded pins, in the same band-ascending fold order
    val one = StreamOps.psiDriftStream(cur, "ts", "value", edges,
      baseProps, "90 days").collect()
    assert(one.length == 1)
    val tot = batch.map(_.getLong(4)).sum.toDouble
    val expected = batch.map(_.getInt(0)).sorted.foldLeft(0.0) { (acc, b) =>
      val cnt = batch.find(_.getInt(0) == b).get.getLong(4).toDouble
      val pc = (cnt + 0.5) / (tot + 0.5 * 4)
      val pb = baseProps(b - 1)
      acc + (pc - pb) * math.log(pc / pb)
    }
    assert(one.head.getDouble(3) ==
      BigDecimal(expected).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    assert(one.head.getLong(2) == tot.toLong)

    // daily windows: the streamed run over the same parquet must emit a
    // prefix-subset (only watermark-open tail windows may be missing)
    val twinDaily = StreamOps.psiDriftStream(cur, "ts", "value", edges,
      baseProps, "24 hours")
      .collect().map(_.toSeq).toSet
    val tmp = java.nio.file.Files.createTempDirectory("graft-psi").toString
    cur.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(cur.schema).parquet(tmp)
    val q = StreamOps.psiDriftStream(stream, "ts", "value", edges,
        baseProps, "24 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_psi_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_psi_out").collect().map(_.toSeq).toSet
    assert(got.subsetOf(twinDaily), "streamed windows must be batch rows")
    assert(got.size >= twinDaily.size - 2,
      s"streamed ${got.size} of ${twinDaily.size} daily windows")
  }

  test("streaming SPRT twin: hourly counts + batch finish equal the batch monitor") {
    import graft.ops.Stats
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
      .select("ts", "event_id", "event_type")
    val isPurchase = col("event_type") === "purchase"
    val batch = Stats.sprtMonitor(ev, col("event_id"), "ts", isPurchase,
        p0 = 0.19, p1 = 0.21, alpha = 0.05, beta = 0.10)
      .collect().map(_.toSeq)
    // independent reference: arm B by the md5 split, date_trunc hours
    val ref = ev.filter(
        conv(substring(md5(concat(lit("sprt:"), col("event_id").cast("string"))),
          1, 8), 16, 10).cast("long") % 2 === 1)
      .groupBy(date_trunc("hour", col("ts")))
      .agg(count(lit(1)), sum(when(isPurchase, 1L).otherwise(0L)))
      .collect().map(r => (r.get(0), r.getLong(1), r.getLong(2))).toSet
    val hourly = (df: org.apache.spark.sql.DataFrame) =>
      Stats.sprtHourly(df, col("event_id"), "ts", isPurchase)
    val one = hourly(ev)
      .collect().map(r => (r.get(0), r.getLong(1), r.getLong(2))).toSet
    assert(one == ref)
    assert(one == batch.map(s => (s(0), s(1), s(2))).toSet)
    // streamed append over the same rows: closed hours must be batch
    // rows, and the shared finisher over the DRAINED sink replays the
    // batch monitor bit-for-bit
    val tmp = java.nio.file.Files.createTempDirectory("graft-sprt").toString
    ev.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(ev.schema).parquet(tmp)
    val q = hourly(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_sprt_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val sink = spark.table("graft_sprt_out")
    val sinkRows = sink.collect()
      .map(r => (r.get(0), r.getLong(1), r.getLong(2))).toSet
    assert(sinkRows.subsetOf(one), "streamed hours must be batch hours")
    assert(sinkRows.size >= one.size - 2,
      s"streamed ${sinkRows.size} of ${one.size} hours")
    val finished = Stats.sprtFinish(sink,
        p0 = 0.19, p1 = 0.21, alpha = 0.05, beta = 0.10)
      .collect().map(_.toSeq).toSet
    val batchClosed = batch.filter(s =>
      sinkRows.contains((s(0), s(1).asInstanceOf[Long],
        s(2).asInstanceOf[Long]))).toSet
    // the finisher over the drained sink agrees with the batch monitor
    // on every closed hour (cumulatives match when the sink is complete)
    if (sinkRows.size == one.size) assert(finished == batchClosed)
    else assert(finished.map(s => (s(0), s(1), s(2))).toSet ==
      batchClosed.map(s => (s(0), s(1), s(2))))
  }

  test("streaming DQ monitor equals the batch suite on the drained stream") {
    import graft.ops.Analytics
    import Analytics.Constraint
    val dir = "/root/testdata/sf0.001"
    val batchEvents = Tables.events(spark, dir)
      .select("ts", "event_type", "value")
    val aggs = Seq(
      (count(col("value")) / count(lit(1))).as("v_complete"),
      min(col("value")).as("v_min"),
      max(col("value")).as("v_max"),
      sum(when(!col("event_type").isin("click", "error", "purchase",
        "signup", "view"), 1L).otherwise(0L)).cast("double").as("bad_domain"))
    val constraints = Seq(
      Constraint("completeness_value", round(col("v_complete"), 6),
        col("v_complete") === 1.0),
      Constraint("value_in_bounds", round(col("v_max"), 6),
        col("v_min") >= 0.0 && col("v_max") <= 1000.0),
      Constraint("domain_event_type", col("bad_domain"),
        col("bad_domain") === 0.0))
    val expected = Analytics.dqSuite(batchEvents, aggs, constraints)
      .collect().map(_.toSeq).toSet

    val tmp = java.nio.file.Files.createTempDirectory("graft-dq").toString
    batchEvents.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(batchEvents.schema).parquet(tmp)
    val q = Analytics.dqSuite(stream, aggs, constraints)
      .writeStream.outputMode("complete")
      .format("memory").queryName("graft_dq_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_dq_out").collect().map(_.toSeq).toSet
    // complete mode over a drained finite stream = exact batch parity
    assert(got == expected)
  }

  test("streaming Gopher gate equals the batch rule set, append mode") {
    import graft.ops.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val expected = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    val tmp = java.nio.file.Files.createTempDirectory("graft-gopher").toString
    docs.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(docs.schema).parquet(tmp)
    val q = TextAnalysis.gopherRules(stream, "doc_id", "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_gopher_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_gopher_out").collect().map(_.toSeq).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("streaming repetition + FineWeb gates equal batch, append mode") {
    import graft.ops.TextAnalysis
    import org.apache.spark.sql.functions.expr
    val dir = "/root/testdata/sf0.001"
    // re-line to 10-token lines and double every 17th doc so the
    // dup-line/dup-gram branches are live through the stream
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .withColumn("text", expr(
        "CASE WHEN doc_id % 17 = 0 THEN concat(text, ' ', text) " +
          "ELSE text END"))
      .withColumn("text", expr(
        "array_join(transform(sequence(1, CAST(ceil(" +
          "size(split(lower(trim(text)), '\\\\s+')) / 10.0) AS INT)), " +
          "j -> array_join(slice(split(lower(trim(text)), '\\\\s+'), " +
          "(j - 1) * 10 + 1, 10), ' ')), '\\n')"))
      // planted card numbers keep the Luhn twin's branches live (one
      // valid, one checksum-reject)
      .withColumn("text", expr(
        "CASE WHEN doc_id % 13 = 0 THEN concat(text, ' 4111 1111 1111 1111') " +
          "WHEN doc_id % 29 = 0 THEN concat(text, ' 4111-1111-1111-1112') " +
          "ELSE text END"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-rep").toString
    docs.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(docs.schema).parquet(tmp)
    for ((name, batchF, streamF) <- Seq(
      ("graft_rep_out",
        TextAnalysis.gopherRepetition(docs, "doc_id", "text"),
        TextAnalysis.gopherRepetition(stream, "doc_id", "text")),
      ("graft_fw_out",
        TextAnalysis.fineWebRules(docs, "doc_id", "text"),
        TextAnalysis.fineWebRules(stream, "doc_id", "text")),
      ("graft_luhn_out",
        TextAnalysis.piiLuhnAudit(docs, "doc_id", "text"),
        TextAnalysis.piiLuhnAudit(stream, "doc_id", "text")),
      ("graft_fim_out",
        TextAnalysis.fimSplit(docs, "doc_id", "text", rate = 0.5,
          minChars = 40),
        TextAnalysis.fimSplit(stream, "doc_id", "text", rate = 0.5,
          minChars = 40)))) {
      val expected = batchF.collect().map(_.toSeq).toSet
      val q = streamF.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
      val got = spark.table(name).collect().map(_.toSeq).toSet
      assert(got == expected && got.nonEmpty, s"$name diverged")
    }
  }

  test("streaming encoding audit equals the batch detector, complete mode") {
    import graft.ops.TextAnalysis
    import org.apache.spark.sql.functions.expr
    val dir = "/root/testdata/sf0.001"
    // same pinned corruption as the text_encoding_audit query, so every
    // detector branch (replacement char, mojibake, control byte) is live
    val docs = Tables.documents(spark, dir).select("doc_id", "source", "text")
      .withColumn("text", expr(
        "CASE WHEN doc_id % 7 = 0 THEN replace(text, 'e', 'Ã©') " +
          "ELSE text END"))
      .withColumn("text", expr(
        "CASE WHEN doc_id % 11 = 0 THEN replace(text, 't', '�') " +
          "ELSE text END"))
      .withColumn("text", expr(
        "CASE WHEN doc_id % 13 = 0 THEN concat(text, chr(1)) " +
          "ELSE text END"))
    val expected = TextAnalysis.encodingAudit(docs, "source", "text")
      .collect().map(_.toSeq).toSet
    assert(expected.exists(r => r.exists {
      case l: Long => l > 0
      case _ => false
    }), "corruption branches must be live")
    val tmp = java.nio.file.Files.createTempDirectory("graft-encaudit").toString
    docs.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(docs.schema).parquet(tmp)
    val q = TextAnalysis.encodingAudit(stream, "source", "text")
      .writeStream.outputMode("complete")
      .format("memory").queryName("graft_encaudit_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_encaudit_out").collect().map(_.toSeq).toSet
    // complete mode over a drained finite stream = exact batch parity
    assert(got == expected && got.nonEmpty)
  }

  test("stateful streaming sessionization matches the batch window plan") {
    import graft.streaming.StreamOps
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir).select("user_id", "ts", "value")
    val batch = StreamOps.sessionizeBatch(ev, gapMinutes = 30)
      .collect().map(_.toSeq).toSet

    val tmp = java.nio.file.Files.createTempDirectory("graft-sess").toString
    ev.write.mode("overwrite").parquet(tmp)
    import spark.implicits._
    val stream = spark.readStream.schema(ev.schema).parquet(tmp)
      .as[StreamOps.UserEvent]
    val q = StreamOps.sessionizeStream(stream, gapMinutes = 30)
      .toDF().writeStream.outputMode("append")
      .format("memory").queryName("graft_sessions")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_sessions").collect().map(_.toSeq).toSet
    // append mode: only watermark-closed sessions are emitted; they must
    // all be real sessions of the batch result, and most sessions close
    assert(got.subsetOf(batch),
      s"streaming emitted non-batch sessions: ${(got -- batch).take(3)}")
    assert(got.size >= (batch.size * 6) / 10,
      s"only ${got.size} of ${batch.size} sessions closed")
  }

  test("streaming CDC upsert converges to the batch merge under any interleaving") {
    import StreamOps.CdcRecord
    import graft.ops.Merge
    // colliding keys, colliding versions; seq is the CDC offset
    val rng = new Lcg(41)
    val records = (0 until 120).map { i =>
      CdcRecord(k = rng.nextInt(10).toLong, v = rng.nextInt(4).toLong,
        seq = i.toLong, payload = s"p$i")
    }
    // batch model: upsertMerge over (base = seq<60, updates = seq>=60),
    // but the true invariant is simpler — max (v, seq) per key
    val expect = records.groupBy(_.k).map { case (k, rs) =>
      val w = rs.maxBy(r => (r.v, r.seq)); k -> (w.v, w.seq, w.payload)
    }

    val tmp = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    import spark.implicits._
    // two files -> at least two micro-batches with arbitrary order inside
    records.take(60).toDS().write.parquet(s"$tmp/b0")
    records.drop(60).toDS().write.parquet(s"$tmp/b1")
    val stream = spark.readStream.schema(records.take(1).toDS().schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/b*")
    val q = StreamOps.upsertStream(stream.as[CdcRecord])
      .writeStream.outputMode("update")
      .format("memory").queryName("graft_cdc_out")
      .start()
    q.processAllAvailable()
    q.stop()
    // latest emission per key is the winner
    val emissions = spark.table("graft_cdc_out").as[StreamOps.CdcWinner]
      .collect()
    val got = emissions.groupBy(_.k).map { case (k, ws) =>
      val w = ws.maxBy(x => (x.v, x.seq)); k -> (w.v, w.seq, w.payload)
    }
    assert(got == expect)

    // and the batch operator agrees on the same records (version ties
    // resolved by seq on both sides)
    val df = records.toDS().toDF()
    val base = df.filter(col("seq") < 60)
    val upd = df.filter(col("seq") >= 60)
    // fold seq into the version order the way the batch op's side flag
    // can't express: merge on (v*1000+seq) as the effective version
    val eff = (d: org.apache.spark.sql.DataFrame) =>
      d.withColumn("veff", col("v") * 1000 + col("seq"))
    val batch = Merge.upsertMerge(eff(base), eff(upd), "k", "veff")
      .collect().map(r => r.getAs[Long]("k") ->
        (r.getAs[Long]("v"), r.getAs[Long]("seq"), r.getAs[String]("payload")))
      .toMap
    assert(batch == expect)
  }

  test("incremental near-dup candidates match the batch bucket pairs") {
    import spark.implicits._
    // documents arriving over time: two planted near-dup groups (0/100
    // near-identical, 1/101 identical) among distinct docs
    val vocab = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet")
    val rng = new Lcg(42)
    val base = (0L until 12L).map { i =>
      i -> (0 until 30).map(_ => vocab(rng.nextInt(vocab.length))).mkString(" ")
    }
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val rows = (base :+
        (100L -> (base(0)._2.split(" ").init :+ "zulu").mkString(" ")) :+
        (101L -> base(1)._2))
      .zipWithIndex.map { case ((id, text), i) =>
        StreamOps.DocEvent(id, new java.sql.Timestamp(t0 + i * 60000L), text)
      }
    val ds = spark.createDataset(rows)

    val batchPairs = StreamOps.nearDupCandidatesBatch(ds)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the planted dups must collide in at least one band
    assert(batchPairs.contains((0L, 100L)) && batchPairs.contains((1L, 101L)))

    val tmp = java.nio.file.Files.createTempDirectory("graft-neardup").toString
    ds.toDF().write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(ds.toDF().schema).parquet(tmp)
      .as[StreamOps.DocEvent]
    val q = StreamOps.nearDupCandidatesStream(stream)
      .toDF().writeStream.outputMode("append")
      .format("memory").queryName("graft_neardup_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_neardup_out")
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // unsaturated buckets: the stream must emit exactly the batch pairs
    assert(got == batchPairs,
      s"missing: ${(batchPairs -- got).take(3)} extra: ${(got -- batchPairs).take(3)}")
  }

  test("stream band slices equal the batch kernel's band store rows") {
    import spark.implicits._
    import graft.ops.Dedup
    val texts = Seq(
      1L -> "\tAbc def \u00e9\ud83d\ude00xy \n", // Spark's trim keeps tab/newline
      2L -> "alpha \ud83d\ude00 bravo \ud83d\ude00 charlie", // non-BMP
      3L -> "",
      4L -> "abc",      // shorter than k
      5L -> "abcdefgh", // exactly k
      6L -> null, 7L -> null, 8L -> null)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val ds = spark.createDataset(texts.zipWithIndex.map { case ((id, tx), i) =>
      StreamOps.DocEvent(id, new java.sql.Timestamp(t0 + i * 60000L), tx)
    })
    type Slice = (Long, Int, Seq[Option[Long]])
    def slices(df: org.apache.spark.sql.DataFrame): Set[Slice] =
      df.select("doc_id", "band", "bh").collect().map(r =>
        (r.getLong(0), r.getInt(1),
          r.getSeq[Any](2).map(v => Option(v).map(_.asInstanceOf[Long])))).toSet
    val store = Dedup.minhashBandStore(ds.toDF(), "doc_id", "text")
    val kernel = slices(store.withColumnRenamed("id", "doc_id"))

    val tmp = java.nio.file.Files.createTempDirectory("graft-bands").toString
    ds.toDF().write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(ds.toDF().schema).parquet(tmp)
    val q = StreamOps.bucketDocs(stream.withColumn("fp", lit(null).cast("string")),
        k = 8, numHashes = 32, bands = 8)
      .toDF().writeStream.outputMode("append")
      .format("memory").queryName("graft_bands_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = slices(spark.table("graft_bands_out"))

    // null text forms no band row, in the kernel or in the stream — so
    // no (all-null) bucket can pair the null docs with each other
    assert(streamed == kernel)
    assert(streamed.map(_._1) == Set(1L, 2L, 3L, 4L, 5L) && streamed.size == 5 * 8)
    val nullDocs = Set(6L, 7L, 8L)
    assert(Dedup.bucketPairs(store).filter(col("id1").isin(nullDocs.toSeq: _*) ||
      col("id2").isin(nullDocs.toSeq: _*)).isEmpty)

    // ... and neither near-dup path pairs them
    val batchPairs = StreamOps.nearDupCandidatesBatch(ds)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = StreamOps.nearDupCandidatesStream(
        spark.readStream.schema(ds.toDF().schema).parquet(tmp).as[StreamOps.DocEvent])
      .toDF().writeStream.outputMode("append")
      .format("memory").queryName("graft_bands_pairs")
      .start()
    pq.processAllAvailable()
    pq.stop()
    val streamPairs = spark.table("graft_bands_pairs")
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamPairs == batchPairs)
    assert(!batchPairs.exists(p => nullDocs(p._1) || nullDocs(p._2)))
  }

  test("streaming MG candidates cover exact heavies; recount matches batch") {
    import spark.implicits._
    val rng = new Lcg(17)
    // 3 giants among 150 light keys; interleaved arrival order
    val mults = Seq("g1" -> 300, "g2" -> 200, "g3" -> 120) ++
      (0 until 150).map(i => s"t$i" -> (1 + rng.nextInt(6)))
    val rows = mults.flatMap { case (k, m) => Seq.fill(m)(k) }
    val dealt = rows.zipWithIndex.sortBy(_._2 % 101).map(_._1)
    val n = rows.size
    val k = 40; val shards = 4; val phi = 0.05

    // multiple parquet files + maxFilesPerTrigger=1 => real cross-
    // micro-batch state evolution, not one mega-batch
    val tmp = java.nio.file.Files.createTempDirectory("graft-mg").toString
    spark.createDataset(dealt).toDF("key").repartition(5)
      .write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema("key STRING")
      .option("maxFilesPerTrigger", 1).parquet(tmp).as[String]
    val q = StreamOps.heavyHitterCandidatesStream(stream, k, shards)
      .toDF().writeStream.outputMode("update")
      .format("memory").queryName("graft_mg_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val emissions = spark.table("graft_mg_out")
      .collect().map(r => (r.getInt(0), r.getLong(1),
        r.getSeq[String](2))).toSeq
    assert(emissions.map(_._2).max > 1, "expected multiple micro-batches")
    // live candidate set = latest emission per shard
    val cand = emissions.groupBy(_._1).values
      .flatMap(_.maxBy(_._2)._3).toSet

    val exact = mults.filter(_._2 > n.toDouble / k).map(_._1).toSet
    assert(exact.nonEmpty && exact.forall(cand),
      s"stream candidates missed ${exact -- cand}")
    // exact recount over candidates reproduces the batch operator
    val threshold = math.ceil(phi * n).toLong
    val fromStream = mults.filter { case (key, m) =>
      cand(key) && m >= threshold }.map { case (key, m) => (key, m.toLong) }.toSet
    val fromBatch = graft.ops.Sketches.heavyHitters(
      spark.createDataset(dealt).toDF("key"), "key", phi, k)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(fromStream == fromBatch)
  }

  test("streaming count-min cells equal the batch sketch exactly") {
    import spark.implicits._
    // additive cells make CMS a PLAIN streaming aggregation — no custom
    // state op needed; complete-mode output must equal the batch sketch
    val rng = new Lcg(29)
    val keys = (0 until 3000).map(_ => s"k${rng.nextInt(200)}")
    val tmp = java.nio.file.Files.createTempDirectory("graft-cms").toString
    spark.createDataset(keys).toDF("key").repartition(4)
      .write.mode("overwrite").parquet(tmp)
    val d = 3; val w = 32
    val batchCells = graft.ops.Sketches.cmsCells(
      spark.read.parquet(tmp), "key", d, w)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val stream = spark.readStream.schema("key STRING")
      .option("maxFilesPerTrigger", 1).parquet(tmp)
    val q = graft.ops.Sketches.cmsCells(stream, "key", d, w)
      .writeStream.outputMode("complete")
      .format("memory").queryName("graft_cms_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_cms_out")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == batchCells)
  }

  test("streaming HLL registers equal the batch sketch exactly") {
    import spark.implicits._
    // max-mergeable registers make HLL a PLAIN streaming aggregation,
    // like CMS: complete-mode output must equal the batch register table
    val rng = new Lcg(31)
    val keys = (0 until 3000).map(_ => s"h${rng.nextInt(900)}")
    val tmp = java.nio.file.Files.createTempDirectory("graft-hll").toString
    spark.createDataset(keys).toDF("key").repartition(4)
      .write.mode("overwrite").parquet(tmp)
    val b = 6
    val batch = graft.ops.Sketches.hllCells(spark.read.parquet(tmp), "key", b)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val stream = spark.readStream.schema("key STRING")
      .option("maxFilesPerTrigger", 1).parquet(tmp)
    val q = graft.ops.Sketches.hllCells(stream, "key", b)
      .writeStream.outputMode("complete")
      .format("memory").queryName("graft_hll_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_hll_out")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == batch)
  }

  test("merged streaming KMV shards equal the batch summary exactly") {
    import spark.implicits._
    val rng = new Lcg(37)
    val keys = (0 until 4000).map(_ => s"v${rng.nextInt(1500)}")
    val k = 64; val shards = 3
    val tmp = java.nio.file.Files.createTempDirectory("graft-kmv").toString
    spark.createDataset(keys).toDF("key").repartition(4)
      .write.mode("overwrite").parquet(tmp)

    val batch = graft.ops.Sketches.kmvMinHashes(
      spark.read.parquet(tmp), "key", k)
      .collect().map(_.getLong(0)).toSeq

    // stream the SAME pinned hash column the batch operator derives
    val hashExpr = conv(substring(md5(col("key").cast("string")), 1, 8),
      16, 10).cast("long")
    val stream = spark.readStream.schema("key STRING")
      .option("maxFilesPerTrigger", 1).parquet(tmp)
      .select(hashExpr.as("h")).as[Long]
    val q = StreamOps.kmvSketchStream(stream, k, shards)
      .toDF().writeStream.outputMode("update")
      .format("memory").queryName("graft_kmv_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val emissions = spark.table("graft_kmv_out")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2)))
    assert(emissions.map(_._2).max > 1, "expected multiple micro-batches")
    val merged = emissions.groupBy(_._1).values
      .flatMap(_.maxBy(_._2)._3).toSeq.distinct.sorted.take(k)
    assert(merged == batch)
  }

  test("AMS F2 cells stream in complete mode and equal the batch sketch exactly") {
    import spark.implicits._
    val rng = new Lcg(41)
    val keys = (0 until 3000).map(_ => s"u${rng.nextInt(400)}")
    val tmp = java.nio.file.Files.createTempDirectory("graft-ams").toString
    spark.createDataset(keys).toDF("key").repartition(4)
      .write.mode("overwrite").parquet(tmp)
    val batch = graft.ops.Sketches.amsF2Cells(
      spark.read.parquet(tmp), "key", 16)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    // additive cells are an ordinary streaming aggregation: the SAME
    // operator code runs on the unbounded frame, no custom state op
    val stream = spark.readStream.schema("key STRING")
      .option("maxFilesPerTrigger", 1).parquet(tmp)
    val q = graft.ops.Sketches.amsF2Cells(stream, "key", 16)
      .writeStream.outputMode("complete")
      .format("memory").queryName("graft_ams_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_ams_out")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(got == batch && got.size == 16)
  }

  test("late in-gap events lower session_start; rounding matches batch HALF_UP") {
    import spark.implicits._
    def ev(uid: Long, t: String, v: Double) =
      StreamOps.UserEvent(uid, java.sql.Timestamp.valueOf(t), v)
    val tmp = java.nio.file.Files.createTempDirectory("graft-late").toString
    def write(sub: String, rows: Seq[StreamOps.UserEvent]): Unit =
      spark.createDataset(rows).toDF()
        .write.mode("overwrite").parquet(s"$tmp/$sub")
    // drive batches in a controlled order: write file, then drain
    new java.io.File(tmp).mkdirs()
    val schema = spark.createDataset(
      Seq(ev(0L, "2026-01-01 00:00:00", 0.0))).toDF().schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/*")
      .as[StreamOps.UserEvent]
    val q = StreamOps.sessionizeStream(stream, gapMinutes = 30)
      .toDF().writeStream.outputMode("append")
      .format("memory").queryName("graft_late_out")
      .start()
    // batch 1: u1 at 10:05; u2's sum 0.12345 pins the rounding rule
    write("b1", Seq(ev(1L, "2026-01-01 10:05:00", 1.0),
      ev(2L, "2026-01-01 10:00:00", 0.12345)))
    q.processAllAvailable()
    // batch 2: u1's LATE event at 09:40 — within gap, above watermark
    // (10:05 - 30m = 09:35) — must merge AND lower session_start
    write("b2", Seq(ev(1L, "2026-01-01 09:40:00", 2.0)))
    q.processAllAvailable()
    // batch 3: far-future event closes everything
    write("b3", Seq(ev(3L, "2026-01-01 13:00:00", 0.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_late_out")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got.contains((1L, "2026-01-01 09:40:00", 2L, 3.0)),
      s"late event did not lower session_start: $got")
    // Spark round() semantics: 0.12345 -> 0.1235 (HALF_UP), not 0.1234
    assert(got.contains((2L, "2026-01-01 10:00:00", 1L, 0.1235)), s"$got")
    // parity with the batch twin on the full event set holds
    val all = Seq(ev(1L, "2026-01-01 10:05:00", 1.0),
      ev(2L, "2026-01-01 10:00:00", 0.12345),
      ev(1L, "2026-01-01 09:40:00", 2.0), ev(3L, "2026-01-01 13:00:00", 0.0))
    val batch = StreamOps.sessionizeBatch(
      spark.createDataset(all).toDF(), gapMinutes = 30)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got.subsetOf(batch), s"stream emitted non-batch sessions: ${got -- batch}")
  }

  test("prepStream fingerprints the REDACTED text: PII-only variants dedupe") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val vocab = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet")
    val rng = new Lcg(47)
    val baseText = (0 until 30).map(_ => vocab(rng.nextInt(vocab.length)))
      .mkString(" ")
    // identical after email redaction, different raw
    val a = s"$baseText contact alice@example.com"
    val b = s"$baseText contact bob@test.org"
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val rows = Seq(10L -> a, 20L -> b).zipWithIndex.map { case ((id, tx), i) =>
      StreamOps.DocEvent(id, new java.sql.Timestamp(t0 + i * 60000L), tx)
    }
    val ds = spark.createDataset(rows)
    // both docs genuinely pass the gate (not vacuously excluded)
    val gatePass = ds.toDF().filter(
      TextAnalysis.qualityScore(col("text")) >= 0.85 &&
        TextAnalysis.langId(col("text")) === "en").count()
    assert(gatePass == 2, s"fixture failed the gate: $gatePass/2")

    val batchPairs = StreamOps.prepBatch(ds)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!batchPairs.contains((10L, 20L)),
      "batch twin must collapse redaction-identical docs")

    val tmp = java.nio.file.Files.createTempDirectory("graft-pii").toString
    ds.toDF().write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(ds.toDF().schema).parquet(tmp)
      .as[StreamOps.DocEvent]
    val q = StreamOps.prepStream(stream)
      .toDF().writeStream.outputMode("append")
      .format("memory").queryName("graft_pii_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_pii_out")
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!got.contains((10L, 20L)),
      "stream paired docs that differ only in redacted PII")
  }

  test("native stream-stream interval join equals the batch bucketed join") {
    import spark.implicits._
    val rng = new Lcg(53)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    def ts(minOff: Int) = new java.sql.Timestamp(t0 + minOff * 60000L)
    val anchors = (0 until 40).map(i =>
      (i.toLong, s"u${rng.nextInt(6)}", ts(rng.nextInt(300))))
    val evs = (0 until 200).map(i =>
      (1000L + i, s"u${rng.nextInt(6)}", ts(rng.nextInt(330))))
    val aDf = spark.createDataset(anchors).toDF("aid", "k", "a_ts")
    val eDf = spark.createDataset(evs).toDF("eid", "k", "e_ts")
    val len = 3600000000L // 1 hour in micros

    val batch = graft.ops.IntervalJoin
      .intervalJoin(aDf, eDf, "k", "a_ts", "e_ts", len)
      .select("aid", "eid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)

    val tmpA = java.nio.file.Files.createTempDirectory("graft-iva").toString
    val tmpE = java.nio.file.Files.createTempDirectory("graft-ive").toString
    aDf.write.mode("overwrite").parquet(tmpA)
    eDf.write.mode("overwrite").parquet(tmpE)
    val sa = spark.readStream.schema(aDf.schema).parquet(tmpA)
    val se = spark.readStream.schema(eDf.schema).parquet(tmpE)
    val q = StreamOps.intervalJoinStream(sa, se, "k", "a_ts", "e_ts",
      len, watermark = "2 hours")
      .select("aid", "eid")
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_iv_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_iv_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch,
      s"missing: ${(batch -- got).take(3)} extra: ${(got -- batch).take(3)}")
  }

  test("streaming as-of join equals the batch forward-fill exactly") {
    import spark.implicits._
    val rng = new Lcg(71)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    def ts(minOff: Int) = new java.sql.Timestamp(t0 + minOff * 60000L)
    // anchors sparse, events dense, deliberate ts collisions (both
    // anchor-anchor for the max-payload tie-break and anchor-event for
    // the at-or-before inclusivity); some keys have events before any
    // anchor (left-outer NULL case)
    val anchors = (0 until 30).map { i =>
      (rng.nextInt(5).toLong, ts(rng.nextInt(200) * 2), s"p$i")
    }
    val events = (0 until 150).map { i =>
      (1000L + i, rng.nextInt(6).toLong, ts(rng.nextInt(220) * 2))
    }
    val aDf = spark.createDataset(anchors).toDF("k", "ts", "payload")
    val eDf = spark.createDataset(events).toDF("eid", "k", "ts")
    val batch = graft.ops.AsofJoin
      .asofJoin(eDf, aDf, "k", "ts", Seq("payload"))
      .collect()
      .map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(batch.values.exists(_.isDefined) && batch.values.exists(_.isEmpty))

    // Harness: the watermark delay (10 days) exceeds the real data span
    // (~7.3 hours), so no real row can ever be dropped as late no
    // matter how files batch; per-key anchors 100 days out (matching no
    // event — nothing is at-or-after them) then push the watermark past
    // every real timestamp, and the flush write's SECOND file gives the
    // post-advance batch in which the event-time timers fire and drain
    // the buffers completely — exact parity, not subset.
    val real =
      anchors.map { case (k, t, p) => StreamOps.AsofRow(k, t, 0, -1L, p) } ++
      events.map { case (id, k, t) => StreamOps.AsofRow(k, t, 1, id, "") }
    val flush = (0L until 6L).map(k =>
      StreamOps.AsofRow(k, ts(144000), 0, -1L, "zzz_flush"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-asof").toString
    spark.createDataset(real).write.parquet(s"$tmp/f1")
    spark.createDataset(flush).repartition(2).write.parquet(s"$tmp/f2")
    val src = spark.readStream
      .schema(spark.createDataset(real).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/*")
    val q = StreamOps.asofStream(src.as[StreamOps.AsofRow], "240 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_asof_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_asof_out").collect()
      .map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(got.keySet == batch.keySet,
      s"missing events: ${(batch.keySet -- got.keySet).take(5)}")
    val diff = batch.keys.filter(k => batch(k) != got(k))
    assert(diff.isEmpty,
      diff.take(5).map(k => s"$k: batch=${batch(k)} stream=${got(k)}").mkString("; "))
  }

  test("streaming transition steps aggregate to the batch matrix exactly") {
    import spark.implicits._
    val rng = new Lcg(97)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    def ts(minOff: Int) = new java.sql.Timestamp(t0 + minOff * 60000L)
    // 5 users, 3 types, dense ts range -> guaranteed collisions (the
    // event_id tie-break is live) and cross-file out-of-order arrival
    val types = Array("a", "b", "c")
    val evs = (0 until 200).map { i =>
      StreamOps.TypedEvent(rng.nextInt(5).toLong, 1000L + i,
        ts(rng.nextInt(300)), types(rng.nextInt(3)))
    }
    val batch = graft.ops.Analytics
      .transitionMatrix(spark.createDataset(evs).toDF(), "user_id", "ts",
        "event_id", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // flush events 100 days out push the watermark past every real row;
    // they stay above the watermark themselves, so they emit no step
    val flush = (0L until 5L).map(k =>
      StreamOps.TypedEvent(k, 9000L + k, ts(144000), "zz"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-steps").toString
    spark.createDataset(evs).write.parquet(s"$tmp/f1")
    spark.createDataset(flush).repartition(2).write.parquet(s"$tmp/f2")
    val src = spark.readStream
      .schema(spark.createDataset(evs).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/*")
    val q = StreamOps
      .transitionStepsStream(src.as[StreamOps.TypedEvent], "240 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_steps_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_steps_out")
      .groupBy("from_type", "to_type").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got == batch,
      s"stream/batch matrix diverged: only-batch=${batch.toSet -- got.toSet} " +
        s"only-stream=${got.toSet -- batch.toSet}")
  }

  test("composed streaming prep pipeline matches its batch twin") {
    import spark.implicits._
    // NATO-alphabet docs: pass the quality gate (long, alphabetic, sane
    // token length) and classify "en" (zero stopwords everywhere ties
    // all profiles -> deterministic tie-break picks en, both plans)
    val vocab = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet")
    val rng = new Lcg(43)
    val base = (0L until 10L).map { i =>
      i -> (0 until 30).map(_ => vocab(rng.nextInt(vocab.length))).mkString(" ")
    }
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val all = base ++ Seq(
      100L -> (base(0)._2.split(" ").init :+ "zulu").mkString(" "), // near-dup of 0
      101L -> base(1)._2,                                           // exact dup of 1
      200L -> ("der hund und die katze das ist nicht mit ein auf " * 3), // de -> gated
      201L -> "123 456 789 000 111 222 333 444 555 666 777 888")    // junk -> gated
    val rows = all.zipWithIndex.map { case ((id, text), i) =>
      StreamOps.DocEvent(id, new java.sql.Timestamp(t0 + i * 60000L), text)
    }
    val ds = spark.createDataset(rows)

    // duplicate-group representative: batch keeps min doc_id, the stream
    // keeps the first arrival — compare pairs after canonicalizing
    val canon = Map(101L -> 1L).withDefault(identity)
    def norm(p: (Long, Long)): (Long, Long) = {
      val (a, b) = (canon(p._1), canon(p._2))
      (math.min(a, b), math.max(a, b))
    }

    val batchPairs = StreamOps.prepBatch(ds)
      .select("id1", "id2").collect()
      .map(r => norm((r.getLong(0), r.getLong(1)))).toSet
    assert(batchPairs.contains((0L, 100L)), "planted near-dup must collide")
    assert(!batchPairs.exists(p => Set(200L, 201L)(p._1) || Set(200L, 201L)(p._2)),
      "gated docs leaked into the pair graph")

    val tmp = java.nio.file.Files.createTempDirectory("graft-prep").toString
    ds.toDF().write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(ds.toDF().schema).parquet(tmp)
      .as[StreamOps.DocEvent]
    val q = StreamOps.prepStream(stream)
      .toDF().writeStream.outputMode("append")
      .format("memory").queryName("graft_prep_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_prep_out")
      .select("id1", "id2").collect()
      .map(r => norm((r.getLong(0), r.getLong(1)))).toSet
    assert(got == batchPairs,
      s"missing: ${(batchPairs -- got).take(3)} extra: ${(got -- batchPairs).take(3)}")
  }
}
