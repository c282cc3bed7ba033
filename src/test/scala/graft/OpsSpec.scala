package graft

import graft.ops.{Dedup, Multimodal, Packing, Ranking, Sampling, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {
  import SparkSuite._

  private def docs(rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2)): _*),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))))

  private val vocab = Seq("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")

  /** 20 random docs + a planted near-dup of doc 0 (one word changed) and
    * an exact dup of doc 1 (different whitespace).
    */
  private val corpus: Seq[(Long, String)] = {
    val rng = new Lcg(99)
    val base = (0L until 20L).map { i =>
      i -> (0 until 40).map(_ => vocab(rng.nextInt(vocab.length))).mkString(" ")
    }
    val nearDup = 100L -> (base(0)._2.split(" ").init :+ "zulu").mkString(" ")
    val exactDup = 101L -> ("  " + base(1)._2.replace(" ", "   ") + " ")
    base :+ nearDup :+ exactDup
  }

  private def edgeDf(es: Seq[(Long, Long)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(es.map(e => Row(e._1, e._2)): _*),
      StructType(Seq(StructField("id1", LongType, nullable = false),
        StructField("id2", LongType, nullable = false))))

  private def nodeDf(ns: Seq[Long]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(ns.map(Row(_)): _*),
      StructType(Seq(StructField("id", LongType, nullable = false))))

  test("connected components label chains, stars, and singletons") {
    // chain 1-2-3-4-5, star 10-{11,12,13}, edge-listed-backwards 21-20,
    // isolated 30
    val edges = edgeDf(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L,
      10L -> 11L, 10L -> 12L, 10L -> 13L, 21L -> 20L))
    val nodes = nodeDf(Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L, 13L,
      20L, 21L, 30L))
    val got = Dedup.connectedComponents(edges, nodes).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L))
  }

  test("connected components match a brute-force transitive closure") {
    // pseudo-random sparse graph over 60 nodes
    val rng = new Lcg(7)
    val es = (0 until 45).map(_ => (rng.nextInt(60).toLong, rng.nextInt(60).toLong))
      .filter(e => e._1 != e._2)
    val ns = (0L until 60L)
    // brute force: repeated relaxation over the edge list in Scala
    val lbl = scala.collection.mutable.Map(ns.map(n => n -> n): _*)
    var changed = true
    while (changed) {
      changed = false
      es.foreach { case (a, b) =>
        val m = math.min(lbl(a), lbl(b))
        if (lbl(a) != m || lbl(b) != m) { lbl(a) = m; lbl(b) = m; changed = true }
      }
    }
    val got = Dedup.connectedComponents(edgeDf(es), nodeDf(ns)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == lbl.toMap)
  }

  test("jaccard clusters put near-dups with their canonical doc") {
    val clusters = Dedup.jaccardClusters(docs(corpus), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.size == corpus.size)
    // the planted near-dup of doc 0 joins doc 0's cluster, labeled by
    // the component minimum
    assert(clusters(100L) == clusters(0L) && clusters(0L) == 0L)
    // the whitespace-variant dup of doc 1 is invisible to raw-character
    // shingles (every 8-shingle spans a widened gap) — catching it is
    // exactDedup's job, so it stays a singleton here
    assert(clusters(101L) == 101L)
  }

  test("topKPerKey is deterministic and preTopK thinning preserves it") {
    val rows = (0L until 200L).map { i =>
      (i, s"g${(i % 3)}", (i * 37 % 11).toDouble)
    }
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3)): _*),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("key", StringType, nullable = false),
        StructField("score", DoubleType, nullable = false))))
    val order = Seq(col("score").desc, col("id").asc)
    val top = Ranking.topKPerKey(df, Seq("key"), order, k = 4)
      .select("key", "id", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    // per key: scores repeat (mod 11), so rank must fall back to id order
    assert(top.size == 12)
    val brute = rows.groupBy(_._2).flatMap { case (key, g) =>
      g.sortBy(r => (-r._3, r._1)).take(4).zipWithIndex
        .map { case (r, i) => (key, r._1, i + 1) }
    }.toSet
    assert(top == brute)
    val thinned = Ranking.topKPerKey(
        Ranking.preTopK(df, Seq("key"), order, k = 4, salts = 8),
        Seq("key"), order, k = 4)
      .select("key", "id", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(thinned == top)
  }

  test("PII redaction scrubs emails before IPs and counts each kind") {
    val fixtures = Seq(
      1L -> "contact me at jane.doe+x@example.co.uk or 10.0.0.1 thanks",
      2L -> "server user@1.2.3.4 logged 192.168.1.255 and 8.8.8.8",
      3L -> "no pii here, just version 1.2 and a dot.",
      4L -> "two mails: a@b.io b@c.org")
    val got = docs(fixtures).select(
        col("doc_id") +: TextAnalysis.redactPii(col("text")).as("r") +:
          TextAnalysis.piiCounts(col("text")): _*)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got(1L) == (("contact me at [EMAIL] or [IP] thanks", 1, 1)))
    // the dotted-quad inside the email is ONE [EMAIL], not a partial [IP]
    assert(got(2L) == (("server [EMAIL] logged [IP] and [IP]", 1, 2)))
    assert(got(3L) == (("no pii here, just version 1.2 and a dot.", 0, 0)))
    assert(got(4L) == (("two mails: [EMAIL] [EMAIL]", 2, 0)))
  }

  test("repetition stats flag the dominated doc and zero tiny docs") {
    val fixtures = Seq(
      1L -> "buy now buy now buy now buy now buy now",  // bigram "buy now" x5 of 9
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "single",
      4L -> "two words")
    val got = TextAnalysis.repetitionStats(docs(fixtures), "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(got(1L) == ((math.round(5.0 / 9.0 * 1e6) / 1e6, 9L)))
    // all 8 bigrams distinct -> top fraction 1/8
    assert(got(2L) == ((0.125, 8L)))
    assert(got(3L) == ((0.0, 0L)))
    assert(got(4L) == ((1.0, 1L)))
  }

  test("tfidf top terms rank rare terms above ubiquitous ones") {
    val fixtures = Seq(
      1L -> "zebra zebra zebra common common",
      2L -> "common filler words here",
      3L -> "common filler words there")
    val got = TextAnalysis.tfidfTopTerms(docs(fixtures), "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(4)) -> r.getString(1)).toMap
    // doc 1: zebra (tf=3, df=1) far above common (tf=2, df=3)
    assert(got((1L, 1)) == "zebra")
    assert(got((1L, 2)) == "common")
    // docs 2/3: their unique location word (df=1) beats shared terms;
    // "filler"/"words" (df=2) beat "common" (df=3), tie broken by term
    assert(got((2L, 1)) == "here")
    assert(got((2L, 2)) == "filler")
    assert(got((3L, 1)) == "there")
    // exact score check for doc 1 zebra: 3 * (ln(4/2) + 1)
    val score = TextAnalysis.tfidfTopTerms(docs(fixtures), "doc_id", "text", 2)
      .filter(col("term") === "zebra").head().getDouble(3)
    assert(score == math.round(3.0 * (math.log(4.0 / 2.0) + 1) * 1e6) / 1e6)
  }

  test("bm25 ranks tf-heavy docs higher and excludes term-free docs") {
    val fixtures = Seq(
      1L -> "query query query pad pad pad pad pad",
      2L -> "query pad pad pad pad pad pad pad",
      3L -> "pad pad pad pad pad pad pad pad")
    val rows = TextAnalysis.bm25TopK(docs(fixtures), "doc_id", "text",
        Seq("query"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    // doc 3 has no query term: absent, not zero-scored
    assert(rows.map(_._1).toSeq == Seq(1L, 2L))
    assert(rows(0)._3 == 1 && rows(1)._3 == 2)
    // exact values: N=3, df=2, every dl == avgdl == 8 → the length
    // normalizer collapses to 1 and score = idf * tf*2.2/(tf + 1.2)
    val idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1)
    def s(tf: Int) = idf * tf * 2.2 / (tf + 1.2)
    assert(rows(0)._2 == math.round(s(3) * 1e6) / 1e6)
    assert(rows(1)._2 == math.round(s(1) * 1e6) / 1e6)
  }

  test("zipf fit recovers the slope of an exactly power-law corpus") {
    // freqs 8,4,2,1 at ranks 1..4: ln(freq) = 3ln2 - ln2/ln? no —
    // freq = 16 / 2^rank → ln(freq) = ln16 - rank*ln2, which is linear
    // in rank, NOT in ln(rank); instead plant freq = 24/rank so
    // ln(freq) = ln24 - 1*ln(rank): slope exactly -1.
    val words = Seq("a" -> 24, "b" -> 12, "c" -> 8, "d" -> 6)
    val text = words.flatMap { case (w, n) => Seq.fill(n)(w) }.mkString(" ")
    val got = TextAnalysis.corpusZipfFit(docs(Seq(1L -> text)), "text", 10)
      .head()
    assert(got.getLong(0) == 4L)
    assert(got.getDouble(1) == -1.0)
    assert(got.getDouble(2) == math.round(math.log(24.0) * 1e6) / 1e6)
  }

  test("rrf fusion rewards ids present on both lists, rank-only") {
    def ranking(rs: Seq[(Long, Int)]): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(rs.map(r => Row(r._1, r._2)): _*),
        StructType(Seq(StructField("id", LongType, nullable = false),
          StructField("rank", IntegerType, nullable = false))))
    val lex = ranking(Seq(10L -> 1, 11L -> 2, 12L -> 3))
    val vec = ranking(Seq(12L -> 1, 10L -> 2, 13L -> 3))
    val got = Ranking.rrfFuse(Seq(lex, vec), "id", "rank", k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    def rr(rs: Int*) = math.round(rs.map(r => 1.0 / (60 + r)).sum * 1e6) / 1e6
    assert(got.map(r => r._1 -> r._2).toMap ==
      Map(10L -> rr(1, 2), 12L -> rr(3, 1), 11L -> rr(2), 13L -> rr(3)))
    // both-list ids outrank every single-list id at these depths
    assert(got.take(2).map(_._1).toSet == Set(10L, 12L))
    assert(got.map(_._3).toSeq == Seq(1, 2, 3, 4))
  }

  test("corpusDriftJsd: zero for identical slices, exact on disjoint support") {
    def srcDocs(rows: Seq[(String, String)]): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map(r => Row(r._1, r._2)): _*),
        StructType(Seq(StructField("source", StringType, nullable = false),
          StructField("text", StringType, nullable = false))))

    // identical token distributions -> every slice sits AT the corpus
    // distribution: all pair terms vanish and the absent tail is 0
    val same = TextAnalysis.corpusDriftJsd(
        srcDocs(Seq("a" -> "a a b", "b" -> "a a b")), "source", "text")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(same == Map("a" -> 0.0, "b" -> 0.0))

    // disjoint supports, equal mass: each slice has p=1,q=0.5 on its own
    // token (pair term 0.5*log2(4/3)+0.25*log2(2/3)) plus the analytic
    // absent tail 0.5*(1-0.5) -> 0.311278 at 6dp
    val disj = TextAnalysis.corpusDriftJsd(
        srcDocs(Seq("a" -> "x x x x", "b" -> "y y y y")), "source", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(disj.toSet == Set(("a", 4L, 0.311278), ("b", 4L, 0.311278)))
  }

  test("contamination scores exact n-gram overlap against the benchmark") {
    val bench = docs(Seq(
      1000L -> "the capital of france is paris everyone knows",
      1001L -> "water boils at one hundred degrees celsius"))
    val corpusDocs = docs(Seq(
      // contains the bench 5-gram "the capital of france is" (and 3 more
      // overlapping ones from the 8-token bench prefix)
      1L -> "we learned that the capital of france is paris everyone said",
      // no overlap
      2L -> "completely unrelated text about gardening and tomato plants growing",
      // shorter than n tokens -> no row
      3L -> "too short"))
    val got = TextAnalysis.contamination(corpusDocs, bench, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(!got.contains(3L))
    assert(got(2L)._2 == 0L)
    // doc 1 has 11 tokens -> 7 distinct 5-grams; the shared grams are
    // "the capital of france is", "capital of france is paris",
    // "of france is paris everyone"
    assert(got(1L)._1 == 7L)
    assert(got(1L)._2 == 3L, s"expected 3 bench hits, got ${got(1L)._2}")
  }

  test("winnowing fingerprints: match guarantee, density, short docs") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val fps = TextAnalysis.winnowingFingerprints(docs(corpus), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // guarantee: docs 0 and 100 share a long prefix (>= k + w - 1 chars)
    // -> must share at least one fingerprint
    assert(fps(0L).intersect(fps(100L)).nonEmpty)
    // density: a sketch, not the full shingle set (~2/(w+1) expected)
    val n0 = corpus.find(_._1 == 0L).get._2.trim.length - 7
    assert(fps(0L).size < n0 / 2, s"${fps(0L).size} fps for $n0 shingles")
    // short doc (< window shingles): exactly the global min shingle hash
    val shortFps = TextAnalysis.winnowingFingerprints(
        docs(Seq(7L -> "abcdefghij")), "doc_id", "text")
      .collect().map(_.getString(1)).toSet
    val expect = Seq("abcdefgh", "bcdefghi", "cdefghij").map(md5hex).min
    assert(shortFps == Set(expect))
  }

  test("chunking covers every token with the declared overlap") {
    val ws = (1 to 10).map(i => s"w$i").mkString(" ")
    val fixtures = Seq(1L -> ws, 2L -> "short doc", 3L -> "x")
    val got = TextAnalysis.chunkDocs(docs(fixtures), "doc_id", "text",
        chunkTokens = 4, stride = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getString(2), r.getInt(3))))
      .toMap
    // 10 tokens, chunk 4 / stride 3 -> 3 chunks at offsets 0, 3, 6
    assert(got(1L -> 0) == (("w1 w2 w3 w4", 4)))
    assert(got(1L -> 1) == (("w4 w5 w6 w7", 4)))
    assert(got(1L -> 2) == (("w7 w8 w9 w10", 4)))
    assert(!got.contains(1L -> 3))
    // short docs: exactly one (possibly partial) chunk
    assert(got(2L -> 0) == (("short doc", 2)))
    assert(got(3L -> 0) == (("x", 1)))
  }

  test("contiguous packing cuts shard streams at the token budget") {
    val rows = Seq(
      // shard a: sizes 100, 300, 200, 150 -> cum starts 0,100,400,600
      (1L, "a", 100), (2L, "a", 300), (3L, "a", 200), (4L, "a", 150),
      // shard b independent: 600, 10 -> starts 0, 600
      (5L, "b", 600), (6L, "b", 10))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3)): _*),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("source", StringType, nullable = false),
        StructField("n_tokens", IntegerType, nullable = false))))
    val got = Packing.contiguousPack(df, "doc_id", "n_tokens", "source", 512)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L,
      5L -> 0L, 6L -> 1L))
  }

  test("hash sampling is deterministic, rate-accurate, and salt-independent") {
    val ids = spark.range(0, 20000).toDF("id")
    val a = Sampling.hashSample(ids, "id", 0.25, "s1")
    val n1 = a.count()
    assert(n1 == Sampling.hashSample(ids, "id", 0.25, "s1").count()) // deterministic
    assert(math.abs(n1 - 5000.0) / 5000.0 < 0.05, s"got $n1 of ~5000")
    // nested rates: a 0.1 sample is a subset of the same-salt 0.25 sample
    val tight = Sampling.hashSample(ids, "id", 0.1, "s1")
    assert(tight.join(a, Seq("id"), "left_anti").count() == 0)
    // distinct salts draw ~independent samples: overlap ~ rate^2
    val b = Sampling.hashSample(ids, "id", 0.25, "s2")
    val overlap = a.join(b, Seq("id")).count()
    assert(overlap > 800 && overlap < 1800, s"overlap $overlap vs ~1250")
    // edge rates
    assert(Sampling.hashSample(ids, "id", 1.0).count() == 20000)
    assert(Sampling.hashSample(ids, "id", 0.0).count() == 0)
  }

  test("stratified sampling hits per-stratum rates with one filter") {
    val rows = (0L until 12000L).map(i => (i, Seq("a", "b", "c")((i % 3).toInt)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2)): _*),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("src", StringType, nullable = false))))
    val got = Sampling.stratifiedHashSample(df, "id", "src",
        Map("a" -> 0.1, "b" -> 1.0), defaultRate = 0.5)
      .groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(got("a") - 400.0) / 400.0 < 0.15, s"a: ${got("a")}")
    assert(got("b") == 4000L)
    assert(math.abs(got("c") - 2000.0) / 2000.0 < 0.1, s"c: ${got("c")}")
  }

  test("exact dedup groups whitespace-variant duplicates") {
    val groups = Dedup.exactGroups(docs(corpus), "doc_id", "text").collect()
    val dupGroup = groups.filter(_.getAs[Long]("dup_cnt") > 1)
    assert(dupGroup.length == 1)
    assert(dupGroup.head.getAs[Long]("keep_id") == 1L)
    val deduped = Dedup.exactDedup(docs(corpus), "doc_id", "text")
    assert(deduped.count() == corpus.size - 1)
  }

  test("line dedup keeps first occurrence, spares short lines") {
    val fixtures = Seq(
      1L -> "shared boilerplate line\nunique alpha content line\nok",
      2L -> "shared boilerplate line\nunique bravo content line\nok",
      3L -> "shared boilerplate line")
    val got = Dedup.lineDedup(docs(fixtures), "doc_id", "text", minLen = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text_dedup"), r.getAs[Long]("n_lines"),
          r.getAs[Long]("n_removed"))).toMap
    // doc 1 owns the shared line; "ok" is under minLen so it is kept
    // everywhere despite being duplicated
    assert(got(1L) ==
      (("shared boilerplate line\nunique alpha content line\nok", 3L, 0L)))
    assert(got(2L) == (("unique bravo content line\nok", 3L, 1L)))
    // a doc made entirely of duplicated lines survives as an empty text
    assert(got(3L) == (("", 1L, 1L)))
  }

  test("duplicated-span stats count corpus-wide and within-doc repeats") {
    val fixtures = Seq(
      1L -> "a b c d e",
      2L -> "x y z a b c d q",
      3L -> "p q",
      4L -> "m n o m n o m n o")
    val got = Dedup.dupSpanStats(docs(fixtures), "doc_id", "text", k = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("dup_spans"),
          r.getAs[Double]("dup_frac"))).toMap
    // doc 1: spans abc/bcd/cde; abc and bcd recur in doc 2
    assert(got(1L) == ((3L, 2L, 0.666667)))
    assert(got(2L) == ((6L, 2L, 0.333333)))
    // under k tokens -> zero spans, frac 0.0 (row still present)
    assert(got(3L) == ((0L, 0L, 0.0)))
    // within-doc repetition alone marks every span duplicated
    assert(got(4L) == ((7L, 7L, 1.0)))
  }

  test("span removal drops non-owner duplicated spans, keeps the first") {
    val fixtures = Seq(
      1L -> "a b c d e",
      2L -> "x a b c d y",
      3L -> "m n o m n o",
      4L -> "p q")
    val got = Dedup.spanDedup(docs(fixtures), "doc_id", "text", k = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text_span_dedup"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_removed_tokens"))).toMap
    // doc 1 owns spans "a b c" and "b c d" (lowest (doc, pos)) — intact
    assert(got(1L) == (("a b c d e", 5L, 0L)))
    // doc 2's occurrences of both spans are non-owners; their covered
    // positions 2..5 drop, the uncovered flanks survive
    assert(got(2L) == (("x y", 6L, 4L)))
    // within-doc repeat: second "m n o" (positions 4..6) is a non-owner
    assert(got(3L) == (("m n o", 6L, 3L)))
    // under k tokens: no spans, doc passes through (lowercased join)
    assert(got(4L) == (("p q", 2L, 0L)))
  }

  test("minhash LSH finds every brute-force high-jaccard pair") {
    val df = docs(corpus)
    val brute = Dedup.jaccardPairs(df, "doc_id", "text",
        k = 8, dfCap = 1000, tau = 0.6)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(df, "doc_id", "text",
        numHashes = 32, bands = 8, k = 8, tau = 0.6)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.contains((0L, 100L)), s"planted pair missing from brute: $brute")
    assert(brute.subsetOf(lsh) || brute == lsh,
      s"LSH missed pairs: ${brute -- lsh}")
  }

  test("lshRecallAudit: planted duplicates found by both paths, set algebra") {
    val r = Dedup.lshRecallAudit(docs(corpus), "doc_id", "text",
      numHashes = 32, bands = 8, k = 8, dfCap = 1000, tau = 0.6)
      .collect().head
    val (nEx, nLsh, nBoth, exOnly, lshOnly) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(nEx >= 1, "planted near-dup pair must appear in the exact set")
    assert(nBoth + exOnly == nEx && nBoth + lshOnly == nLsh)
    assert(r.getDouble(5) ==
      BigDecimal(nBoth.toDouble / nEx).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    // at dfCap 1000 nothing is capped away, so the exact set is ground
    // truth and this banding recovers all of it (the 0.6-tau geometry)
    assert(exOnly == 0L && r.getDouble(5) == 1.0)
  }

  test("incremental dedup classifies a shard against a persisted band store") {
    val ref = docs(corpus)
    // shard: an exact copy of ref doc 3, a one-word near-dup of ref
    // doc 5, and a fresh doc sharing no vocabulary
    val copyOf3 = corpus.toMap.apply(3L)
    val nearOf5 = (corpus.toMap.apply(5L).split(" ").init :+ "yankee")
      .mkString(" ")
    val shard = docs(Seq(200L -> copyOf3, 201L -> nearOf5,
      202L -> "zq wv xj kr pm zq wv xj kr pm zq wv xj kr pm zq wv"))
    // the store round-trips through parquet — the persisted-state
    // contract: reloaded rows are the index, no recompute
    val dir = java.nio.file.Files.createTempDirectory("graft-bands").toString
    val store = Dedup.minhashBandStore(ref, "doc_id", "text",
      numHashes = 32, bands = 8, k = 8)
    store.write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    assert(reloaded.collect().map(_.toSeq).toSet ==
      store.collect().map(_.toSeq).toSet, "band store must round-trip")
    def classify(st: DataFrame) =
      Dedup.dedupIncrementalBands(shard, st, ref, "doc_id", "text",
          numHashes = 32, bands = 8, k = 8, tau = 0.5)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
            Option(r.get(3)).map(_.asInstanceOf[Double]),
            r.getString(4)))).toMap
    val got = classify(reloaded)
    assert(got == classify(store), "reloaded store must classify identically")
    assert(got.keySet == Set(200L, 201L, 202L), "one row per shard doc")
    // exact copy: jaccard 1.0 against its original
    assert(got(200L)._2.contains(3L) && got(200L)._3.contains(1.0) &&
      got(200L)._4 == "near_dup_of_reference", s"${got(200L)}")
    // one-word edit: verified near-dup of ref 5
    val (n201, best201, j201, v201) = got(201L)
    assert(n201 >= 1L && best201.contains(5L) &&
      v201 == "near_dup_of_reference" && j201.exists(j => j >= 0.5 && j < 1.0),
      s"${got(201L)}")
    // fresh text: zero matches, keep, null best
    assert(got(202L) == ((0L, None, None, "keep")), s"${got(202L)}")
    // state maintenance: only the kept doc's band rows join the store
    val shardBands = Dedup.minhashBandStore(shard, "doc_id", "text",
      numHashes = 32, bands = 8, k = 8)
    val keep = shard.select(col("doc_id"))
      .filter(col("doc_id") === 202L)
    val merged = Dedup.bandStoreMerge(store, shardBands, keep)
      .collect().map(_.toSeq).toSet
    val wantMerged = store.collect().map(_.toSeq).toSet ++
      shardBands.filter(col("id") === 202L).collect().map(_.toSeq).toSet
    assert(merged == wantMerged, "merged store must be store + kept bands")
    assert(merged.count(_.last == 202L) == 8, "8 band rows for the kept doc")
    assert(!merged.exists(r => r.last == 200L || r.last == 201L),
      "near-dups of the reference must not enter the store")
  }

  test("clusterSafeSplit keeps near-dup clusters on one side of the split") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val fr = Seq("train" -> 0.5, "val" -> 0.5)
    def coin(key: Long): String =
      if (md5hex(s"split:$key") < Sampling.hexThreshold(0.5)) "train" else "val"
    val got = Dedup.clusterSafeSplit(docs(corpus), "doc_id", "text", fr,
        k = 8, dfCap = 1000, tau = 0.6)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getString(3), r.getBoolean(4))))
      .toMap
    assert(got.keySet == corpus.map(_._1).toSet)
    // the planted near-dup travels with its representative (doc 101's
    // whitespace variant differs at the CHAR-shingle level — trim only
    // strips ends — so it is a singleton here, covered below)
    assert(got(100L)._1 == 0L && got(0L)._1 == 0L)
    assert(got(100L)._2 == got(0L)._2, "cluster 0 split apart")
    for ((id, (cluster, split, naive, leak)) <- got) {
      assert(split == coin(cluster), s"doc $id split vs cluster coin")
      assert(naive == coin(id), s"doc $id naive coin")
      assert(leak == (split != naive), s"doc $id leak flag")
      // singletons and representatives hash the same key both ways
      if (cluster == id) assert(!leak, s"doc $id is its own representative")
    }
    // the fixture's planted members prove the flag can fire: doc 100's
    // own coin differs from cluster 0's coin at these md5 values
    assert(got(100L)._4 == (coin(100L) != coin(0L)))
  }

  test("simhash: exact dup same signature, near dup low hamming") {
    val sigs = Dedup.simhashSignatures(docs(corpus), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(101L)) // same tokens -> same simhash
    val hamming = java.lang.Long.bitCount(sigs(0L) ^ sigs(100L))
    assert(hamming <= 12, s"near-dup hamming $hamming unexpectedly high")
  }

  test("cosine matches driver-side arithmetic") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 2.0f)),
      (1L, Array(0.5f, 1.0f, -1.0f)),
      (2L, Array(2.0f, 0.0f, 4.0f)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(vecs.map(v => Row(v._1, v._2.toSeq)): _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    val pairs = Similarity.cosinePairs(df, "vec_id", "embedding", tau = -1.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / math.sqrt(a.map(x => x.toDouble * x.toDouble).sum *
        b.map(x => x.toDouble * x.toDouble).sum)
    }
    for (((i, j), got) <- pairs) {
      val exp = math.rint(cos(vecs(i.toInt)._2, vecs(j.toInt)._2) * 1e6) / 1e6
      assert(math.abs(got - exp) < 1e-9, s"pair ($i,$j)")
    }
    assert(pairs((0L, 2L)) == 1.0) // colinear
  }

  test("semantic dedup matches the brute-force upper-triangular rule") {
    val rng = new Lcg(23)
    // 3 clusters x 12 vectors + planted colinear dups of ids 0 and 12
    val base = (0L until 36L).map { i =>
      (i, i / 12L, Array.tabulate(6)(_ => rng.nextInt(100) / 50.0f - 1.0f))
    }
    val planted = Seq(
      (100L, 0L, base(0)._3.map(_ * 3.0f)),
      (101L, 1L, base(12)._3.map(_ * 0.5f)))
    val rows = base ++ planted
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(v => Row(v._1, v._2, v._3.toSeq)): _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("label", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    val tau = 0.9
    val got = Dedup.semanticDedup(df, "vec_id", "embedding", "label", tau)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap

    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val r = d / math.sqrt(a.map(x => x.toDouble * x.toDouble).sum *
        b.map(x => x.toDouble * x.toDouble).sum)
      math.rint(r * 1e6) / 1e6
    }
    // brute-force model: j is a dup iff any lower-id same-cluster i
    // has cosine >= tau; dup_of is the smallest such i
    val expect = rows.map { case (j, cl, vj) =>
      val earlier = rows.filter { case (i, ci, vi) =>
        ci == cl && i < j && cos(vi, vj) >= tau
      }.map(_._1)
      j -> (cl, earlier.isEmpty,
        if (earlier.isEmpty) None else Some(earlier.min))
    }.toMap
    assert(got == expect)
    // the planted colinear dups are dropped toward their originals
    assert(got(100L) == ((0L, false, Some(0L))))
    assert(got(101L) == ((1L, false, Some(12L))))
    // one output row per input id
    assert(got.size == rows.size)
  }

  test("semantic dedup KMeans composition drops planted colinear dups") {
    val rng = new Lcg(29)
    val base = (0L until 60L).map { i =>
      i -> Array.tabulate(8)(_ => rng.nextInt(100) / 50.0f - 1.0f)
    }
    // colinear (cosine exactly 1.0) pairs MUST share a KMeans cell:
    // cells partition the unit sphere by nearest centroid and the two
    // normalized vectors are identical
    val planted = Seq(200L -> base(3)._2.map(_ * 2.0f),
      201L -> base(7)._2.map(_ * 4.0f))
    val rows = base ++ planted
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(v => Row(v._1, v._2.toSeq)): _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    val res = Dedup.semanticDedupKMeans(df, "vec_id", "embedding",
      tau = 0.999999, numCells = 4)
      .collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(res.size == rows.size)
    assert(res(200L) == ((false, Some(3L))))
    assert(res(201L) == ((false, Some(7L))))
    // nothing else reaches cosine 0.999999 in an 8-dim random corpus
    assert(res.count(!_._2._1) == 2)
  }

  test("LSH top-k self-bucket always contains the exact top neighbor for colinear vectors") {
    val rng = new Lcg(5)
    val vecs = (0L until 50L).map { i =>
      i -> Array.tabulate(8)(_ => rng.nextInt(100) / 50.0f - 1.0f)
    } :+ (200L -> Array.tabulate(8)(j => 1.0f + j)) :+
      (201L -> Array.tabulate(8)(j => 2.0f * (1.0f + j)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(vecs.map(v => Row(v._1, v._2.toSeq)): _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    // colinear vectors share every hyperplane sign -> same bucket
    val res = Similarity.lshTopK(df, "vec_id", "embedding",
      queryIds = Seq(200L), k = 1, dim = 8, numPlanes = 4).collect()
    assert(res.length == 1 && res.head.getAs[Long]("neighbor_id") == 201L)
  }

  test("LSH cosine pairs: exact precision and full recall at high tau") {
    val rng = new Lcg(7)
    // 40 random vectors + two planted colinear pairs (cosine 1.0)
    val vecs = (0L until 40L).map { i =>
      i -> Array.tabulate(8)(_ => rng.nextInt(200) / 100.0f - 1.0f)
    } :+ (300L -> Array.tabulate(8)(j => 1.0f + j)) :+
      (301L -> Array.tabulate(8)(j => 2.0f * (1.0f + j)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(vecs.map(v => Row(v._1, v._2.toSeq)): _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    val tau = 0.9
    val brute = Similarity.cosinePairs(df, "vec_id", "embedding", tau)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshCosinePairs(df, "vec_id", "embedding", tau,
        dim = 8, numPlanes = 4, tables = 4, probes = 4)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact verification => no false positives, ever
    assert((lsh -- brute).isEmpty, s"false positives: ${lsh -- brute}")
    // 4 independent tables with full multi-probe recover every
    // high-cosine pair (colinear vectors share all hyperplane signs in
    // every table; a tau=0.9 pair escaping all 4 tables needs >=2 sign
    // flips in each — vanishingly unlikely, and deterministic here)
    assert(brute.subsetOf(lsh), s"missed: ${brute -- lsh}")
    assert(lsh.contains((300L, 301L)))
    // auto-sizing at fixture scale resolves to the base config and must
    // keep the planted colinear pair (same no-false-positive guarantee)
    val auto = Similarity.lshCosinePairs(df, "vec_id", "embedding", tau,
        dim = 8, numPlanes = 0, probes = 4)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((auto -- brute).isEmpty && auto.contains((300L, 301L)))
  }

  test("LSH auto-params hold bucket occupancy constant and compensate recall") {
    // bits grow with log2(n): occupancy n/2^b stays within [64, 256)
    // until the 20-bit cap (beyond which occupancy grows again — cap the
    // plan blowup, not the corpus)
    for (n <- Seq(10000L, 100000L, 10000000L, 1000000000L)) {
      val (b, _) = Similarity.lshAutoParams(n, tau = 0.9)
      val occ = n.toDouble / (1L << b)
      assert(b == 20 || (occ <= 256 && (b == 4 || occ > 64)), s"n=$n b=$b occ=$occ")
    }
    // table count compensates the finer buckets, more steeply at low tau
    val (b1, l1) = Similarity.lshAutoParams(2000L, tau = 0.9)
    assert((b1, l1) == (4, 8)) // base config at verify scale
    val (_, lHighTau) = Similarity.lshAutoParams(1000000L, tau = 0.9)
    val (_, lLowTau) = Similarity.lshAutoParams(1000000L, tau = 0.45)
    assert(lHighTau > 8 && lLowTau >= lHighTau && lLowTau <= 32)
  }

  test("lshAutoParams: integer bit-width b replays the ceil(log2) contract") {
    // the round-10 integer form (bit length of ceil(n/128)-1, the
    // DuckDB bin()-replayable derivation) must agree with the original
    // floating ceil(log2(n/128)) everywhere, including the
    // power-of-two boundaries where a log ulp could flip the float form
    for (n <- Seq(1L, 127L, 128L, 129L, 500L, 2000L, 2048L, 2049L,
        4096L, 5000L, 20000L, 131072L, 131073L, 200000L, 1L << 27,
        (1L << 27) + 1, 1L << 40)) {
      val (b, _) = Similarity.lshAutoParams(n, tau = 0.45)
      val bf = math.min(20, math.max(4,
        math.ceil(math.log(n.toDouble / 128) / math.log(2)).toInt))
      assert(b == bf, s"n=$n integer b=$b float b=$bf")
    }
    // the b->L values the SQL oracle inlines as its pinned CASE table
    assert((4 to 8).map(Similarity.lshTablesFor(_, tau = 0.45)) ==
      Seq(8, 13, 20, 30, 32))
    assert(Similarity.lshTablesFor(20, tau = 0.45) == 32)
  }

  test("label-filtered top-k: every neighbor shares the query's label; ranks exact") {
    val rng = new Lcg(31)
    val rows = (0L until 50L).map { i =>
      (i, i % 5L, Array.tabulate(6)(_ => rng.nextInt(100) / 50.0f - 1.0f))
    }
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(v => Row(v._1, v._2, v._3.toSeq)): _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("label", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    val got = Similarity.labelFilteredTopK(df, "vec_id", "embedding", "label",
      queryIds = Seq(0L, 1L), k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val c = d / math.sqrt(a.map(x => x.toDouble * x.toDouble).sum *
        b.map(x => x.toDouble * x.toDouble).sum)
      math.rint(c * 1e6) / 1e6
    }
    for (qid <- Seq(0L, 1L)) {
      val (_, qlbl, qv) = rows(qid.toInt)
      val expect = rows
        .filter { case (i, l, _) => l == qlbl && i != qid }
        .map { case (i, _, v) => (i, cos(qv, v)) }
        .sortBy { case (i, c) => (-c, i) }.take(3).map(_._1)
      val gotIds = (1 to 3).map(r => got((qid, r)))
      assert(gotIds == expect, s"query $qid")
    }
    // the filtered-IVF composition: candidates must share the label and
    // recall the exact filtered top-1 with every cell probed
    val ivf = Similarity.ivfTopK(df, "vec_id", "embedding",
      queryIds = Seq(0L, 1L), k = 3, numCells = 4, nProbe = 4,
      labelCol = Some("label")).collect()
    val lblOf = rows.map(r => r._1 -> r._2).toMap
    assert(ivf.forall(r => lblOf(r.getLong(1)) == lblOf(r.getLong(0))))
    for (qid <- Seq(0L, 1L)) {
      val top1 = got((qid, 1))
      assert(ivf.exists(r => r.getLong(0) == qid && r.getLong(1) == top1),
        s"filtered IVF with all cells probed must recall query $qid's exact top-1")
    }
  }

  test("IVF top-k recalls the exact top neighbor on probed cells") {
    val rng = new Lcg(11)
    val vecs = (0L until 100L).map { i =>
      i -> Array.tabulate(8)(_ => rng.nextInt(200) / 100.0f - 1.0f)
    } :+ (500L -> Array.tabulate(8)(j => 1.0f + j)) :+
      (501L -> Array.tabulate(8)(j => 3.0f * (1.0f + j)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(vecs.map(v => Row(v._1, v._2.toSeq)): _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    // 501 is colinear with 500: identical after normalization -> same
    // KMeans cell, and cosine 1.0 makes it the exact #1
    val res = Similarity.ivfTopK(df, "vec_id", "embedding",
      queryIds = Seq(500L), k = 3, numCells = 8, nProbe = 2).collect()
    assert(res.nonEmpty)
    val top = res.minBy(_.getAs[Int]("rank"))
    assert(top.getAs[Long]("neighbor_id") == 501L)
    assert(top.getAs[Double]("cosine") == 1.0)
  }

  test("pinned IVF / IVF-PQ recall the colinear top neighbor deterministically") {
    val rng = new Lcg(11)
    val vecs = (0L until 100L).map { i =>
      i -> Array.tabulate(8)(_ => rng.nextInt(200) / 100.0f - 1.0f)
    } :+ (500L -> Array.tabulate(8)(j => 1.0f + j)) :+
      (501L -> Array.tabulate(8)(j => 3.0f * (1.0f + j)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(vecs.map(v => Row(v._1, v._2.toSeq)): _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    // pinned centroids include 501 itself: 500 assigns to its cell
    // (cosine 1.0), every probe list leads there, exact re-rank wins
    val centroidIds = Seq(0L, 10L, 20L, 30L, 501L)
    val ivf = Similarity.ivfTopKPinned(df, "vec_id", "embedding",
      queryIds = Seq(500L), k = 3, centroidIds, nProbe = 2).collect()
    val top = ivf.minBy(_.getAs[Int]("rank"))
    assert(top.getAs[Long]("neighbor_id") == 501L)
    assert(top.getAs[Double]("cosine") == 1.0)
    val ivfpq = Similarity.ivfPqTopKPinned(df, "vec_id", "embedding",
      queryIds = Seq(500L), k = 3, dim = 8, centroidIds, nProbe = 2,
      m = 4, codebookIds = Seq(1L, 11L, 21L, 31L, 41L, 501L),
      rerank = 20).collect()
    val topPq = ivfpq.minBy(_.getAs[Int]("rank"))
    assert(topPq.getAs[Long]("neighbor_id") == 501L)
    assert(topPq.getAs[Double]("cosine") == 1.0)
    // label-filtered pinned IVF: only same-label candidates survive
    val labeled = df.withColumn("label",
      (org.apache.spark.sql.functions.col("vec_id") % 2).cast("int"))
    val filt = Similarity.ivfTopKPinned(labeled, "vec_id", "embedding",
      queryIds = Seq(500L), k = 3, centroidIds, nProbe = 2,
      labelCol = Some("label")).collect()
    // 500 and 501 share label 500%2==0? 501%2==1 — differ, so the
    // colinear neighbor is EXCLUDED and everything returned is even
    assert(filt.forall(_.getAs[Long]("neighbor_id") % 2 == 0))
    assert(!filt.exists(_.getAs[Long]("neighbor_id") == 501L))
    // deterministic: a second run returns the identical result set
    val again = Similarity.ivfPqTopKPinned(df, "vec_id", "embedding",
      queryIds = Seq(500L), k = 3, dim = 8, centroidIds, nProbe = 2,
      m = 4, codebookIds = Seq(1L, 11L, 21L, 31L, 41L, 501L),
      rerank = 20).collect()
    assert(ivfpq.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // plan shape: probes/queries broadcast onto the corpus scan (never
    // a cartesian or sort-merge join against the tiny sides), and the
    // final rank is a WindowGroupLimit top-k pushdown, so candidate
    // rows are cut to k per partition BEFORE the per-query shuffle
    val plan = Similarity.ivfTopKPinned(df, "vec_id", "embedding",
      queryIds = Seq(500L), k = 3, centroidIds, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), "top-k pushdown regressed")
    assert(!plan.contains("CartesianProduct"), "cartesian crept in")
    assert(!plan.contains("SortMergeJoin"),
      "tiny probe/query sides must broadcast, not sort-merge")
  }

  test("PQ top-k recalls the exact top neighbor after re-rank") {
    val rng = new Lcg(11)
    val vecs = (0L until 100L).map { i =>
      i -> Array.tabulate(8)(_ => rng.nextInt(200) / 100.0f - 1.0f)
    } :+ (500L -> Array.tabulate(8)(j => 1.0f + j)) :+
      (501L -> Array.tabulate(8)(j => 3.0f * (1.0f + j)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(vecs.map(v => Row(v._1, v._2.toSeq)): _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    // 501 colinear with 500: identical normalized vector -> identical PQ
    // codes -> top approx score, and exact re-rank pins cosine 1.0 at #1
    val res = Similarity.pqTopK(df, "vec_id", "embedding",
      queryIds = Seq(500L), k = 3, dim = 8, m = 4, ksub = 8,
      rerank = 10).collect()
    assert(res.nonEmpty)
    val top = res.minBy(_.getAs[Int]("rank"))
    assert(top.getAs[Long]("neighbor_id") == 501L)
    assert(top.getAs[Double]("cosine") == 1.0)
    // re-rank uses exact cosine: the returned top-3 equal brute's top-3
    val brute = Similarity.bruteForceTopK(df, "vec_id", "embedding",
        Seq(500L), k = 3).collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"))).toSet
    val pq = res.map(r =>
      (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"))).toSet
    assert((pq -- brute).size <= 1, s"pq $pq vs brute $brute")
  }

  test("pq_adc equals the higher-order aggregate form it replaced") {
    val ksub = 4
    val rng = new Lcg(7)
    val rows = (0 until 20).map { i =>
      val tbl = Seq.tabulate(3 * ksub)(_ => rng.nextInt(1000) / 100.0)
      val codes = Seq.tabulate(3)(_ => rng.nextInt(ksub))
      Row(i.toLong, tbl, codes)
    }
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("tbl", ArrayType(DoubleType, containsNull = false)),
        StructField("codes", ArrayType(IntegerType, containsNull = false)))))
    val got = df.select(col("id"),
        call_function("pq_adc", col("tbl"), col("codes"), lit(ksub)).as("a"),
        aggregate(sequence(lit(0), lit(2)), lit(0.0d), (acc, i) =>
          acc + element_at(col("tbl"),
            i * ksub + element_at(col("codes"), i + 1) + 1)).as("b"))
      .collect()
    got.foreach(r => assert(r.getDouble(1) == r.getDouble(2), s"row $r"))
  }

  test("vec_l2sq equals the zip_with diff + vec_dot form it replaced") {
    val rng = new Lcg(13)
    val rows = (0 until 30).map { i =>
      Row(i.toLong, Seq.tabulate(8)(_ => rng.nextInt(2000) / 100.0 - 10.0),
        Seq.tabulate(8)(_ => rng.nextInt(2000) / 100.0 - 10.0))
    }
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("a", ArrayType(DoubleType, containsNull = false)),
        StructField("b", ArrayType(DoubleType, containsNull = false)))))
    val got = df.select(col("id"),
        call_function("vec_l2sq", col("a"), col("b")).as("native"),
        call_function("vec_dot",
          zip_with(col("a"), col("b"), (x, y) => x - y),
          zip_with(col("a"), col("b"), (x, y) => x - y)).as("hof"))
      .collect()
    got.foreach(r => assert(r.getDouble(1) == r.getDouble(2), s"row $r"))
  }

  test("kishEss: equal weights give ESS = n, skew collapses it") {
    import graft.ops.Sampling
    val eq = spark.range(10).select(lit(7L).as("w"))
    val r = Sampling.kishEss(eq, col("w")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)) ==
      ((10L, 70L, 10.0, 1.0)))
    // weights (3,1): ESS = 16/10 = 1.6, efficiency 0.8
    val skew = spark.createDataFrame(java.util.Arrays.asList(
      Row(3L), Row(1L)),
      StructType(Seq(StructField("w", LongType, nullable = false))))
    val s = Sampling.kishEss(skew, col("w")).collect().head
    assert(s.getDouble(2) == 1.6 && s.getDouble(3) == 0.8)
  }

  test("mmdQuadraticSplit: identical point mass gives mmd2 = 0; shifted mass > 0") {
    import graft.ops.Embeddings
    // every vector identical -> all kernel terms equal -> unbiased
    // MMD^2 is exactly 0 regardless of which half each id hashes to
    val same = spark.createDataFrame(java.util.Arrays.asList(
      (0L until 20L).map(i => Row(i, Seq(1.0f, 0.0f))): _*),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("v", ArrayType(FloatType, containsNull = false)))))
    val r = Embeddings.mmdQuadraticSplit(same, "id", "v").collect().head
    assert(r.getLong(0) + r.getLong(1) == 20L)
    assert(r.getDouble(2) == 0.0, s"same-distribution MMD^2 must be 0: $r")
    // recompute a mixed fixture naively with the op's own split
    val mixed = spark.createDataFrame(java.util.Arrays.asList(
      (0L until 16L).map(i =>
        Row(i, if (i % 2 == 0) Seq(1.0f, 0.0f) else Seq(0.0f, 1.0f))): _*),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("v", ArrayType(FloatType, containsNull = false)))))
    val assign = graft.ops.Sampling
      .splitAssign(mixed.select(col("id"), col("v")), "id",
        Seq("a" -> 0.5, "b" -> 0.5), "mmd")
      .collect().map(r2 => (r2.getLong(0),
        r2.getSeq[Float](1).map(_.toDouble), r2.getString(2)))
    def kq(x: Seq[Double], y: Seq[Double]): Double = {
      val d = x.zip(y).map { case (a, b) => a * b }.sum
      math.round((1.0 + d) * (1.0 + d) * 1e9).toDouble / 1e9
    }
    val m = assign.count(_._3 == "a").toDouble
    val nB = assign.count(_._3 == "b").toDouble
    val pairs = for {
      i <- assign.indices; j <- assign.indices if assign(i)._1 < assign(j)._1
    } yield (assign(i)._3, assign(j)._3, kq(assign(i)._2, assign(j)._2))
    val saa = pairs.collect { case ("a", "a", k) => k }.sum
    val sbb = pairs.collect { case ("b", "b", k) => k }.sum
    val sab = pairs.collect { case (s1, s2, k) if s1 != s2 => k }.sum
    val want = BigDecimal(2.0 * saa / (m * (m - 1)) +
        2.0 * sbb / (nB * (nB - 1)) - 2.0 * sab / (m * nB))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Embeddings.mmdQuadraticSplit(mixed, "id", "v")
      .collect().head.getDouble(2)
    assert(math.abs(got - want) <= 1e-6, s"got $got want $want")
  }

  test("hardNegatives: planted geometry, tie rule, singleton-label nulls") {
    import graft.ops.Similarity
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(0L, Seq(1f, 0f), "A"),   // probe: hard (B twin at cos 1.0)
      Row(1L, Seq(0f, 1f), "A"),
      Row(2L, Seq(1f, 0f), "B"),
      Row(3L, Seq(0f, -1f), "C"),  // probe: singleton label -> null pos
      Row(4L, Seq(1f, 0f), "B"),   // tie with id 2 at cos 1.0 vs probe 0
      Row(5L, Seq(0f, 1f), "A")),  // probe: pos twin id 1, not hard
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("v", ArrayType(FloatType, containsNull = false),
          nullable = false),
        StructField("label", StringType, nullable = false))))
    val got = Similarity.hardNegatives(df, "vec_id", "v", "label",
      col("vec_id").isin(0L, 3L, 5L))
      .collect().map(r => r.getLong(0) -> r).toMap
    // probe 0 (A,(1,0)): best pos = id 1 at cos 0; best neg = ids 2/4 at
    // cos 1.0 -> tie breaks to LOWEST id (2); margin -1 -> hard
    assert(got(0L).getLong(2) == 1L && got(0L).getDouble(3) == 0.0)
    assert(got(0L).getLong(4) == 2L && got(0L).getDouble(5) == 1.0)
    assert(got(0L).getDouble(6) == -1.0 && got(0L).getBoolean(7))
    // probe 5 (A,(0,1)): pos twin id 1 at cos 1.0, best neg cos 0 -> easy
    assert(got(5L).getLong(2) == 1L && got(5L).getDouble(3) == 1.0)
    assert(got(5L).getDouble(6) == 1.0 && !got(5L).getBoolean(7))
    // probe 3: label C has no peer -> null positive fields, null verdict
    assert(got(3L).isNullAt(2) && got(3L).isNullAt(3) &&
      got(3L).isNullAt(6) && got(3L).isNullAt(7))
    assert(got(3L).getLong(4) == 0L || got(3L).getLong(4) == 1L ||
      got(3L).getLong(4) == 5L) // its neg is whichever A/B is closest
  }

  test("audioClippingAudit: decoded counters match the sample model") {
    import spark.implicits._
    val docsDf = (0L to 4L).map(i => (i, "x")).toDF("doc_id", "text")
    val media = Multimodal.mediaWithAudio(spark, docsDf)
    val got = Multimodal.audioClippingAudit(media)
      .collect().map(r => r.getLong(0) -> r).toMap
    (0L to 4L).foreach { id =>
      val n = 800 + (id % 5).toInt * 400
      val samples = (0 until n)
        .map(i => (((id * 31 + i.toLong * 7919) % 65536) - 32768).toInt)
      val peak = samples.map(math.abs).max
      val clip = samples.count(s => math.abs(s) >= 32700)
      val sil = samples.count(s => math.abs(s) <= 327)
      val ss = samples.map(s => s.toLong * s).sum
      val r = got(id)
      assert(r.getInt(1) == n && r.getInt(2) == peak, s"clip $id: $r")
      assert(r.getDouble(3) == BigDecimal(math.sqrt(ss.toDouble / n))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(r.getDouble(4) == BigDecimal(20.0 * math.log10(peak / 32768.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(r.getLong(5) == math.round(clip.toDouble / n * 1e6))
      assert(r.getLong(6) == math.round(sil.toDouble / n * 1e6))
      assert(r.getBoolean(7) == (clip * 1000L <= n))
      assert(r.getBoolean(8) == (sil * 2L <= n))
    }
    // zero-sample clip decodes to a defined row: null levels, no div-0
    val empty = Multimodal.audioClippingAudit(
      Seq(Multimodal.MediaRow(9L, "audio/wav",
        Multimodal.syntheticWav(9L, 0))).toDS()).collect().head
    assert(empty.getInt(1) == 0 && empty.isNullAt(3) && empty.isNullAt(4))
    assert(empty.getLong(5) == 0L && empty.getBoolean(7) &&
      empty.getBoolean(8))
  }

  test("participationRatio: isotropic = d, rank-1 = 1, constant = null") {
    import graft.ops.Embeddings
    def vecs(vs: Seq[Seq[Float]]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(
        vs.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }: _*),
        StructType(Seq(StructField("id", LongType, nullable = false),
          StructField("v", ArrayType(FloatType, containsNull = false)))))
    // balanced axes: C = diag(.5, .5) -> PR = 1/(0.25+0.25) = 2 = d
    val iso = Embeddings.participationRatio(vecs(Seq(
      Seq(1f, 0f), Seq(-1f, 0f), Seq(0f, 1f), Seq(0f, -1f))), "v")
      .collect().head
    assert(iso.getInt(0) == 2 && iso.getLong(1) == 4L)
    assert(iso.getDouble(4) == 2.0 && iso.getLong(5) == 1000000L, s"$iso")
    // all mass on one axis: C = diag(2.5, 0) -> PR = 1
    val r1 = Embeddings.participationRatio(vecs(Seq(
      Seq(1f, 0f), Seq(-1f, 0f), Seq(2f, 0f), Seq(-2f, 0f))), "v")
      .collect().head
    assert(r1.getDouble(4) == 1.0 && r1.getDouble(2) == 2.5, s"$r1")
    // zero covariance: PR undefined -> nulls, not a divide-by-zero
    val const = Embeddings.participationRatio(vecs(Seq(
      Seq(3f, 4f), Seq(3f, 4f), Seq(3f, 4f))), "v").collect().head
    assert(const.isNullAt(4) && const.isNullAt(5), s"$const")
  }

  test("ngramNovelty: first doc fully novel, exact dup fully stale") {
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, "abcdefghij"), Row(2L, "abcdefghij"),
      Row(3L, "0123456789")),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType))))
    val got = TextAnalysis.ngramNovelty(df, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // 10 chars -> 3 distinct 8-shingles each
    assert(got(1L) == ((3L, 3L, 1.0)), "first occurrence owns its shingles")
    assert(got(2L) == ((3L, 0L, 0.0)), "exact dup adds nothing")
    assert(got(3L) == ((3L, 3L, 1.0)), "disjoint content fully novel")
  }

  test("ngramNovelty n_shingles equals size(charShingles) per doc") {
    // the exploded and the array shingle form share one definition; this
    // pins them together on the edge cases where two copies would drift,
    // including Spark's trim (spaces only: a tab / newline stays) and
    // code-point (not UTF-16) positions
    val texts = Seq(1L -> "", 2L -> "abc", 3L -> "abcdefgh",
      4L -> "abababababab", 5L -> "  AbCdEfGhIj  ", 6L -> null,
      7L -> "\tAbc def \u00e9\ud83d\ude00xy \n",
      8L -> "\ud83d\ude00" * 10)
    val df = spark.createDataFrame(java.util.Arrays.asList(
      texts.map { case (i, t) => Row(i, t) }: _*),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType))))
    val novelty = TextAnalysis.ngramNovelty(df, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kernel = df.select(col("doc_id"),
        size(Dedup.charShingles(col("text"), 8)).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val postings = Dedup.shinglePostings(df, "doc_id", "text", 8).distinct()
      .groupBy(col("id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(postings == kernel)
    for (i <- 1L to 8L if i != 6L) assert(novelty.get(i) == kernel.get(i), s"doc $i")
    assert(kernel(4L) == 2L && kernel(5L) == 3L)
    // 15 code points after trim -> 8 shingles; 10 emoji -> 3 equal shingles
    assert(kernel(7L) == 8L && kernel(8L) == 1L)
    // null text: the kernel yields [null] (size 1), but ngramNovelty's
    // shingle self-join on s drops the null shingle, so the doc has no row
    assert(kernel(6L) == 1L && !novelty.contains(6L))
  }

  test("sourceCrossEntropy: hand-computed 2x2 matrix with add-one smoothing") {
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, "A", "x x y"), Row(2L, "B", "x y y")),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("source", StringType), StructField("text", StringType))))
    val got = TextAnalysis.sourceCrossEntropy(df, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // vocab {x,y}, V=2; p_B(x)=(1+1)/(3+2)=0.4, p_B(y)=0.6
    // H(A->B) = -(2*ln0.4 + 1*ln0.6)/3 with x1e6-pinned logs
    def l6(p: Double): Long = math.round(math.log(p) * 1e6)
    def h(cs: Seq[(Long, Double)], tot: Long): Double =
      BigDecimal(-cs.map { case (c, p) => c * l6(p) }.sum.toDouble /
        (tot * 1e6)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(("A", "B")) == ((3L, h(Seq(2L -> 0.4, 1L -> 0.6), 3L))))
    assert(got(("B", "A")) == ((3L, h(Seq(1L -> 0.6, 2L -> 0.4), 3L))))
    assert(got(("A", "A")) == ((3L, h(Seq(2L -> 0.6, 1L -> 0.4), 3L))))
    // each row's own model explains it best (diagonal minimum)
    assert(got(("A", "A"))._2 < got(("A", "B"))._2)
    assert(got(("B", "B"))._2 < got(("B", "A"))._2)
  }

  test("burrowsDelta: hand z-scores on a 3-source fixture; flat words drop") {
    val schema = StructType(Seq(StructField("doc_id", LongType,
      nullable = false), StructField("source", StringType),
      StructField("text", StringType)))
    // vocab {x,y}, 4 tokens per source; pinned freqs of x are
    // .75/.25/.5 -> z = +1/-1/0 exactly (sd = 2.5e8 on the 1e9 pins),
    // y is complementary -> Delta(A,B) = 2, Delta(A,C) = 1, diag 0
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, "A", "x x x y"), Row(2L, "B", "x y y y"),
      Row(3L, "C", "x x y y")), schema)
    val got = TextAnalysis.burrowsDelta(df, "source", "text", m = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got(("A", "B")) == ((2L, 2.0)) && got(("B", "A")) == ((2L, 2.0)))
    assert(got(("A", "C")) == ((2L, 1.0)) && got(("B", "C")) == ((2L, 1.0)))
    assert(got(("A", "A")) == ((2L, 0.0)) && got(("C", "C")) == ((2L, 0.0)))
    // a word used identically everywhere has zero variance: it must
    // drop from the marker set, not zero-divide (here "the")
    val flat = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, "A", "the x"), Row(2L, "B", "the y")), schema)
    val f = TextAnalysis.burrowsDelta(flat, "source", "text", m = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // only x,y survive; with 2 groups every surviving word gives
    // |z_a - z_b| = 2*round(1e6/sqrt 2)/1e6
    assert(f(("A", "B")) == ((2L, 1.414214)))
  }

  test("intrinsicDimTwoNN: collinear points give the hand TwoNN estimate") {
    import graft.ops.Similarity
    // 1-D cloud embedded in 2-D: 0, 1, 3 -> mu ratios 3, 2, 1.5
    val pts = spark.createDataFrame(java.util.Arrays.asList(
      Row(0L, Seq(0.0f, 0.0f)), Row(1L, Seq(1.0f, 0.0f)),
      Row(3L, Seq(3.0f, 0.0f))),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("v", ArrayType(FloatType, containsNull = false)))))
    val r = Similarity.intrinsicDimTwoNN(pts, "id", "v").collect().head
    val lnr = Seq(9.0 / 1.0, 4.0 / 1.0, 9.0 / 4.0)
      .map(q => math.round(0.5 * math.log(q) * 1e9))
    val want = BigDecimal(3.0 / (lnr.sum.toDouble / 1e9))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((3L, 3L, want)))
    // an exact duplicate pair is excluded from the estimate, not a crash
    val dup = spark.createDataFrame(java.util.Arrays.asList(
      Row(0L, Seq(0.0f, 0.0f)), Row(1L, Seq(0.0f, 0.0f)),
      Row(2L, Seq(1.0f, 0.0f)), Row(5L, Seq(4.0f, 0.0f))),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("v", ArrayType(FloatType, containsNull = false)))))
    val d = Similarity.intrinsicDimTwoNN(dup, "id", "v").collect().head
    assert(d.getLong(0) == 4L && d.getLong(1) == 2L)
  }

  test("alignmentUniformity: hand pins on two separated label pairs; collapse is 0/0") {
    import graft.ops.Similarity
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", ArrayType(FloatType, containsNull = false)),
      StructField("lbl", IntegerType, nullable = false)))
    // labels A at x=0, B at x=3, each a vertical unit pair: positive
    // pairs both have d²=1 -> alignment exactly 1.0; cross d² ∈ {9,10}
    val pts = spark.createDataFrame(java.util.Arrays.asList(
      Row(0L, Seq(0.0f, 0.0f), 0), Row(1L, Seq(0.0f, 1.0f), 0),
      Row(2L, Seq(3.0f, 0.0f), 1), Row(3L, Seq(3.0f, 1.0f), 1)), schema)
    val r = Similarity.alignmentUniformity(pts, "id", "v", "lbl")
      .collect().head
    val e9 = (d: Double) => math.round(math.exp(-2.0 * d) * 1e9)
    val se9 = 2 * e9(1.0) + 2 * e9(9.0) + 2 * e9(10.0)
    val wantU = BigDecimal(math.log(se9.toDouble / 1e9 / 6.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)) ==
      ((6L, 2L, 1.0, wantU)))
    // total collapse: perfect alignment (0) AND zero uniformity (ln 1)
    // — the pathological corner the two-number readout exists to catch
    val collapsed = spark.createDataFrame(java.util.Arrays.asList(
      (0 until 4).map(i => Row(i.toLong, Seq(1.0f, 2.0f), i % 2)): _*),
      schema)
    val c = Similarity.alignmentUniformity(collapsed, "id", "v", "lbl")
      .collect().head
    assert(c.getDouble(2) == 0.0 && c.getDouble(3) == 0.0)
  }

  test("lofOutliers: symmetric square is exactly 1.0, outlier tops, dups excluded") {
    import graft.ops.Similarity
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", ArrayType(FloatType, containsNull = false))))
    def df(rows: Seq[Row]) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    // unit square, k=2: every corner's 2-NN are the adjacent corners at
    // d²=1; full symmetry makes every pinned lrd equal -> LOF exactly 1
    val square = Seq(Row(0L, Seq(0.0f, 0.0f)), Row(1L, Seq(0.0f, 1.0f)),
      Row(2L, Seq(1.0f, 0.0f)), Row(3L, Seq(1.0f, 1.0f)))
    val sq = Similarity.lofOutliers(df(square), "id", "v", k = 2, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(sq.toSeq == Seq((0L, 1.0, 1L), (1L, 1.0, 2L),
      (2L, 1.0, 3L), (3L, 1.0, 4L)))
    // a far point is the clear top outlier; corners keep LOF = 1 (their
    // kNN sets and their neighbors' densities are untouched by it)
    val out = Similarity.lofOutliers(
      df(square :+ Row(9L, Seq(10.0f, 10.0f))), "id", "v", k = 2, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(out.head._1 == 9L && out.head._2 > 100.0 && out.head._3 == 1L)
    assert(out.tail.forall(_._2 == 1.0))
    // a triple of exact duplicates has zero reachability mass: its lrd
    // is undefined and the nulls propagate out -> only corners report
    val dups = Seq(Row(10L, Seq(50.0f, 50.0f)), Row(11L, Seq(50.0f, 50.0f)),
      Row(12L, Seq(50.0f, 50.0f)))
    val mixed = Similarity.lofOutliers(df(square ++ dups), "id", "v",
      k = 2, topK = 10).collect().map(_.getLong(0)).toSet
    assert(mixed == Set(0L, 1L, 2L, 3L))
  }

  test("damerau_levenshtein is the unrestricted variant, matching DuckDB") {
    import graft.functions.StringKernels
    import org.apache.spark.unsafe.types.UTF8String
    def dl(a: String, b: String): Int =
      StringKernels.damerauLevenshtein(UTF8String.fromString(a),
        UTF8String.fromString(b))
    // the OSA-vs-unrestricted witness: ca -> ac -> abc is 2 edits
    // (OSA forbids editing across a transposition and returns 3;
    // DuckDB probe returns 2)
    assert(dl("ca", "abc") == 2)
    // adjacent transposition costs 1 where levenshtein pays 2
    assert(dl("abcdef", "abdcef") == 1)
    assert(dl("kitten", "sitting") == 3)
    assert(dl("", "abc") == 3 && dl("abc", "") == 3 && dl("", "") == 0)
    assert(dl("same", "same") == 0)
    // expression form through codegen
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, "abcdef", "abdcef")),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("a", StringType), StructField("b", StringType))))
    val got = df.select(
      call_function("damerau_levenshtein", col("a"), col("b")).as("d"),
      levenshtein(col("a"), col("b")).as("l")).collect().head
    assert(got.getInt(0) == 1 && got.getInt(1) == 2)
  }

  test("jaro_winkler matches the published values and DuckDB's semantics") {
    import graft.functions.StringKernels
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double =
      StringKernels.jaroWinkler(UTF8String.fromString(a),
        UTF8String.fromString(b))
    // canonical textbook pairs
    assert(math.abs(jw("martha", "marhta") - 0.9611111111111111) < 1e-12)
    assert(math.abs(jw("dixon", "dicksonx") - 0.8133333333333332) < 1e-12)
    assert(math.abs(jw("crimson", "clemson") - 0.8285714285714287) < 1e-12)
    // boost threshold: jaro <= 0.7 gets NO prefix boost (DuckDB probe)
    assert(math.abs(jw("abcdefgh", "abcdzzzz") - 0.6666666666666666) < 1e-12)
    assert(math.abs(jw("abcdef", "abcdXX") - 0.8666666666666666) < 1e-12)
    // window floor: max/2-1 = 0 means adjacent swaps never match
    assert(jw("ab", "ba") == 0.0)
    // empties score 0 (both engines), equal strings 1
    assert(jw("", "") == 0.0 && jw("", "abc") == 0.0)
    assert(jw("a", "a") == 1.0 && jw("aaaa", "aaaa") == 1.0)
    // byte-level semantics on multibyte code points (DuckDB probe:
    // 'café' vs 'cafe' = 0.8483... over BYTES, not code points)
    assert(math.abs(jw("café", "cafe") - 0.8483333333333334) < 1e-12)
    // expression form agrees with the kernel and survives codegen
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, "martha", "marhta"), Row(2L, "dixon", "dicksonx")),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("a", StringType), StructField("b", StringType))))
    val got = df.select(col("id"),
      call_function("jaro_winkler", col("a"), col("b")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - 0.9611111111111111) < 1e-12)
    assert(math.abs(got(2L) - 0.8133333333333332) < 1e-12)
  }

  test("IVF-PQ prunes the ADC scan to probed cells with recall >= plain PQ") {
    val rng = new Lcg(11)
    val vecs = (0L until 100L).map { i =>
      i -> Array.tabulate(8)(_ => rng.nextInt(200) / 100.0f - 1.0f)
    } :+ (500L -> Array.tabulate(8)(j => 1.0f + j)) :+
      (501L -> Array.tabulate(8)(j => 3.0f * (1.0f + j)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(vecs.map(v => Row(v._1, v._2.toSeq)): _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    val diag = new Similarity.IvfPqDiag
    val res = Similarity.ivfPqTopK(df, "vec_id", "embedding",
      queryIds = Seq(500L), k = 3, dim = 8, numCells = 8, nProbe = 2,
      m = 4, ksub = 8, rerank = 10, diag = Some(diag)).collect()
    // the pruning is real: the ADC stage scored strictly fewer rows
    // than the corpus (nProbe=2 of 8 cells; 1 query)
    assert(diag.corpusRows == 102L)
    assert(diag.adcScannedRows > 0 && diag.adcScannedRows < diag.corpusRows,
      s"ADC scanned ${diag.adcScannedRows} of ${diag.corpusRows}")
    // 501 colinear with 500: same cell as the query (identical normalized
    // vector -> same coarse assignment), so pruning cannot lose it, and
    // exact re-rank pins cosine 1.0 at rank 1
    val top = res.minBy(_.getAs[Int]("rank"))
    assert(top.getAs[Long]("neighbor_id") == 501L)
    assert(top.getAs[Double]("cosine") == 1.0)
    // recall vs brute is no worse than plain PQ on the same fixture
    val brute = Similarity.bruteForceTopK(df, "vec_id", "embedding",
        Seq(500L), k = 3).collect().map(_.getAs[Long]("neighbor_id")).toSet
    val pq = Similarity.pqTopK(df, "vec_id", "embedding",
        queryIds = Seq(500L), k = 3, dim = 8, m = 4, ksub = 8,
        rerank = 10).collect().map(_.getAs[Long]("neighbor_id")).toSet
    val ivfpq = res.map(_.getAs[Long]("neighbor_id")).toSet
    assert((ivfpq intersect brute).size >= (pq intersect brute).size,
      s"ivfpq $ivfpq vs pq $pq vs brute $brute")
  }

  test("split assignment is exhaustive, stable, and near the fractions") {
    val ids = docs((0L until 2000L).map(i => i -> s"doc $i"))
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = Sampling.splitAssign(ids, "doc_id", fr)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.values.sum == 2000L) // every doc exactly one split
    assert(math.abs(got("train") - 1600L) < 100, got.toString)
    assert(math.abs(got("val") - 200L) < 60, got.toString)
    // growing the corpus never migrates an existing doc's split
    val small = Sampling.splitAssign(docs((0L until 500L).map(i => i -> "x")),
        "doc_id", fr).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val large = Sampling.splitAssign(ids, "doc_id", fr)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    for ((id, s) <- small) assert(large(id) == s, s"doc $id migrated")
  }

  test("label centroids average per dimension with map-side shape") {
    import graft.ops.Embeddings
    val rows = Seq(
      Row(1L, Seq(1.0f, 2.0f), 0), Row(2L, Seq(3.0f, 4.0f), 0),
      Row(3L, Seq(10.0f, -2.0f), 1))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)),
        StructField("label", IntegerType, nullable = false))))
    val got = Embeddings.labelCentroids(df, "vec_id", "embedding", "label")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got == Map((0, 0) -> (2L, 2.0), (0, 1) -> (2L, 3.0),
      (1, 0) -> (1L, 10.0), (1, 1) -> (1L, -2.0)))
  }

  test("kCenterCoreset: farthest-first picks in hand-checked order") {
    import graft.ops.Embeddings
    // 1-dim points: id1 at 0, id2 at 1, id3 at 10, id4 at 4.
    // start id1; farthest id3 (d=100); then id4 (min(16,36)=16 beats
    // id2's min(1,81)=1)
    val rows = Seq(Row(1L, Seq(0.0f)), Row(2L, Seq(1.0f)),
      Row(3L, Seq(10.0f)), Row(4L, Seq(4.0f)))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType,
          containsNull = false)))))
    val got = Embeddings.kCenterCoreset(df, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(_._1)
    assert(got == Seq((1, 1L, 0.0), (2, 3L, 100.0), (3, 4L, 16.0)))
  }

  test("histSplitFinding: hand Gini gain, clean split wins the bin scan") {
    import graft.ops.Embeddings
    // 1-dim vectors x = 0..7, positive iff x >= 4, 4 bins over [0,7]:
    // bins (0,1|2,3|4,5|6,7) -> cut after bin 1 separates perfectly.
    // gain = gini(4/8) - 0 - 0 = 0.5 at split_x = 0 + 2*(7-0)/4 = 3.5
    val rows = (0 until 8).map(i => Row(i.toLong, Seq(i.toFloat), i >= 4))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)),
        StructField("p", BooleanType, nullable = false))))
    val r = Embeddings.histSplitFinding(df, "vec_id", "embedding",
      col("p"), bins = 4).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getInt(0) == 0 && h.getLong(1) == 3500000L) // split_x6 = 3.5e6
    assert((h.getLong(2), h.getLong(3), h.getLong(4), h.getLong(5)) ==
      ((4L, 0L, 4L, 4L)))
    assert(h.getLong(6) == 500000L) // gain6 = 0.5e6
  }

  test("int8 quantization spans the full range and round-trips closely") {
    import graft.ops.Embeddings
    val rows = Seq(
      Row(1L, Seq(0.5f, -1.0f, 0.25f)), // scale 1.0: codes 64, -127, 32
      Row(2L, Seq(0.0f, 0.0f, 0.0f))) // all-zero: scale 0, codes 0
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    val got = Embeddings.quantizeInt8(df, "vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getSeq[Int](2)))).toMap
    assert(got(1L) == ((1.0, Seq(64, -127, 32))))
    assert(got(2L) == ((0.0, Seq(0, 0, 0))))
    // dequantized error bound: |x - code/127*scale| <= scale/254
    val err = Embeddings.quantizeInt8(df, "vec_id", "embedding")
      .join(df, Seq("vec_id"))
      .filter(col("scale") > 0)
      .select(col("scale"),
        array_max(zip_with(col("embedding"), col("codes"), (x, c) =>
          abs(x.cast("double") - c.cast("double") / 127 * col("scale"))))
          .as("m"))
      .collect()
    err.foreach(r => assert(r.getDouble(1) <= r.getDouble(0) / 254 + 1e-12))
  }

  test("embedding prep pipeline drops planted int8-identical duplicates") {
    import graft.ops.Embeddings
    val base = Seq(
      Row(1L, Seq(1.0f, 2.0f), 0), Row(2L, Seq(3.0f, 4.0f), 0),
      Row(3L, Seq(10.0f, -2.0f), 1))
    // planted exact copy of vec 1 under a higher id
    val rows = base :+ Row(100L, Seq(1.0f, 2.0f), 0)
    def mk(rs: Seq[Row]) = spark.createDataFrame(
      java.util.Arrays.asList(rs: _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)),
        StructField("label", IntegerType, nullable = false))))
    val batch = mk(rows)
    val codes = Embeddings.quantizeInt8(batch, "vec_id", "embedding")
      .select(col("vec_id"),
        array_join(transform(col("codes"), _.cast("string")), ",").as("ck"))
    val keep = codes.groupBy("ck").agg(min("vec_id").as("vec_id")).select("vec_id")
    val got = Embeddings.labelCentroids(
        batch.join(keep, Seq("vec_id"), "left_semi"),
        "vec_id", "embedding", "label")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    val unplanted = Embeddings.labelCentroids(mk(base),
        "vec_id", "embedding", "label")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    assert(got == unplanted) // the duplicate never reached the centroids
  }

  test("bigram LM score matches the hand-computed smoothed model") {
    // corpus: uni a:3 b:2 c:1, V=3; bigrams (a,b):2 (b,a):1 (b,c):1
    // doc 1 = a b a -> ln((2+1)/(3+3)), ln((1+1)/(2+3))
    // doc 2 = a b c -> ln(3/6), ln(2/5) — same mean by construction
    val d = docs(Seq(1L -> "a b a", 2L -> "a b c"))
    val got = TextAnalysis.lmScore(d, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exp = BigDecimal((math.log(0.5) + math.log(0.4)) / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Set((1L, 2L, exp), (2L, 2L, exp)))
  }

  test("bigram LM score separates templated from shuffled text") {
    // 5 identical templated docs vs one doc of the same words in a
    // scrambled order: the template's bigrams dominate the LM, so the
    // templated docs must score strictly higher
    val template = "alpha bravo charlie delta echo foxtrot golf hotel"
    val scrambled = "hotel alpha golf bravo foxtrot charlie echo delta"
    val d = docs((0L until 5L).map(_ -> template) :+ (9L -> scrambled))
    val byDoc = TextAnalysis.lmScore(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(byDoc(0L) > byDoc(9L))
  }

  test("cross-snapshot dedup issues the three verdicts") {
    val ref = docs(Seq(1L -> "shared text one", 2L -> "ref only text"))
    val batch = docs(Seq(
      10L -> "  shared   text one ", // normalizes to ref 1 -> dup_of_reference
      11L -> "fresh text", 12L -> "fresh  text", // batch-internal dup group
      13L -> "brand new"))
    val got = Dedup.dedupAgainstReference(batch, ref, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(10L -> "dup_of_reference", 11L -> "keep",
      12L -> "dup_in_batch", 13L -> "keep"))
  }

  test("language id prefers the planted stopword profile") {
    val d = docs(Seq(
      10L -> "the cat and the dog of a house in the garden is it you that",
      11L -> "der hund und die katze das ist nicht mit ein auf",
      12L -> "el perro y la casa que en un los se no"))
    val got = d.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(10L) == "en" && got(11L) == "de" && got(12L) == "es")
  }

  test("salted join and salted count equal their unsalted plans") {
    import graft.ops.Skew
    val rng = new Lcg(3)
    // heavy skew: 80% of rows share key 0
    val big = relation((0 until 500).map { i =>
      Seq(if (rng.nextInt(5) < 4) 0 else rng.nextInt(10), rng.nextInt(100))
    }).withColumnRenamed("att0", "k").withColumnRenamed("att1", "v")
    val small = relation((0 until 10).map(i => Seq(i, i * 7)))
      .withColumnRenamed("att0", "k").withColumnRenamed("att1", "w")
    val plain = big.join(small, Seq("k")).collect().map(_.toSeq).toSeq
    val salted = Skew.saltedJoin(big, small, Seq("k"), numSalts = 8)
      .select(plain.headOption.map(_ => big.columns ++ Array("w")).getOrElse(Array("k"))
        .map(col).toSeq: _*)
      .collect().map(_.toSeq).toSeq
    assert(salted.groupBy(identity).view.mapValues(_.size).toMap ==
      plain.groupBy(identity).view.mapValues(_.size).toMap)
    val plainCnt = big.groupBy(col("k")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val saltedCnt = Skew.saltedCount(big, Seq("k"), numSalts = 8)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(saltedCnt == plainCnt)
  }

  test("multimodal decode is deterministic with the declared shape") {
    val media = Multimodal.mediaFromDocuments(spark, docs(corpus.take(5)))
    val f1 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(f1.map(_.features.toSeq).toSeq == f2.map(_.features.toSeq).toSeq)
    for (f <- f1) {
      assert(f.features.length == Multimodal.FakeCodec.FeatureDim)
      assert(f.width >= 1 && f.width <= 640)
      assert(f.height >= 1 && f.height <= 480)
      assert(f.channels >= 1 && f.channels <= 4)
      assert(f.byte_len == corpus.find(_._1 == f.media_id).get._2.getBytes("UTF-8").length)
    }
  }

  test("dHash: hand-computed bits on a gradient, identical images pair at 0") {
    import java.awt.image.BufferedImage
    // 5x1 image, gray values strictly increasing left to right, 4x1
    // grid (5 columns of 1 px each): every adjacent mean rises -> all
    // 4 bits set = 15; reversed gradient -> 0
    def strip(vals: Seq[Int]): BufferedImage = {
      val img = new BufferedImage(vals.size, 1, BufferedImage.TYPE_INT_RGB)
      vals.zipWithIndex.foreach { case (v, x) =>
        img.setRGB(x, 0, (v << 16) | (v << 8) | v) }
      img
    }
    assert(Multimodal.dHashOf(strip(Seq(10, 20, 30, 40, 50)), 4, 1) == 15L)
    assert(Multimodal.dHashOf(strip(Seq(50, 40, 30, 20, 10)), 4, 1) == 0L)
    // flat image: no mean exceeds its neighbor -> 0
    assert(Multimodal.dHashOf(strip(Seq(7, 7, 7, 7, 7)), 4, 1) == 0L)
    // banded pair search: two identical planted PNGs hash identically
    // and surface at hamming 0; a random third does not pair with them
    // at maxDist 1
    import spark.implicits._
    val png = Multimodal.syntheticPng(42L, 8, 8)
    val media = Seq(
      Multimodal.MediaRow(1L, "image/png", png),
      Multimodal.MediaRow(2L, "image/png", png),
      Multimodal.MediaRow(3L, "image/png", Multimodal.syntheticPng(7L, 8, 8)),
      Multimodal.MediaRow(4L, "text/plain", "not an image".getBytes("UTF-8")))
      .toDS()
    val hashes = Multimodal.imageDHashes(media, gw = 4, gh = 4).toDF()
    assert(hashes.count() == 3L) // the text row is skipped, not faked
    val pairs = Multimodal.dhashNearDupPairs(hashes, bits = 16, maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }

  test("encodingAudit: counts each damage signature exactly, clean text zero") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "clean ascii text"),                     // nothing
      ("s1", "bad \ufffd twice \ufffd here"),         // 2 replacement chars
      // caf<A-tilde><copy> + two <a-circ><euro> mojibake leads = 1 + 2 = 3
      ("s2", "caf\u00c3\u00a9 and \u00e2\u20ac\u0099quote\u00e2\u20ac"),
      ("s2", "ctrl\u0001\u0002 but tab\tand\nnewline ok")) // 2 ctrl
      .toDF("source", "text")
    val got = TextAnalysis.encodingAudit(docs, "source", "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    assert(got("s1") == ((2L, 1L, 2L, 0L, 0L, 500000L)))
    assert(got("s2") == ((2L, 2L, 0L, 3L, 2L, 1000000L)))
  }

  test("gopherRules: each rule flips on its own planted violation") {
    import spark.implicits._
    val good = ((1 to 60).map(_ => "the") ++ Seq("and", "words", "here"))
      .mkString(" ") // 63 words, all alpha, stops present, sane lengths
    val docs = Seq(
      (1L, good),
      (2L, "too short"),                             // r_word_count
      (3L, (1 to 60).map(_ => "a").mkString(" ") +
        " the and"),                                 // r_mean_word_len (<3)
      (4L, (1 to 60).map(_ => "the ###").mkString(" ")), // r_symbol_ratio
      (5L, good + "\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j\n- k"),
      (6L, (1 to 60).map(_ => "12 34").mkString(" ") +
        " the and"))                                 // r_alpha_words
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getBoolean(9), "clean doc must pass")
    assert(!got(2L).getBoolean(2) && !got(2L).getBoolean(9))
    assert(!got(3L).getBoolean(3) && !got(3L).getBoolean(9))
    assert(!got(4L).getBoolean(4) && !got(4L).getBoolean(9))
    assert(!got(5L).getBoolean(5) && !got(5L).getBoolean(9)) // bullets
    assert(!got(6L).getBoolean(7) && !got(6L).getBoolean(9))
  }

  test("gopherRepetition: brute-force model and planted violations agree") {
    import spark.implicits._
    // Scala model of the exact published signals, independent of the
    // scan-side run-fold implementation.
    def model(text: String): Seq[Any] = {
      val t = text.trim.toLowerCase
      val toks = if (t.isEmpty) Array.empty[String] else t.split("\\s+")
      val words = toks.length.toLong
      val chars = if (t.isEmpty) 0L else toks.mkString(" ").length.toLong
      val lines = t.split("\n").map(_.trim).filter(_.nonEmpty)
      val nLines = lines.length.toLong
      def counts(xs: Seq[String]) =
        xs.groupBy(identity).map { case (g, o) => (g, o.size.toLong) }
      val lc = counts(lines.toSeq)
      val dupL = lc.collect { case (_, c) if c >= 2 => c - 1 }.sum
      val dupLc = lc.collect { case (g, c) if c >= 2 => (c - 1) * g.length }.sum
      def gramStats(k: Int): (Long, Long) =
        if (words < k) (0L, 0L)
        else {
          val gc = counts(toks.sliding(k).map(_.mkString(" ")).toSeq)
          (gc.map { case (g, c) => c * g.length }.max,
            gc.collect { case (g, c) if c >= 2 => c * g.length }.sum)
        }
      val st = (2 to 10).map(k => k -> gramStats(k)).toMap
      def ppm(n: Long, d: Long) =
        if (d > 0) math.round(n.toDouble / d.toDouble * 1e6) else 0L
      val verdicts = Seq(
        dupL * 10 <= nLines * 3, dupLc * 5 <= chars,
        st(2)._1 * 5 <= chars, st(3)._1 * 50 <= chars * 9,
        st(4)._1 * 25 <= chars * 4, st(5)._2 * 20 <= chars * 3,
        st(6)._2 * 50 <= chars * 7, st(7)._2 * 100 <= chars * 13,
        st(8)._2 * 25 <= chars * 3, st(9)._2 * 100 <= chars * 11,
        st(10)._2 * 10 <= chars)
      Seq(words, chars, nLines, ppm(dupL, nLines), ppm(dupLc, chars),
        ppm(st(2)._1, chars), ppm(st(3)._1, chars), ppm(st(4)._1, chars),
        ppm(st(5)._2, chars), ppm(st(10)._2, chars)) ++
        verdicts :+ verdicts.forall(identity)
    }
    val planted = Seq(
      // no repeated gram anywhere, and long enough that the heaviest
      // single-occurrence 2/3/4-gram stays under the top-gram bounds
      // (on a 5-word doc even one 2-gram covers >20% of chars — that
      // is faithful table-A1 semantics, not a defect)
      (200L, (1 to 40).map(i => s"tok$i").mkString(" ")),
      (201L, "alpha bravo\nalpha bravo\nalpha bravo\ncharlie delta"),
      (202L, ((1 to 3).flatMap(_ =>
        Seq("alpha", "bravo", "charlie", "delta", "echo"))).mkString(" ")),
      // the pinned empty-doc convention (round-10 ADVICE): a
      // whitespace-only doc has ZERO tokens and ZERO lines — and
      // vacuously passes every ratio rule (0 <= 0)
      (203L, ""),
      (204L, "   \n\t  "))
    val all = corpus ++ planted
    val got = TextAnalysis.gopherRepetition(docs(all), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    all.foreach { case (id, text) =>
      assert(got(id) == model(text), s"doc $id diverges from the model")
    }
    // planted semantics: 201 trips the line rules and the 2-gram rule,
    // 202 trips the dup-5-gram rule; 200 passes everything.
    val cols = TextAnalysis.gopherRepetition(docs(planted), "doc_id", "text")
      .columns.zipWithIndex.toMap
    def b(id: Long, c: String) = got(id)(cols(c) - 1).asInstanceOf[Boolean]
    assert(b(200L, "pass"))
    assert(!b(201L, "r_dup_line") && !b(201L, "r_dup_line_char") &&
      !b(201L, "r_top2gram") && !b(201L, "pass"))
    assert(!b(202L, "r_dup5gram") && !b(202L, "pass"))
    assert(got(201L)(cols("dup_line_ppm") - 1) == 500000L)
    // empty/whitespace-only docs: all-zero counters, vacuous pass
    Seq(203L, 204L).foreach { id =>
      assert(got(id)(cols("n_words") - 1) == 0L &&
        got(id)(cols("n_lines") - 1) == 0L && b(id, "pass"),
        s"empty-doc convention broken for $id: ${got(id)}")
    }
  }

  test("lmScoreKneserNey: hand-computed probabilities on a tiny corpus") {
    import spark.implicits._
    // bigrams: doc1 (a,b)(b,a)(a,b), doc2 (a,c)
    // bg: (a,b)=2 (b,a)=1 (a,c)=1; ctx a: c=3 N1f=2, b: c=1 N1f=1;
    // cont: a=1 b=1 c=1; types=3; D=0.75
    val df = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextAnalysis.lmScoreKneserNey(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    def p(bc: Long, cw1: Long, n1f: Long, n1p: Long, types: Long) =
      math.max(bc.toDouble - 0.75, 0.0) / cw1.toDouble +
        (0.75 * n1f.toDouble / cw1.toDouble) *
          (n1p.toDouble / types.toDouble)
    val pab = p(2, 3, 2, 1, 3) // 0.583333...
    val pba = p(1, 1, 1, 1, 3) // 0.5
    val pac = p(1, 3, 2, 1, 3) // 0.25
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L)._1 == 3L)
    assert(got(1L)._2 ==
      r6((math.log(pab) + math.log(pba) + math.log(pab)) / 3.0),
      s"${got(1L)}")
    assert(got(2L)._1 == 1L && got(2L)._2 == r6(math.log(pac)))
    // KN must rank the frequent continuation above the hapax one
    assert(got(1L)._2 > got(2L)._2)
  }

  test("doremiWeights: softmax of clipped excess loss matches a model; directions right") {
    import spark.implicits._
    // two sources with different LM-score profiles: src a = repetitive
    // template docs (high bigram probability), src b = shuffled rarities
    val docsDf = docs(corpus)
      .withColumn("source", when(col("doc_id") % 2 === 0, "a").otherwise("b"))
    val got = TextAnalysis.doremiWeights(docsDf, "doc_id", "source", "text",
        eta = 2.0, steps = 5)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    // model from the op's own scored docs (lmScore is spec'd elsewhere)
    val s6 = TextAnalysis.lmScore(docsDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> math.round(r.getDouble(2) * 1e6))
      .toMap
    val grp = s6.keys.groupBy(id => if (id % 2 == 0) "a" else "b")
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // ids is a key SET: mapping it straight through s6 would dedup
    // equal scores (docs 1 and 101 are exact duplicates) — toSeq first
    val sums = grp.view.mapValues(ids =>
      (ids.size.toLong, ids.toSeq.map(s6).sum)).toMap
    val (tn, ts6) = (sums.values.map(_._1).sum, sums.values.map(_._2).sum)
    val exc = sums.view.mapValues { case (n, s) =>
      math.max(0.0, r6(ts6.toDouble / tn / 1e6 - s.toDouble / n / 1e6))
    }.toMap
    // the op's libm-free pinned exponential, re-derived independently
    // from the shared per-bit constants (skipping the ×1.0 no-op
    // factors — IEEE multiply by 1.0 is exact, so the product matches)
    def expPinned(a6: Long): Double =
      (0 until TextAnalysis.ExpPinnedBits).foldLeft(1.0) { (acc, k) =>
        if (((a6 >> k) & 1L) == 1L) acc * TextAnalysis.ExpPinnedConsts(k)
        else acc
      }
    val e9 = exc.view.mapValues(e =>
      math.round(expPinned(math.round(10.0 * e * 1e6)) * 1e9)).toMap
    val w9 = e9.values.sum
    for (g <- Seq("a", "b")) {
      val (n, s) = sums(g)
      assert(got(g) == ((n, r6(s.toDouble / n / 1e6), exc(g),
        r6(e9(g).toDouble / w9))), s"$g: ${got(g)}")
    }
    // directions: weights sum to ~1; the weaker-scoring source gets
    // the larger weight; at least one source sits at the clipped floor
    assert(math.abs(got("a")._4 + got("b")._4 - 1.0) < 2e-6)
    val weak = if (got("a")._2 < got("b")._2) "a" else "b"
    val strong = if (weak == "a") "b" else "a"
    assert(got(weak)._4 >= got(strong)._4)
    assert(got(strong)._3 == 0.0, "better-than-reference source is clipped to 0")
  }

  test("ccnetBuckets: per-lang terciles match a model over lmScore output") {
    import spark.implicits._
    // two "languages" over the random corpus; the model recomputes the
    // buckets from the op's own lmScore output with the documented
    // interpolation and tie rule
    val docsDf = docs(corpus)
      .withColumn("lang", when(col("doc_id") % 2 === 0, "aa").otherwise("bb"))
    val scores = TextAnalysis.lmScore(docsDf, "doc_id", "text")
      .join(docsDf.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getString(3)))
    def pct(v: Seq[Double], p: Double): Double = {
      val s = v.sorted
      val idx = p * (s.length - 1)
      val lo = idx.toInt
      val f = idx - lo
      val t = if (lo + 1 < s.length) s(lo) + f * (s(lo + 1) - s(lo)) else s(lo)
      BigDecimal(t).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val model = scores.groupBy(_._3).toSeq.flatMap { case (lang, xs) =>
      val vs = xs.map(_._2).toSeq
      val (t1, t2) = (pct(vs, 1.0 / 3), pct(vs, 2.0 / 3))
      xs.toSeq.map { case (_, sc, _) =>
        val b = if (sc > t2) "head" else if (sc > t1) "middle" else "tail"
        (lang, b, t1, t2)
      }
    }.groupBy(identity).map { case (k, v) =>
      (k._1, k._2, k._3, k._4, v.size.toLong) }.toSet
    val got = TextAnalysis.ccnetBuckets(docsDf, "doc_id", "text", "lang")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).toSet
    assert(got == model, s"got $got\nwant $model")
    // thirds: no bucket may hold more than ceil(n/3)+1 docs per lang
    val perLang = scores.groupBy(_._3).view.mapValues(_.length).toMap
    got.foreach { case (lang, _, _, _, n) =>
      assert(n <= perLang(lang) / 3 + 2, s"unbalanced: $got")
    }
  }

  test("fineWebRules: each rule flips on its own planted violation") {
    import spark.implicits._
    val long1 = "this first line is comfortably longer than thirty chars."
    val long2 = "the second line also clears thirty characters easily."
    val long3 = "and a third distinct long line finishes the document."
    val docsDf = Seq(
      (1L, s"$long1\n$long2\n$long3"),                 // clean: passes
      (2L, s"${long1.init}\n${long2.init}\n${long3.init}"), // no punct
      (3L, (1 to 10).map(_ => "tiny.").mkString("\n")),     // all short
      (4L, (1 to 5).map(_ => long1).mkString("\n")),        // 4/5 dup mass
      (5L, " \n  \n"))  // whitespace-only: zero lines, vacuous pass
      .toDF("doc_id", "text")
    val got = TextAnalysis.fineWebRules(docsDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val cols = TextAnalysis.fineWebRules(docsDf, "doc_id", "text")
      .columns.zipWithIndex.toMap
    def b(id: Long, c: String) = got(id).getBoolean(cols(c))
    assert(b(1L, "pass"), s"${got(1L)}")
    assert(b(1L, "r_punct_lines") && b(1L, "r_short_lines") &&
      b(1L, "r_dup_line_chars"))
    assert(!b(2L, "r_punct_lines") && !b(2L, "pass"))
    assert(!b(3L, "r_short_lines") && b(3L, "r_punct_lines") && !b(3L, "pass"))
    assert(!b(4L, "r_dup_line_chars") && !b(4L, "pass"))
    // hand-checked ppms: doc 4 has 5 identical lines -> 4/5 of the char
    // mass is duplicate occurrences; doc 3 all-short, all-punct
    assert(got(4L).getLong(cols("dup_line_char_ppm")) == 800000L)
    assert(got(3L).getLong(cols("short_line_ppm")) == 1000000L)
    assert(got(3L).getLong(cols("punct_line_ppm")) == 1000000L)
    // empty-doc convention: zero non-empty lines, all-zero counters,
    // every ratio rule vacuously true
    assert(got(5L).getLong(cols("n_lines")) == 0L && b(5L, "pass"),
      s"${got(5L)}")
  }

  test("marginMine: exact model replay; hubs penalized at equal cosine") {
    import graft.ops.Similarity
    // ids % 5 == 0 are probes. Planted geometry: iso (id 1) and hub
    // (id 2) have EQUAL cosine 0.9 to probe A (id 0), but the hub is
    // also similar to the B probes (ids 5, 10) while iso is
    // anti-aligned — the ratio margin must rank iso above hub where a
    // raw cosine threshold cannot separate them.
    val rows: Seq[(Long, Array[Float])] = Seq(
      0L -> Array(1f, 0f, 0f),            // probe A
      5L -> Array(0f, 1f, 0f),            // probe B1
      10L -> Array(0f, 1f, 0f),           // probe B2
      1L -> Array(0.9f, -0.436f, 0f),     // iso
      2L -> Array(0.9f, 0.436f, 0f),      // hub
      3L -> Array(0f, 0f, 1f),
      4L -> Array(0.1f, 0.2f, -0.97f),
      6L -> Array(-0.3f, 0.4f, 0.86f),
      7L -> Array(0.5f, 0.5f, 0.7f))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, v) => Row(i, v.toSeq) }: _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    val k = 5
    val knn = 2
    val got = Similarity.marginMine(df, "vec_id", "embedding",
        col("vec_id") % 5 === 0, k = k, knn = knn)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getInt(4))).toSet
    // exact Scala model: same one-pass cosine accumulation as the
    // codegen'd cosine_sim, same x1e6 pinning, same windows
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var j = 0
      while (j < a.length) {
        d += a(j).toDouble * b(j).toDouble
        na += a(j).toDouble * a(j).toDouble
        nb += b(j).toDouble * b(j).toDouble
        j += 1
      }
      d / math.sqrt(na * nb)
    }
    val vm = rows.toMap
    val probes = rows.map(_._1).filter(_ % 5 == 0)
    val scored = for (q <- probes; (x, _) <- rows if x != q)
      yield (q, x, math.round(cos(vm(q), vm(x)) * 1e6))
    def topSum(xs: Seq[Long]): (Long, Long) = {
      val t = xs.sorted(Ordering[Long].reverse).take(knn)
      (t.sum, t.size.toLong)
    }
    val fwd = scored.groupBy(_._1).view.mapValues(g => topSum(g.map(_._3))).toMap
    val bwd = scored.groupBy(_._2).view.mapValues(g => topSum(g.map(_._3))).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = scored.flatMap { case (q, x, c6) =>
      val (fs, fk) = fwd(q); val (bs, bk) = bwd(x)
      val den = fs * bk + bs * fk
      if (den > 0) Some((q, x, c6, r6(c6.toDouble * 2 * fk * bk / den.toDouble)))
      else None
    }.groupBy(_._1).toSeq.flatMap { case (_, g) =>
      g.sortBy(t => (-t._4, t._2)).take(k).zipWithIndex.map { case (t, i) =>
        (t._1, t._2, r6(t._3.toDouble / 1e6), t._4, i + 1)
      }
    }.toSet
    assert(got == expect, s"got ${got.toSeq.sorted}\nwant ${expect.toSeq.sorted}")
    // the semantic claim: equal cosine to A, but iso outranks hub
    val forA = got.filter(_._1 == 0L).toSeq
    val isoRow = forA.find(_._2 == 1L).get
    val hubRow = forA.find(_._2 == 2L).get
    assert(isoRow._3 == hubRow._3, "fixture must pin equal cosines")
    assert(isoRow._4 > hubRow._4 && isoRow._5 < hubRow._5,
      s"iso $isoRow must outrank hub $hubRow")
  }

  test("hillTailIndex: hand-computed gamma/alpha, degenerate and short-vocab cases") {
    import spark.implicits._
    // frequencies a=8, b=4, c=2, d=1, e=1; k=2 -> top-3 = (8,4,2):
    // gamma = (ln(8/2) + ln(4/2)) / 2 = 1.5*ln2, alpha = 1/gamma
    val text = (Seq.fill(8)("a") ++ Seq.fill(4)("b") ++ Seq.fill(2)("c") ++
      Seq("d", "e")).mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val got = TextAnalysis.hillTailIndex(df, "text", k = 2).collect().head
    assert(got.getInt(0) == 2 && got.getLong(1) == 2L)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // through the op's own x1e9 pinning
    def ln9(f: Long) = math.round(math.log(f.toDouble) * 1e9)
    val excess = ln9(8) + ln9(4) - 2 * ln9(2)
    assert(got.getDouble(2) == r6(excess / 1e9 / 2.0), s"$got")
    assert(got.getDouble(3) == r6(1.0 / (excess / 1e9 / 2.0)), s"$got")
    // all-equal frequencies: gamma 0, alpha undefined (never a div error)
    val flat = TextAnalysis.hillTailIndex(
      Seq((1L, "x y x y")).toDF("doc_id", "text"), "text", k = 1)
      .collect().head
    assert(flat.getDouble(2) == 0.0 && flat.isNullAt(3), s"$flat")
    // vocab smaller than k+1: k shrinks to what exists
    val short = TextAnalysis.hillTailIndex(
      Seq((1L, "p p p q q r")).toDF("doc_id", "text"), "text", k = 10)
      .collect().head
    assert(short.getInt(0) == 2 && short.getLong(1) == 1L, s"$short")
  }

  test("piiLuhnAudit: checksum separates real cards from digit noise") {
    import spark.implicits._
    val df = Seq(
      (1L, "pay with 4111 1111 1111 1111 thanks"),   // valid Visa, spaced
      (2L, "ref 4111-1111-1111-1112 invalid"),        // checksum fails
      (3L, "amex 378282246310005 ok"),                // valid, 15 digits
      (4L, "order 123456789012 is only 12 digits"),   // too short: no cand
      (5L, "no numbers here at all"),
      (6L, "two: 4111 1111 1111 1111 and 5500005555555559"), // both valid
      (7L, "ts 1726483200123456789 telemetry"))       // 19 digits, not Luhn
      .toDF("doc_id", "text")
    val got = TextAnalysis.piiLuhnAudit(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getBoolean(3)))).toMap
    assert(got(1L) == ((1, 1, true)))
    assert(got(2L) == ((1, 0, false)), s"${got(2L)}")
    assert(got(3L) == ((1, 1, true)))
    assert(got(4L) == ((0, 0, false)))
    assert(got(5L) == ((0, 0, false)))
    assert(got(6L) == ((2, 2, true)))
    // a 19-digit timestamp IS a candidate (length in range) but the
    // checksum rejects it — the false positive Luhn exists to kill
    assert(got(7L)._1 == 1 && got(7L)._3 == false, s"${got(7L)}")
  }

  test("piiIbanAudit: mod-97 separates real IBANs from alphanumeric noise") {
    import spark.implicits._
    val df = Seq(
      (1L, "pay GB82 WEST 1234 5698 7654 32 now"),   // valid, spaced
      (2L, "ref DE89370400440532013000 ok"),          // valid, unspaced
      (3L, "acct FR1420041010050500013M02606 eu"),    // valid, letter in body
      (4L, "bad GB82WEST12345698765433 checksum"),    // off-by-one: reject
      (5L, "code AB12CDEF345678901 maybe"),           // candidate, ~1/97 odds
      (6L, "no accounts here"),
      (7L, "short GB8212345678901"))                  // 15 chars: candidate shape
      .toDF("doc_id", "text")
    val got = TextAnalysis.piiIbanAudit(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getBoolean(3)))).toMap
    assert(got(1L) == ((1, 1, true)), s"${got(1L)}")
    assert(got(2L) == ((1, 1, true)))
    assert(got(3L) == ((1, 1, true)))
    assert(got(4L) == ((1, 0, false)))
    assert(got(6L) == ((0, 0, false)))
    // JVM mod-97 model for the two arbitrary candidates
    def valid(s0: String): Boolean = {
      val s = s0.replace(" ", "")
      val r = s.drop(4) + s.take(4)
      val ds = r.flatMap(c => if (c.isLetter) (c - 55).toString else c.toString)
      val w = TextAnalysis.Mod97Weights
      val n = ds.length
      ds.zipWithIndex.map { case (c, i) =>
        (c - '0').toLong * w((n - 1 - i) % 96) }.sum % 97 == 1
    }
    assert(got(5L) == ((1, if (valid("AB12CDEF345678901")) 1 else 0,
      valid("AB12CDEF345678901"))))
    assert(got(7L)._1 == 1 && got(7L)._3 == valid("GB8212345678901"))
  }

  test("packEfficiency: boundary docs, tail fill and mean fill match hand counts") {
    import spark.implicits._
    // shard a, budget 10: docs 4+4+4 -> doc 2 (cum 8->12) crosses the
    // pack-0/1 boundary; total 12 -> 2 packs, tail 2, fill 0.6
    // shard b: 10+10 divides exactly -> no boundary, tail = budget, fill 1
    // shard c: a zero-token doc never counts as boundary
    val df = Seq(
      ("a", 1L, 4L), ("a", 2L, 4L), ("a", 3L, 4L),
      ("b", 1L, 10L), ("b", 2L, 10L),
      ("c", 1L, 0L), ("c", 2L, 3L)
    ).toDF("shard", "doc_id", "n_tokens")
    val got = graft.ops.Packing
      .packEfficiency(df, "doc_id", "n_tokens", "shard", budget = 10L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getLong(6), r.getDouble(7)))).toMap
    assert(got("a") == ((3L, 12L, 2L, 1L, 0.333333, 2L, 0.6)), s"${got("a")}")
    assert(got("b") == ((2L, 20L, 2L, 0L, 0.0, 10L, 1.0)), s"${got("b")}")
    assert(got("c") == ((2L, 3L, 1L, 0L, 0.0, 3L, 0.3)), s"${got("c")}")
    // consistency with the packer: boundary docs are exactly those
    // whose pack differs from the pack of their LAST token
    val packed = graft.ops.Packing
      .contiguousPack(df, "doc_id", "n_tokens", "shard", budget = 10L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3))
      .toMap
    assert(packed(("a", 2L)) == 0L, "doc 2 STARTS in pack 0 (then spills)")
  }

  test("temperatureMixPlan: quarter-grid curve matches an exact model; alpha=0.5 equals the mix draw") {
    import spark.implicits._
    val rows = (0L until 60L).map(i => (i, "a")) ++
      (60L until 90L).map(i => (i, "b")) ++ (90L until 100L).map(i => (i, "c"))
    val df = rows.toDF("doc_id", "source")
    val got = Sampling.temperatureMixPlan(df, "doc_id", "source",
        targetRows = 50)
      .collect().map(r => (r.getDouble(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5),
          r.getDouble(6), r.getDouble(7)))).toMap
    assert(got.size == 15)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val n = Map("a" -> 60L, "b" -> 30L, "c" -> 10L)
    def nAlpha(a: Double, m: Long): Double = a match {
      case 0.0 => 1.0
      case 0.25 => math.sqrt(math.sqrt(m.toDouble))
      case 0.5 => math.sqrt(m.toDouble)
      case 0.75 => math.sqrt(m.toDouble) * math.sqrt(math.sqrt(m.toDouble))
      case _ => m.toDouble
    }
    for (a <- Seq(0.0, 0.25, 0.5, 0.75, 1.0)) {
      val wa9 = n.view.mapValues(m => math.round(nAlpha(a, m) * 1e9)).toMap
      val wt9 = wa9.values.sum
      val ess = r6(wt9.toDouble * wt9.toDouble /
        wa9.values.map(v => BigInt(v) * BigInt(v)).sum.toDouble)
      val mxs = r6(wa9.values.max.toDouble / wt9.toDouble)
      for (g <- Seq("a", "b", "c")) {
        val w = wa9(g).toDouble / wt9.toDouble
        val rate = math.min(1.0, 50.0 * w / n(g).toDouble)
        val thrHex = f"${math.floor(rate * 4294967296.0).toLong}%08x"
        val kept = rows.filter(_._2 == g).count { case (id, _) =>
          rate >= 1.0 || md5hex(s"tmix:$id") < thrHex }
        assert(got((a, g)) == ((n(g), r6(w), r6(rate), kept.toLong, ess,
          mxs)), s"alpha=$a g=$g: ${got((a, g))}")
      }
    }
    // alpha=1 is the natural mixture: every rate is target/total
    assert(got((1.0, "a"))._3 == 0.5 && got((1.0, "c"))._3 == 0.5)
    // alpha=0 is uniform weights: the small source gets the largest rate
    assert(got((0.0, "c"))._3 > got((0.0, "a"))._3)
    // the alpha=0.5 kept counts ARE temperatureMix's draw (same salt)
    val mixKept = Sampling.temperatureMix(df, "doc_id", "source",
        alpha = 0.5, targetRows = 50)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (g <- Seq("a", "b", "c"))
      assert(got((0.5, g))._4 == mixKept.getOrElse(g, 0L), s"mix parity $g")
  }

  test("unimaxPlan matches the iterative water-filling model") {
    import spark.implicits._
    // the published algorithm, run sequentially: repeatedly give every
    // active source an equal share, saturating any source whose
    // capacity falls strictly below it
    def model(caps: Map[String, Long],
              budget: Long): Map[String, (Long, Boolean)] = {
      var rem = budget
      var active = caps.keySet
      var alloc = Map.empty[String, (Long, Boolean)]
      var done = false
      while (active.nonEmpty && !done) {
        val sat = active.filter(g => caps(g) * active.size < rem)
        if (sat.isEmpty) {
          val lam = math.round(rem.toDouble / active.size)
          alloc ++= active.map(_ -> (lam, false))
          done = true
        } else {
          sat.foreach { g => alloc += g -> (caps(g), true); rem -= caps(g) }
          active --= sat
        }
      }
      alloc
    }
    // token counts: web 60, books 20, tiny 3 (whitespace tokens)
    val df = (
      (0 until 6).map(i => ("web", Seq.fill(10)("w" + i).mkString(" "))) ++
      (0 until 2).map(i => ("books", Seq.fill(10)("b" + i).mkString(" "))) :+
      ("tiny", "x y z")).toDF("source", "text")
    val n = Map("web" -> 60L, "books" -> 20L, "tiny" -> 3L)
    for ((budget, epochs) <- Seq((100L, 2), (200L, 2), (30L, 2), (83L, 1))) {
      val caps = n.view.mapValues(_ * epochs).toMap
      val want = model(caps, budget)
      val got = Sampling.unimaxPlan(df, "source", "text", budget, epochs)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getLong(4),
            r.getDouble(5), r.getDouble(6)))).toMap
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      for (g <- Seq("web", "books", "tiny")) {
        val (nt, cap, sat, alloc, ep, share) = got(g)
        assert(nt == n(g) && cap == caps(g), s"$g counts: ${got(g)}")
        assert((alloc, sat) == want(g),
          s"budget=$budget $g: ${got(g)} want ${want(g)}")
        assert(ep == r6(alloc.toDouble / n(g)), s"$g epochs")
        assert(share == r6(alloc.toDouble / budget), s"$g share")
      }
      // never allocate past the budget (up to the one λ rounding per
      // unsaturated source)
      val total = got.values.map(_._4).sum
      assert(total <= budget + got.size, s"budget=$budget total=$total")
    }
    // all-saturated case under-spends deliberately: caps bind everywhere
    val allSat = Sampling.unimaxPlan(df, "source", "text", 200L, 2)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(allSat == Map("web" -> 120L, "books" -> 40L, "tiny" -> 6L))
  }

  test("qualityGateSweep: decile curve matches a model over lmScore output") {
    import spark.implicits._
    val docsDf = docs(corpus)
    val got = TextAnalysis.qualityGateSweep(docsDf, "doc_id", "text")
      .collect().map(r => r.getInt(0) ->
        ((r.getDouble(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(got.size == 9)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // model from the op's own scored docs (lmScore is spec'd elsewhere)
    val sc = TextAnalysis.lmScore(docsDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val ntok = docsDf.collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.toLowerCase.split("\\s+").length.toLong).toMap
    val scored = sc.keys.toSeq.map(id => (sc(id), ntok(id)))
    val (nd, nt) = (scored.size.toLong, scored.map(_._2).sum)
    def pct(p: Double): Double = {
      val s = scored.map(_._1).sorted
      val idx = p * (s.length - 1)
      val lo = idx.toInt
      val f = idx - lo
      r6(if (lo + 1 < s.length) s(lo) + f * (s(lo + 1) - s(lo)) else s(lo))
    }
    for (d <- 1 to 9) {
      val t = pct(d / 10.0)
      val kept = scored.filter(_._1 > t)
      val (kd, kt) = (kept.size.toLong, kept.map(_._2).sum)
      assert(got(d) == ((t, kd, kt, r6(kd.toDouble / nd),
        r6(kt.toDouble / nt))), s"decile $d: ${got(d)}")
    }
    // the curve is monotone: higher gates keep fewer docs
    val keptByD = (1 to 9).map(d => got(d)._2)
    assert(keptByD.zip(keptByD.tail).forall { case (a, b) => a >= b })
  }

  test("fimSplit: PSM segments reassemble the doc; coin and cuts match the md5 model") {
    import spark.implicits._
    val docs = (0L until 40L).map(i =>
      (i, if (i % 7 == 0) "tiny" else s"doc $i " + ("abcdefghij" * 8)))
      .toDF("doc_id", "text")
    val got = TextAnalysis.fimSplit(docs, "doc_id", "text",
        rate = 0.5, minChars = 40)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getString(5)))).toMap
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val thr = graft.ops.Sampling.hexThreshold(0.5)
    var applied = 0
    for ((id, text) <- texts) {
      val (fim, pl, ml, sl, out) = got(id)
      val sel = md5hex(s"fim:$id") < thr && text.length >= 40
      assert(fim == sel, s"doc $id participation")
      if (!sel) {
        assert((pl, ml, sl, out) == ((text.length.toLong, 0L, 0L, text)))
      } else {
        applied += 1
        val h = md5hex(s"fim-cut:$id")
        val span = text.length - 1
        val c1 = java.lang.Long.parseLong(h.substring(0, 8), 16) % span + 1
        val c2 = java.lang.Long.parseLong(h.substring(8, 16), 16) % span + 1
        val (lo, hi) = (math.min(c1, c2), math.max(c1, c2))
        assert((pl, ml, sl) == ((lo, hi - lo, text.length - hi)), s"doc $id")
        val (p, m, sfx) = (text.substring(0, lo.toInt),
          text.substring(lo.toInt, hi.toInt), text.substring(hi.toInt))
        assert(out == s"<PRE>$p<SUF>$sfx<MID>$m", s"doc $id render")
        assert(p + m + sfx == text, s"doc $id must reassemble")
        assert(p.nonEmpty && sfx.nonEmpty)
      }
    }
    // the coin is live both ways and short docs always pass through
    assert(applied > 0 && applied < texts.count(_._2.length >= 40))
  }

  test("vocabCoverage: curve matches a counted model and clamps past the vocab") {
    import spark.implicits._
    // freq: aa=4, bb=3, cc=2, dd=1 (10 tokens, 4 terms)
    val docs = Seq((1L, "aa aa bb cc"), (2L, "aa bb dd"), (3L, "aa bb cc"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.vocabCoverage(docs, "text", Seq(1, 2, 3, 100))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1) == ((4L, 10L, 0.6)))
    assert(got(2) == ((7L, 10L, 0.3)))
    assert(got(3) == ((9L, 10L, 0.1)))
    // V beyond the observed vocabulary clamps to full coverage
    assert(got(100) == ((10L, 10L, 0.0)))
    // frequency tie breaks by term: "ab ba" ranks ab first
    val tie = TextAnalysis.vocabCoverage(
      Seq((1L, "ba ab")).toDF("doc_id", "text"), "text", Seq(1))
      .collect().head
    assert(tie.getLong(1) == 1L && tie.getDouble(3) == 0.5)
  }

  test("dataCompPairFilter: every rule gates its pair; non-images are skipped") {
    import spark.implicits._
    import graft.ops.Multimodal.MediaRow
    val en = "the of and to a in is was he for"
    val fr = "le et les des une du est pour dans ce"
    val docs = Seq(
      (0L, en),          // dup image (same png as 2) -> r_unique_img false
      (2L, en),          // dup image -> false
      (4L, en),          // 3x20 png -> r_dims AND r_aspect false
      (6L, en),          // healthy pair -> keep
      (8L, fr),          // french caption -> r_caption_lang false
      (10L, "too short"),// 2 tokens -> r_caption_len false
      (1L, en)           // no image payload -> absent from the output
    ).toDF("doc_id", "text")
    val media = spark.createDataset(Seq(
      MediaRow(0L, "image/png", Multimodal.syntheticPng(99L, 10, 12)),
      MediaRow(2L, "image/png", Multimodal.syntheticPng(99L, 10, 12)),
      MediaRow(4L, "image/png", Multimodal.syntheticPng(4L, 3, 20)),
      MediaRow(6L, "image/png", Multimodal.syntheticPng(6L, 10, 12)),
      MediaRow(8L, "image/png", Multimodal.syntheticPng(8L, 10, 12)),
      MediaRow(10L, "image/png", Multimodal.syntheticPng(10L, 10, 12)),
      MediaRow(1L, "text/plain", en.getBytes("UTF-8"))))
    val got = Multimodal.dataCompPairFilter(media, docs, "doc_id", "text",
        minDim = 8, maxAspect = 2, minCapTokens = 5, okLangs = Seq("en"))
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(5), r.getBoolean(6), r.getBoolean(7),
          r.getBoolean(8), r.getBoolean(9), r.getBoolean(10)))).toMap
    assert(got.keySet == Set(0L, 2L, 4L, 6L, 8L, 10L))
    // (r_dims, r_aspect, r_unique_img, r_caption_len, r_caption_lang, keep)
    assert(got(0L) == ((true, true, false, true, true, false)))
    assert(got(2L) == ((true, true, false, true, true, false)))
    assert(got(4L) == ((false, false, true, true, true, false)), s"${got(4L)}")
    assert(got(6L) == ((true, true, true, true, true, true)))
    assert(got(8L) == ((true, true, true, true, false, false)))
    assert(got(10L) == ((true, true, true, false, true, false)))
  }

  test("clapPairFilter: every audio and caption rule gates its pair") {
    import spark.implicits._
    import graft.ops.Multimodal.MediaRow
    // hand-built PCM WAV with chosen samples (the syntheticWav header)
    def wavOf(samples: Array[Short]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44 + samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + samples.length * 2)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
      bb.putShort(1); bb.putShort(1); bb.putInt(8000); bb.putInt(16000)
      bb.putShort(2); bb.putShort(16)
      bb.put("data".getBytes("US-ASCII")); bb.putInt(samples.length * 2)
      samples.foreach(bb.putShort)
      bb.array
    }
    val en = "the of and to a in is was he for"
    val de = "der die und in den von zu das mit sich"
    // moderate-level clip: passes clipping AND silence gates
    val healthy = wavOf(Array.fill(800)(5000.toShort))
    val media = spark.createDataset(Seq(
      MediaRow(1L, "audio/wav", healthy),                       // keep
      MediaRow(2L, "audio/wav", wavOf(Array.fill(800)(0.toShort))), // silent
      MediaRow(3L, "audio/wav", wavOf(Array.fill(800)(32767.toShort))), // clipped
      MediaRow(4L, "audio/wav", wavOf(Array.fill(200)(5000.toShort))), // short
      MediaRow(5L, "audio/wav", healthy),                       // bad caption len
      MediaRow(6L, "audio/wav", healthy),                       // german caption
      MediaRow(7L, "text/plain", en.getBytes("UTF-8"))))        // undecodable
    val caps = Seq(1L -> en, 2L -> en, 3L -> en, 4L -> en,
      5L -> "hi", 6L -> de, 7L -> en).toDF("doc_id", "text")
    val got = Multimodal.clapPairFilter(media, caps, "doc_id", "text",
        minSamples = 400, maxSamples = 2000, minCapTokens = 3,
        okLangs = Seq("en"))
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(6), r.getBoolean(7), r.getBoolean(8),
          r.getBoolean(9), r.getBoolean(10), r.getBoolean(11)))).toMap
    // undecodable payload 7 is absent (audioFrameFeatures contract)
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // (r_clipping, r_silence, r_duration, r_caption_len, r_caption_lang, keep)
    assert(got(1L) == ((true, true, true, true, true, true)), s"${got(1L)}")
    assert(got(2L) == ((true, false, true, true, true, false)), s"${got(2L)}")
    assert(got(3L) == ((false, true, true, true, true, false)), s"${got(3L)}")
    assert(got(4L) == ((true, true, false, true, true, false)), s"${got(4L)}")
    assert(got(5L) == ((true, true, true, false, true, false)), s"${got(5L)}")
    assert(got(6L) == ((true, true, true, true, false, false)), s"${got(6L)}")
  }

  test("pii audits: a NULL document pins to (0, 0, false), not NPE/-1") {
    // the oracle's LEFT JOIN emits (0, 0, false) for a doc with no
    // candidates; a null text must land on the same convention — the
    // compiled IBAN scan used to NPE and the declarative Luhn audit
    // used to leak size(null) = -1
    def df(live: String) = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, null),
        org.apache.spark.sql.Row(2L, live)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    for (audit <- Seq(
        TextAnalysis.piiLuhnAudit(df("pay 4111 1111 1111 1111 now"),
          "doc_id", "text"),
        TextAnalysis.piiIbanAudit(df("pay GB82 WEST 1234 5698 7654 32 now"),
          "doc_id", "text"))) {
      val got = audit.collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getBoolean(3))))
        .toMap
      assert(got(1L) == ((0, 0, false)), s"null doc: ${got(1L)}")
      assert(got(2L) == ((1, 1, true)), s"live doc: ${got(2L)}")
    }
  }

  test("expPinned: libm-free exponential tracks Math.exp across the pinned domain") {
    // per-bit constants compose to within a handful of ulps of true
    // exp over the whole covered range — far inside the ×1e9 pinning
    for (a6 <- Seq(0L, 1L, 7L, 999999L, 1000000L, 5371829L, 22900000L,
        (1L << TextAnalysis.ExpPinnedBits) - 1)) {
      val rows = spark.range(1).select(
        TextAnalysis.expPinned(org.apache.spark.sql.functions.lit(a6))
          .as("e")).collect()
      val got = rows.head.getDouble(0)
      val want = math.exp(a6 * 1e-6)
      assert(math.abs(got / want - 1.0) < 1e-13, s"a6=$a6 got=$got want=$want")
    }
    // out-of-domain arguments fail LOUDLY as NULL in both forms — not
    // a silently bit-wrapped (wrong but plausible) product
    for (bad <- Seq(1L << TextAnalysis.ExpPinnedBits,
        (1L << TextAnalysis.ExpPinnedBits) + 123456L, -1L)) {
      val rows = spark.range(1).select(
        TextAnalysis.expPinned(org.apache.spark.sql.functions.lit(bad))
          .as("e")).collect()
      assert(rows.head.isNullAt(0), s"a6=$bad must be NULL, got ${rows.head}")
      // the SQL form carries the same guard (evaluated here through
      // Spark's parser — the CASE/>>/CAST subset is common to DuckDB)
      val sqlRows = spark.range(1).select(org.apache.spark.sql.functions
        .expr(TextAnalysis.expPinnedSql(s"CAST($bad AS BIGINT)")).as("e"))
        .collect()
      assert(sqlRows.head.isNullAt(0), s"SQL form a6=$bad must be NULL")
    }
  }

  test("charEntropy: exact two-symbol entropy, uniform max, empty zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aabb"),   // p = {0.5, 0.5} -> exactly 1 bit
      (2L, "abcd"),   // uniform over 4 -> exactly 2 bits
      (3L, "aaaa"),   // single symbol -> 0
      (4L, "   "))    // trims to empty -> 0 by convention
      .toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1) == 1.0 && got(2) == 2.0 && got(3) == 0.0 && got(4) == 0.0)
  }

  test("audio codec round-trips planted WAV samples through javax.sound") {
    import graft.ops.Multimodal.AudioCodec
    val n = 800
    val wav = Multimodal.syntheticWav(seed = 42L, nSamples = n)
    val got = AudioCodec.tryDecodeSamples(wav)
    assert(got.isDefined && got.get.length == n)
    // the codec must recover EXACTLY the generator's samples
    val expected = (0 until n)
      .map(i => (((42L * 31 + i.toLong * 7919) % 65536) - 32768).toInt)
    assert(got.get.toSeq == expected)
    // non-audio payloads are rejected, not mis-parsed
    assert(AudioCodec.tryDecodeSamples("not a wav".getBytes).isEmpty)
    assert(AudioCodec.tryDecodeSamples(wav.take(20)).isEmpty)
  }

  test("audio frame features: hand-computed RMS and zero crossings") {
    import graft.ops.Multimodal.AudioCodec
    // frame 1: [3, -4, 3, -4] -> rms = sqrt((9+16+9+16)/4), zcr = 3
    // frame 2: [5, 5, 5, 5]   -> rms = 5, zcr = 0; trailing [1] dropped
    val samples = Array(3, -4, 3, -4, 5, 5, 5, 5, 1)
    val f = AudioCodec.frameFeatures(9L, samples, frameSize = 4)
    assert(f.map(_.frame) == Seq(0, 1))
    assert(f(0).rms == math.sqrt(50.0 / 4) && f(0).zcr == 3)
    assert(f(1).rms == 5.0 && f(1).zcr == 0)
  }

  test("imageio codec decodes a planted PNG with exact dims and pooled means") {
    import graft.ops.Multimodal.{ImageCodec, MediaRow}
    // 8x6 solid-color PNG: every pooled cell must equal the fill color
    val img = new java.awt.image.BufferedImage(8, 6,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 8) img.setRGB(x, y, 0x336699)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val f = Multimodal.decode(MediaRow(7L, "image/png", bos.toByteArray))
    assert(f.width == 8 && f.height == 6 && f.channels == 3)
    assert(f.features.length == ImageCodec.FeatureDim)
    for (cell <- 0 until 4) {
      assert(math.abs(f.features(cell * 4 + 0) - 0x33 / 255f) < 1e-6)
      assert(math.abs(f.features(cell * 4 + 1) - 0x66 / 255f) < 1e-6)
      assert(math.abs(f.features(cell * 4 + 2) - 0x99 / 255f) < 1e-6)
      assert(f.features(cell * 4 + 3) == 1f) // opaque
    }
    // quadrant colors pool independently: 2x2 image, 4 distinct pixels
    val q = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    q.setRGB(0, 0, 0xFF0000); q.setRGB(1, 0, 0x00FF00)
    q.setRGB(0, 1, 0x0000FF); q.setRGB(1, 1, 0xFFFFFF)
    val qb = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(q, "png", qb)
    val qf = Multimodal.decode(MediaRow(8L, "image/png", qb.toByteArray))
    assert(qf.features.slice(0, 3).toSeq == Seq(1f, 0f, 0f))
    assert(qf.features.slice(4, 7).toSeq == Seq(0f, 1f, 0f))
    assert(qf.features.slice(8, 11).toSeq == Seq(0f, 0f, 1f))
    assert(qf.features.slice(12, 15).toSeq == Seq(1f, 1f, 1f))
  }

  test("video container round-trips; frame sampling decodes real stills") {
    import graft.ops.Multimodal.{MediaRow, VideoContainer}
    val vid = Multimodal.syntheticVideo(5L, 3, 5, 4)
    val frames = VideoContainer.unpack(vid).get
    assert(frames.length == 3)
    assert(frames(1).sameElements(Multimodal.syntheticPng(5001L, 5, 4)),
      "per-frame seed is id*1000 + frame")
    // truncated and foreign payloads are rejected, not mis-parsed
    assert(VideoContainer.unpack(vid.dropRight(1)).isEmpty)
    assert(VideoContainer.unpack("JUNKJUNK".getBytes("US-ASCII")).isEmpty)
    // sampling stride keeps frames 0 and 2; each decode is the REAL
    // imageio pass, bit-identical to decoding the still directly
    import spark.implicits._
    val ds = spark.createDataset(
      Seq(MediaRow(5L, "video/x-graft-mjpeg", vid)))
    val got = Multimodal.videoFrameFeatures(ds, everyN = 2)
      .collect().sortBy(_.frame)
    assert(got.map(_.frame).toSeq == Seq(0, 2))
    val direct = Multimodal.ImageCodec.tryDecode(
      MediaRow(5L, "image/png", frames(2))).get
    assert(got(1).width == 5 && got(1).height == 4 &&
      got(1).channels == direct.channels)
    assert(got(1).features.sameElements(direct.features))
  }

  test("mixed media table routes PNGs to imageio and text to the fallback") {
    val media = Multimodal.mediaWithImages(spark, docs(corpus.take(8)))
    val fs = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    for (f <- fs) {
      if (f.media_id % 2 == 0) {
        // planted PNG: dims are a pure function of the id — real decode
        assert(f.content_type == "image/png")
        assert(f.width == 4 + (f.media_id % 13).toInt)
        assert(f.height == 4 + (f.media_id % 11).toInt)
        assert(f.channels == 3)
      } else {
        assert(f.content_type == "text/plain")
        // fallback path: same pseudo-features as FakeCodec directly
        val raw = corpus.find(_._1 == f.media_id).get._2.getBytes("UTF-8")
        val expect = Multimodal.FakeCodec.decode(
          graft.ops.Multimodal.MediaRow(f.media_id, "text/plain", raw))
        assert(f.features.toSeq == expect.features.toSeq)
      }
    }
  }

  /** Skewed keyed fixture: key i has multiplicity m(i); rows are dealt
    * round-robin so every key spreads over all partitions (the
    * adversarial layout for per-partition sketching).
    */
  private def keyedDf(mults: Seq[(String, Int)], parts: Int): DataFrame = {
    val rows = mults.flatMap { case (k, m) => Seq.fill(m)(k) }
    val dealt = rows.zipWithIndex.sortBy(_._2 % 97).map(_._1)
    spark.createDataFrame(
      spark.sparkContext.parallelize(dealt.map(Row(_)), parts),
      StructType(Seq(StructField("k", StringType, nullable = false))))
  }

  test("Misra-Gries candidates are a superset of the >n/k keys, bounded") {
    import graft.ops.Sketches
    val rng = new Lcg(7)
    // 3 giants + 200 light keys with random small multiplicities
    val mults = Seq("g1" -> 400, "g2" -> 300, "g3" -> 150) ++
      (0 until 200).map(i => s"t$i" -> (1 + rng.nextInt(8)))
    val n = mults.map(_._2).sum
    val k = 20
    for (parts <- Seq(1, 3, 8)) {
      val cand = Sketches.mgCandidates(keyedDf(mults, parts), "k", k)
        .collect().map(_.getString(0)).toSet
      assert(cand.size <= parts * k)
      val mustHave = mults.filter(_._2 > n.toDouble / k).map(_._1)
      assert(mustHave.forall(cand), s"missing heavy key at parts=$parts")
    }
  }

  test("heavyHitters is exact and invariant to partitioning") {
    import graft.ops.Sketches
    val rng = new Lcg(11)
    val mults = Seq("a" -> 500, "b" -> 120, "c" -> 90, "d" -> 89) ++
      (0 until 300).map(i => s"z$i" -> (1 + rng.nextInt(5)))
    val n = mults.map(_._2).sum
    val phi = 0.02
    val threshold = math.ceil(phi * n).toLong
    val expect = mults.filter(_._2 >= threshold)
      .map { case (k, m) => (k, m.toLong) }.toSet
    assert(expect.nonEmpty && expect.size < mults.size)
    val results = Seq(1, 4, 9).map { parts =>
      Sketches.heavyHitters(keyedDf(mults, parts), "k", phi, k = 64)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    }
    results.foreach(r => assert(r == expect))
  }

  test("count-min estimates dominate exact counts and are layout-invariant") {
    import graft.ops.Sketches
    val rng = new Lcg(23)
    val mults = (0 until 120).map(i => s"k$i" -> (1 + rng.nextInt(30)))
    val exact = mults.toMap
    val d = 3; val w = 32 // 120 keys into 32 buckets: collisions certain
    val ests = Seq(1, 5).map { parts =>
      Sketches.cmsEstimates(keyedDf(mults, parts), "k", d, w)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    // additive cells => identical estimates under any partitioning
    assert(ests(0) == ests(1))
    assert(ests(0).keySet == exact.keySet)
    for ((k, est) <- ests(0)) assert(est >= exact(k), s"underestimate at $k")
    // with 120 keys in 32 buckets at least one estimate must collide up
    assert(ests(0).exists { case (k, est) => est > exact(k) })
    // cell table is bounded by d*w regardless of input size
    assert(Sketches.cmsCells(keyedDf(mults, 5), "k", d, w).count() <= d * w)
  }

  test("kmvJaccardByGroup: below k the estimator is exact Jaccard") {
    import graft.ops.Sketches
    import spark.implicits._
    // sets fit inside k=64, so the union's k-smallest IS the union and
    // the estimate collapses to exact Jaccard
    val rows = Seq("A" -> "a", "A" -> "b", "A" -> "c",
      "B" -> "b", "B" -> "c", "B" -> "d",
      "C" -> "x", "C" -> "y",
      "D" -> "a", "D" -> "b", "D" -> "c",
      // duplicates must not perturb the set semantics
      "A" -> "a", "B" -> "d")
    val df = rows.toDF("g", "key")
    val got = Sketches.kmvJaccardByGroup(df, "g", "key", k = 64)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(("A", "B")) == ((4L, 2L, 0.5)))   // {a,b,c} vs {b,c,d}
    assert(got(("A", "C")) == ((5L, 0L, 0.0)))   // disjoint
    assert(got(("A", "D")) == ((3L, 3L, 1.0)))   // identical sets
    assert(got.size == 6)                        // all C(4,2) pairs
  }

  test("AMS F2: single-key degenerate is exact; cells additive and layout-invariant") {
    import graft.ops.Sketches
    // one key with multiplicity 7: every Z_j = ±7, every Z² = 49, so
    // mean-of-4 and median-of-means are all exactly 49 = F2
    val single = keyedDf(Seq("only" -> 7), 3)
    val r = Sketches.amsF2Estimate(single, "k").collect().head
    assert(r.getLong(0) == 49L && r.getDouble(1) == 49.0 &&
      r.getDouble(2) == 0.0)
    // additive cells: identical under any layout, and cells of a
    // union = per-j sum of the parts' cells
    val a = Seq("x" -> 5, "y" -> 3, "z" -> 2)
    val b = Seq("x" -> 1, "w" -> 4)
    def cells(m: Seq[(String, Int)], parts: Int): Map[Int, Long] =
      Sketches.amsF2Cells(keyedDf(m, parts), "k", 16)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(cells(a, 1) == cells(a, 6))
    val merged = cells(a ++ b, 4)
    val summed = (cells(a, 2).toSeq ++ cells(b, 3).toSeq)
      .groupBy(_._1).map { case (j, vs) => j -> vs.map(_._2).sum }
    assert(merged == summed)
    // estimator sanity on a skewed fixture: exact side is Σc² and the
    // sketch lands within the r=16 median-of-means error band
    val skew = Seq("g" -> 40) ++ (0 until 30).map(i => s"t$i" -> 2)
    val f2 = 40L * 40 + 30L * 4
    val row = Sketches.amsF2Estimate(keyedDf(skew, 5), "k").collect().head
    assert(row.getLong(0) == f2)
    assert(row.getDouble(1) > 0.0 && row.getDouble(2) < 1.0)
  }

  test("KMV summary is layout-invariant; estimate is exact below k and close above") {
    import graft.ops.Sketches
    // 5000 distinct keys, some repeated rows (dups must not perturb the set)
    val mults = (0 until 5000).map(i => s"v$i" -> (1 + i % 3))
    val k = 128
    val sketches = Seq(1, 7).map { parts =>
      Sketches.kmvMinHashes(keyedDf(mults, parts), "k", k)
        .collect().map(_.getLong(0)).toSeq
    }
    assert(sketches(0) == sketches(1))
    assert(sketches(0).length == k && sketches(0) == sketches(0).sorted)
    val est = Sketches.kmvDistinctEstimate(keyedDf(mults, 7), "k", k)
      .head.getDouble(0)
    // deterministic draw; 1/sqrt(128) ~ 8.8% expected relative error
    assert(math.abs(est - 5000) / 5000.0 < 0.3, s"estimate $est too far")
    // below k the estimate is the exact distinct count
    val small = Sketches.kmvDistinctEstimate(
      keyedDf((0 until 50).map(i => s"s$i" -> 2), 3), "k", k).head.getDouble(0)
    assert(small == 50.0)
  }

  test("editVerifiedPairs confirms the planted near-dup and enforces the edit bound") {
    import graft.ops.Dedup
    val got = Dedup.editVerifiedPairs(docs(corpus), "doc_id", "text",
      numHashes = 32, bands = 8, k = 8, tau = 0.3, maxDistFrac = 0.3)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getInt(3), r.getInt(4))))
      .toMap
    // doc 100 differs from doc 0 by one word — must survive verification
    assert(got.contains((0L, 100L)), s"planted near-dup missing from $got")
    val (d, ml) = got((0L, 100L))
    assert(d > 0 && d <= 0.3 * ml, s"edit_dist $d vs max_len $ml")
    // the bound is a real invariant of the output
    assert(got.values.forall { case (dd, mm) => dd <= 0.3 * mm })
  }

  test("topNgramsCorpus counts a gram once per doc; ties break on the gram") {
    val df = docs(Seq(
      // doc 0 repeats "x y z" three times — must count once
      0L -> "x y z x y z x y z",
      1L -> "x y z tail words here",
      2L -> "a b c tail words here",
      3L -> "too short"))
    val got = TextAnalysis.topNgramsCorpus(df, "doc_id", "text", n = 3, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // doc_freq 2: "x y z" (docs 0,1), "tail words here" (docs 1,2);
    // the k=3 boundary among the freq-1 grams resolves to the
    // lexicographically first one
    assert(got.take(2).toSet == Set(("tail words here", 2L), ("x y z", 2L)))
    assert(got(2)._2 == 1L && got(2)._1 == "a b c")
  }

  test("HLL registers are layout-invariant and mergeable; estimate tracks exact") {
    import graft.ops.Sketches
    val mults = (0 until 5000).map(i => s"v$i" -> (1 + i % 3))
    val b = 7
    val cellSets = Seq(1, 7).map { parts =>
      Sketches.hllCells(keyedDf(mults, parts), "k", b)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    }
    assert(cellSets(0) == cellSets(1))
    // union of corpora == elementwise max-merge of their register tables
    val ca = Sketches.hllCells(keyedDf(mults.take(2500), 3), "k", b)
    val cb = Sketches.hllCells(keyedDf(mults.drop(2500), 3), "k", b)
    val merged = ca.union(cb).groupBy("bucket").agg(max("reg").as("reg"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(merged == cellSets(0))
    val est = Sketches.hllDistinctEstimate(keyedDf(mults, 7), "k", b)
      .head.getDouble(0)
    // 1.04/sqrt(128) ~ 9.2% expected relative error; 0.3 is ~3 sigma
    assert(math.abs(est - 5000) / 5000.0 < 0.3, s"estimate $est too far")
    // small-range branch: linear counting is near-exact at 40 << m
    val small = Sketches.hllDistinctEstimate(
      keyedDf((0 until 40).map(i => s"s$i" -> 2), 3), "k", b)
      .head.getDouble(0)
    assert(math.abs(small - 40.0) < 8.0, s"small-range estimate $small")
  }

  test("asofJoin matches a naive latest-at-or-before oracle incl. edge cases") {
    import graft.ops.AsofJoin
    // left rows: (id, key, t); right rows: (rid, key, t)
    val left = Seq((1L, "a", 5L), (2L, "a", 10L), (3L, "a", 10L),
      (4L, "a", 2L), (5L, "b", 7L), (6L, "b", 100L), (7L, "c", 1L))
    val right = Seq((90L, "a", 5L), (91L, "a", 9L), (92L, "a", 9L),
      (93L, "b", 7L), (94L, "b", 50L)) // key c: no anchors at all
    val lDf = spark.createDataFrame(
      java.util.Arrays.asList(left.map(r => Row(r._1, r._2, r._3)): _*),
      StructType(Seq(StructField("id", LongType, false),
        StructField("k", StringType, false), StructField("t", LongType, false))))
      .repartition(5)
    val rDf = spark.createDataFrame(
      java.util.Arrays.asList(right.map(r => Row(r._1, r._2, r._3)): _*),
      StructType(Seq(StructField("rid", LongType, false),
        StructField("k", StringType, false), StructField("t", LongType, false))))
      .repartition(3)
    val got = AsofJoin.asofJoin(lDf, rDf, "k", "t", Seq("rid", "t"), "m_")
      .collect().map(r => (r.getLong(0),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]))).toSet
    val naive = left.map { case (id, k, t) =>
      val cand = right.filter(r => r._2 == k && r._3 <= t)
      val m = if (cand.isEmpty) None
        // latest ts; tie-break max rid (struct-max with rid leading)
        else Some(cand.maxBy(r => (r._3, r._1)))
      (id, m.map(_._1), m.map(_._3))
    }.toSet
    assert(got == naive)
    // spot-check semantics: id=1 matches rid=90 at equal ts (inclusive);
    // id=2 hits the rid 91/92 tie broken to 92; id=4 and all of key c null
    assert(naive.contains((1L, Some(90L), Some(5L))))
    assert(naive.contains((2L, Some(92L), Some(9L))))
    assert(naive.contains((4L, None, None)))
    assert(naive.contains((7L, None, None)))
  }

  test("intervalJoin matches a naive range-predicate oracle on boundaries") {
    import graft.ops.IntervalJoin
    val len = 1000L // micros
    // anchors chosen to straddle bucket boundaries: 999 -> window
    // (999, 1999] spans buckets 0 and 1; 2000 is an exact multiple
    val anchors = Seq((1L, "a", 999L), (2L, "a", 2000L), (3L, "b", 500L))
    val evs = Seq((10L, "a", 999L), (11L, "a", 1000L), (12L, "a", 1999L),
      (13L, "a", 2000L), (14L, "a", 3000L), (15L, "a", 3001L),
      (16L, "b", 1500L), (17L, "b", 1501L), (18L, "c", 600L))
    val aDf = spark.createDataFrame(
      java.util.Arrays.asList(anchors.map(r => Row(r._1, r._2, r._3)): _*),
      StructType(Seq(StructField("aid", LongType, false),
        StructField("k", StringType, false), StructField("t0", LongType, false))))
      .select(col("aid"), col("k"), timestamp_micros(col("t0")).as("a_ts"))
      .repartition(3)
    val eDf = spark.createDataFrame(
      java.util.Arrays.asList(evs.map(r => Row(r._1, r._2, r._3)): _*),
      StructType(Seq(StructField("eid", LongType, false),
        StructField("k", StringType, false), StructField("t", LongType, false))))
      .select(col("eid"), col("k"), timestamp_micros(col("t")).as("e_ts"))
      .repartition(2)
    val got = IntervalJoin.intervalJoin(aDf, eDf, "k", "a_ts", "e_ts", len)
      .select("aid", "eid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = (for {
      (aid, ak, t0) <- anchors
      (eid, ek, t) <- evs
      if ak == ek && t > t0 && t <= t0 + len
    } yield (aid, eid)).toSet
    assert(got == naive)
    // boundary semantics pinned: start-exclusive, end-inclusive,
    // cross-bucket (12 is in bucket 1, anchor 1 in bucket 0)
    assert(naive == Set((1L, 11L), (1L, 12L), (2L, 14L), (3L, 16L)))
  }

  test("histogram quantiles are within a bin width of exact, layout-invariant") {
    import graft.ops.Sketches
    val rng = new Lcg(31)
    // skewed-ish values in [0, 200): squares of uniform draws
    val vals = (0 until 4000).map { _ =>
      val u = rng.nextInt(10000) / 10000.0; u * u * 200.0
    }
    def df(parts: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map(Row(_)), parts),
      StructType(Seq(StructField("v", DoubleType, nullable = false))))
    val lo = 0.0; val hi = 200.0; val bins = 100
    val qs = Seq(0.25, 0.5, 0.9, 0.99)
    val got = Seq(2, 8).map { p =>
      Sketches.histQuantiles(df(p), "v", lo, hi, bins, qs)
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    }
    assert(got(0) == got(1)) // additive cells => layout-invariant
    val sorted = vals.sorted
    val width = (hi - lo) / bins
    for (q <- qs) {
      // exact interpolated quantile (quantile_cont definition)
      val pos = q * (sorted.size - 1)
      val i = pos.toInt
      val exact = if (i + 1 < sorted.size)
        sorted(i) + (pos - i) * (sorted(i + 1) - sorted(i)) else sorted.last
      // one bin width of sketch error + the q*N vs q*(N-1) rank-
      // convention gap (at most one inter-sample spacing)
      assert(math.abs(got(0)(q) - exact) <= 2 * width,
        s"q=$q est=${got(0)(q)} exact=$exact")
    }
    // histogram cell count never exceeds the bin budget
    assert(Sketches.histogram(df(8), "v", lo, hi, bins).count() <= bins)
  }

  test("weightedSample replays exactly and biases toward heavy weights") {
    import graft.ops.Sampling
    import java.security.MessageDigest
    // 40 heavy keys (w=80) among 400 light ones (w=1)
    val rows = (0 until 440).map { i =>
      (s"d$i", if (i < 40) 80L else 1L)
    }
    def df(parts: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), parts),
      StructType(Seq(StructField("id", StringType, false),
        StructField("wt", LongType, false))))
    val k = 60
    val got = Seq(2, 7).map { p =>
      Sampling.weightedSample(df(p), "id", col("wt"), k)
        .collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
    }
    assert(got(0).toSet == got(1).toSet) // layout-invariant
    // exact JVM replay of the pinned draw (same md5, same double ops)
    def md5hex(s: String): String = MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val naive = rows.map { case (id, w) =>
      val u = (java.lang.Long.parseLong(
        md5hex(s"w:$id").substring(0, 8), 16) + 1.0) / 4294967296.0
      (id, math.pow(u, 1.0 / w))
    }.sortBy { case (id, pri) => (-pri, id) }.take(k)
    assert(got(0).map(_._1).toSet == naive.map(_._1).toSet)
    assert(got(0).toMap == naive.toMap)
    // 40 heavy keys at weight 80 should dominate the 60 slots
    val heavies = naive.count(_._1.drop(1).toInt < 40)
    assert(heavies > 30, s"only $heavies heavy keys sampled")
  }

  test("bloom probe has zero false negatives and a sane false-positive rate") {
    import graft.ops.Sketches
    val members = (0 until 300).map(i => s"m$i" -> 1)
    val others = (0 until 300).map(i => s"x$i" -> 1)
    val m = 4096; val d = 3
    val bits = Sketches.bloomBits(keyedDf(members, 3), "k", m, d)
    val probed = Sketches.bloomProbe(
      keyedDf(members ++ others, 4), "k", bits, m, d)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    // no false negatives, ever
    assert(members.forall { case (k, _) => probed(k) })
    // fill = 1-(1-1/m)^(d*300) ~ 0.197 -> fp ~ 0.8%; allow generous slack
    val fps = others.count { case (k, _) => probed(k) }
    assert(fps < 30, s"$fps false positives out of 300")
    // bit set is deduplicated and bounded
    assert(bits.count() <= math.min(m, d * 300))
  }

  test("temporal join plans have the intended shape") {
    import graft.ops.{AsofJoin, IntervalJoin}
    val l = spark.range(100).select(col("id"),
      (col("id") % 7).cast("string").as("k"),
      timestamp_micros(col("id") * 1000).as("lts"))
    val r = spark.range(50).select(col("id").as("rid"),
      (col("id") % 7).cast("string").as("k"),
      timestamp_micros(col("id") * 1700).as("rts"))
    // as-of: the union-tag plan must not contain any join operator at
    // all — the "join" is one window pass
    val asofPlan = AsofJoin.asofJoin(l.withColumnRenamed("lts", "t"),
      r.withColumnRenamed("rts", "t"), "k", "t", Seq("rid"))
      .queryExecution.executedPlan.toString
    assert(asofPlan.contains("Window"))
    assert(!asofPlan.toLowerCase.contains("join"), s"unexpected join:\n$asofPlan")
    // interval: bucketing must yield a real equijoin, never a
    // nested-loop/cartesian fallback
    val ivPlan = IntervalJoin.intervalJoin(l, r, "k", "lts", "rts", 10000L)
      .queryExecution.executedPlan.toString
    assert(!ivPlan.contains("CartesianProduct") &&
      !ivPlan.contains("BroadcastNestedLoopJoin"), s"bad join shape:\n$ivPlan")
  }

  test("KMV merge of summaries equals the direct union summary") {
    import graft.ops.Sketches
    val k = 64 // well below the 600/700-distinct inputs: truncation live
    val a = keyedDf((0 until 600).map(i => s"a$i" -> 1), 4)
    val b = keyedDf((300 until 1000).map(i => s"a$i" -> 1), 3) // overlaps a
    val merged = Sketches.kmvMerge(
      Sketches.kmvMinHashes(a, "k", k),
      Sketches.kmvMinHashes(b, "k", k), k)
      .collect().map(_.getLong(0)).toSeq
    val direct = Sketches.kmvMinHashes(a.union(b), "k", k)
      .collect().map(_.getLong(0)).toSeq
    assert(merged == direct)
    assert(merged.length == k)
  }

  test("corpus stopword pruning drops ubiquitous tokens, keeps order, keeps empty docs") {
    import graft.ops.TextAnalysis
    // 'the' in 4/4 docs (df 1.0), 'data' in 3/4 (0.75 — NOT > 0.75),
    // others rare; doc 4 is all-boilerplate and must survive empty
    val docs4 = docs(Seq(
      1L -> "the quick data fox the end",
      2L -> "the data lazy dog",
      3L -> "the data stream",
      4L -> "the the the"))
    val got = TextAnalysis.dropCorpusStopwords(docs4, "doc_id", "text", 0.75)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "quick data fox end",
      2L -> "data lazy dog",
      3L -> "data stream",
      4L -> ""))
  }

  test("sketch operators tolerate empty input") {
    import graft.ops.Sketches
    val empty = keyedDf(Seq("x" -> 1), 2).filter(col("k") =!= col("k"))
    assert(Sketches.heavyHitters(empty, "k", 0.05, 64).count() == 0)
    assert(Sketches.mgCandidates(empty, "k", 8).count() == 0)
    assert(Sketches.cmsEstimates(empty, "k", 3, 16).count() == 0)
    assert(Sketches.kmvMinHashes(empty, "k", 8).count() == 0)
    val est = Sketches.kmvDistinctEstimate(empty, "k", 8).head
    assert(est.getDouble(0) == 0.0)
    assert(Sketches.histQuantiles(empty, "k", 0, 10, 4, Seq(0.5)).count() == 0)
  }

  test("null keys: KMV/CMS drop them, asofJoin never matches them") {
    import graft.ops.{AsofJoin, Sketches}
    val withNulls = spark.createDataFrame(
      java.util.Arrays.asList(
        (Seq.fill(3)(Row(null)) ++ Seq(Row("a"), Row("a"), Row("b"))): _*),
      StructType(Seq(StructField("k", StringType, nullable = true))))
    // KMV: null rows carry no signal; 2 distinct real keys
    assert(Sketches.kmvMinHashes(withNulls, "k", 8).count() == 2)
    assert(Sketches.kmvDistinctEstimate(withNulls, "k", 8)
      .head.getDouble(0) == 2.0)
    // CMS: cells/estimates cover only the real keys, counts unpolluted
    val est = Sketches.cmsEstimates(withNulls, "k", 3, 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == Set("a", "b"))
    assert(est("a") >= 2 && est("b") >= 1)

    // as-of: a NULL-key left row must not absorb NULL-key right rows
    def side(rows: Seq[(Long, Any, Long)], id: String, ts: String) =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3)): _*),
        StructType(Seq(StructField(id, LongType, false),
          StructField("k", StringType, nullable = true),
          StructField("t0", LongType, false))))
        .select(col(id), col("k"), timestamp_micros(col("t0")).as(ts))
    val got = AsofJoin.asofJoin(
      side(Seq((1L, null, 10L), (2L, "a", 10L)), "id", "t"),
      side(Seq((90L, null, 5L), (91L, "a", 5L)), "rid", "t")
        .withColumnRenamed("rid", "rid"),
      "k", "t", Seq("rid"))
      .collect().map(r => r.getLong(0) ->
        Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    assert(got == Map(1L -> None, 2L -> Some(91L)))
  }

  test("heavyHittersByGroup is exact per group and partitioning-invariant") {
    import graft.ops.Sketches
    val rng = new Lcg(41)
    // group A: one giant + tail; group B: two giants + tail; group C: tail only
    val rows: Seq[(String, String)] =
      Seq.fill(200)("A" -> "hot1") ++ Seq.fill(90)("B" -> "hot2") ++
        Seq.fill(80)("B" -> "hot3") ++
        (0 until 300).map(i => Seq("A", "B", "C")(i % 3) -> s"t${rng.nextInt(80)}")
    def df(parts: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.zipWithIndex.sortBy(_._2 % 89).map { case ((g, x), _) => Row(g, x) },
        parts),
      StructType(Seq(StructField("g", StringType, false),
        StructField("k", StringType, false))))
    val phi = 0.1
    val expect = rows.groupBy(identity).view.mapValues(_.size).toSeq
      .map { case ((g, x), c) => (g, x, c.toLong) }
      .filter { case (g, _, c) =>
        c >= math.ceil(phi * rows.count(_._1 == g)).toLong }
      .toSet
    assert(expect.nonEmpty)
    for (parts <- Seq(2, 7)) {
      val got = Sketches.heavyHittersByGroup(df(parts), "g", "k", phi, k = 16)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(got == expect, s"parts=$parts")
    }
  }

  test("oracle SQL copies of the quality/lang derivations cannot drift") {
    // The quality-score expression and the language-ID scoring appear in
    // several oracle strings (different quoting contexts make a shared
    // constant riskier than it looks); this spec is the anti-drift
    // guard: every copy must canonicalize to the pinned fragment.
    def canon(s: String): String =
      s.replace("\\\\", "\\").replaceAll("\\s+", " ")
    def count(hay: String, needle: String): Int =
      hay.sliding(needle.length).count(_ == needle)
    val o = graft.SparkEntry.oracleSql

    val qualityFrag = canon(
      """round(((len - length(regexp_replace(t, '[a-zA-Z]', '', 'g'))) / len) * 0.5
        |    + (CASE WHEN length(regexp_replace(t, '\s+', '', 'g')) / ntoks
        |            BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.25
        |    + (CASE WHEN length(t) BETWEEN 50 AND 100000 THEN 1.0 ELSE 0.0 END) * 0.25,
        |    6)""".stripMargin)
    for (name <- Seq("text_quality", "text_topk_quality_by_lang",
        "pipeline_e2e_prep", "text_quality_gate")) {
      assert(count(canon(o(name)), qualityFrag) == 1,
        s"$name: quality expression drifted from the pinned form")
    }

    // language scores: every profile's list_intersect fragment, built
    // from the same stopwordProfiles the engine uses
    val langFrags = graft.ops.TextAnalysis.stopwordProfiles.map {
      case (l, ws) =>
        val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
        canon(s"length(list_intersect(dtoks, $arr)) AS s_$l")
    }
    for (name <- Seq("text_langid", "text_topk_quality_by_lang",
        "pipeline_e2e_prep"); frag <- langFrags) {
      assert(canon(o(name)).contains(frag),
        s"$name: language-ID scoring drifted from stopwordProfiles")
    }
  }

  test("heavyHitters rejects a k below the superset guarantee") {
    import graft.ops.Sketches
    intercept[IllegalArgumentException] {
      Sketches.heavyHitters(keyedDf(Seq("a" -> 3), 1), "k", phi = 0.01, k = 50)
    }
  }

  test("dsirScores matches a JVM replay of the bucketed log-ratio model") {
    import graft.ops.Selection
    // targets speak 'alpha'; the raw-only slice speaks 'zulu'; two
    // probe docs (one per dialect) plus an empty doc
    val rows = Seq(
      (0L, "alpha alpha alpha", true), (1L, "alpha alpha alpha", true),
      (2L, "alpha alpha alpha", true), (3L, "alpha alpha alpha", true),
      (4L, "alpha alpha alpha", true),
      (10L, "zulu zulu zulu", false), (11L, "zulu zulu zulu", false),
      (12L, "zulu zulu zulu", false), (13L, "zulu zulu zulu", false),
      (14L, "zulu zulu zulu", false),
      (20L, "alpha alpha alpha", false), (21L, "zulu zulu zulu", false),
      (30L, "", false))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3)): _*),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = false),
        StructField("tgt", BooleanType, nullable = false))))
    val buckets = 1024
    val got = Selection
      .dsirScores(df, "doc_id", "text", col("tgt"), buckets)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_toks"), r.getAs[Double]("dsir_score"))).toMap

    // JVM replay: same md5 bucket, same smoothed distributions
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def bucket(tok: String): Long =
      java.lang.Long.parseLong(md5hex("dsir:" + tok).take(8), 16) % buckets
    val toks = rows.flatMap { case (_, t, tgt) =>
      t.split("\\s+").filter(_.nonEmpty).map(w => (bucket(w), tgt))
    }
    val tTot = toks.count(_._2).toDouble
    val rTot = toks.size.toDouble
    def lr(b: Long): Double = {
      val t = toks.count(x => x._1 == b && x._2).toDouble
      val r = toks.count(_._1 == b).toDouble
      math.log((t + 1.0) / (tTot + buckets)) -
        math.log((r + 1.0) / (rTot + buckets))
    }
    rows.foreach { case (id, t, _) =>
      val ws = t.split("\\s+").filter(_.nonEmpty)
      val exp = BigDecimal(ws.map(w => lr(bucket(w))).sum)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(id)._1 == ws.length, s"n_toks for doc $id")
      assert(math.abs(got(id)._2 - exp) < 1e-9, s"score for doc $id")
    }
    // the target-dialect probe outscores the raw-dialect probe
    assert(got(20L)._2 > got(21L)._2)
    assert(got(30L) == ((0L, 0.0)))

    // top-3 selection: the empty doc's 0.0 tops the (smoothing-dampened,
    // negative) alpha scores; the tied alpha docs then win by lowest id
    val sel = Selection
      .dsirSelect(df, "doc_id", "text", col("tgt"), k = 3, buckets = buckets)
      .filter(col("selected")).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(sel == Set(30L, 0L, 1L))
  }

  test("containmentPairs flags a fully-embedded doc that Jaccard misses") {
    val small = "abcdefghijklmnop" // 9 distinct 8-shingles
    val big = small + " qrstuvwxyz0123456789 qqqqqqqqqqwwwwwwwwww"
    val other = "zzzzyyyyxxxxwwwwvvvvuuuu"
    val df = docs(Seq(0L -> small, 1L -> big, 2L -> other))
    val got = Dedup.containmentPairs(df, "doc_id", "text", k = 8,
      dfCap = 20, tau = 0.5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.keySet == Set((0L, 1L)), s"only the embedded pair: $got")
    val (c1, c2, cont) = got((0L, 1L))
    assert(c1 == 1.0, "every shingle of the small doc appears in the big one")
    assert(c2 < 0.5 && cont == 1.0)
    // symmetric Jaccard on the same postings stays below its own tau
    val jac = Dedup.jaccardPairs(df, "doc_id", "text", k = 8, dfCap = 20,
      tau = 0.3).collect()
    assert(jac.isEmpty, "Jaccard is blind to the containment pair here")
  }

  test("pmiCollocations: support floor, hand-computed PMI, glued pair wins") {
    // "aa bb" always co-occur (PMI high); "cc" pairs with varying right
    // neighbors (PMI low); "rare zz" occurs twice — below minCount=3.
    val df = docs(Seq(
      0L -> "aa bb cc dd",
      1L -> "aa bb cc ee",
      2L -> "aa bb cc ff",
      3L -> "rare zz",
      4L -> "rare zz"))
    val got = TextAnalysis.pmiCollocations(df, "text", minCount = 3, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    // surviving bigrams: (aa,bb) x3, (bb,cc) x3; "rare zz" filtered at 2<3
    assert(got.map(t => (t._1, t._2)).toSet == Set(("aa", "bb"), ("bb", "cc")))
    // N_tok=16, N_bi=11: PMI(aa,bb) = log2(3*16/11*16/3/3)
    val exp = (x: Double) => BigDecimal(math.log(x) / math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val m = got.map(t => ((t._1, t._2), t._4)).toMap
    assert(m(("aa", "bb")) == exp(3.0 * 16 / 11 * 16 / 3 / 3))
    assert(m(("bb", "cc")) == exp(3.0 * 16 / 11 * 16 / 3 / 3))
  }

  test("c4LineClean keeps prose lines, drops each published junk class") {
    val text = Seq(
      "This is a proper sentence.", //   kept
      "too short.", //                   < 3 words
      "no terminal punctuation here", // no sentence end
      "Braces are bad { always.", //     markup fragment
      "Lorem Ipsum filler text here.", // boilerplate (case-insensitive)
      "Enable JavaScript to continue.", // js-wall boilerplate
      "Ends with a quote fine.\"" //     kept (closing quote terminates)
    ).mkString("\n")
    val got = TextAnalysis.c4LineClean(docs(Seq(1L -> text)), "doc_id", "text")
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getString(3))).head
    assert(got == ((7, 2,
      "This is a proper sentence.\nEnds with a quote fine.\"")))
  }

  test("kmeansUpdatePinned: argmin assignment, tie to lower cid, exact update") {
    import graft.ops.Embeddings
    val rows = Seq(
      Row(1L, Seq(0.0f, 0.0f)), Row(2L, Seq(10.0f, 10.0f)), // = centroids
      Row(3L, Seq(1.0f, 0.0f)), //  cell 1, sd 1
      Row(4L, Seq(9.0f, 10.0f)), // cell 2, sd 1
      Row(5L, Seq(5.0f, 5.0f))) //  equidistant (sd 50) -> lower cid wins
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    val got = Embeddings.kmeansUpdatePinned(df, "vec_id", "embedding",
        centroidIds = Seq(1L, 2L))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // cell 1 = {v1, v3, v5}: means (2, 1.666667), inertia 0+1+50
    assert(got((1L, 0)) == ((3L, 2.0, 51.0)))
    assert(got((1L, 1)) == ((3L, 1.666667, 51.0)))
    // cell 2 = {v2, v4}: means (9.5, 10), inertia 1
    assert(got((2L, 0)) == ((2L, 9.5, 1.0)))
    assert(got((2L, 1)) == ((2L, 10.0, 1.0)))
    assertThrows[IllegalArgumentException] {
      Embeddings.kmeansUpdatePinned(df, "vec_id", "embedding",
        centroidIds = Seq(1L, 999L)).collect()
    }
  }

  test("typeTokenRatio: repeated vocabulary scores low") {
    import graft.ops.TextAnalysis
    val df = docs(Seq((1L, "a a a b"), (2L, "Spam spam SPAM"),
      (3L, "four distinct words here")))
    val got = TextAnalysis.typeTokenRatio(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((4, 2, 0.5)))
    assert(got(2L) == ((3, 1, 0.333333))) // case-folded to one type
    assert(got(3L) == ((4, 4, 1.0)))
  }

  test("matryoshkaRecall: truncation flips a neighbor, full dims recall 1") {
    import graft.ops.Similarity
    import org.apache.spark.sql.functions.col
    // q1=[1,0,0,0]: full top-1 is A (cos 0.6) but on the first 2 dims
    // B=[0.5,0,.866,0] projects to [0.5,0] with cos 1.0 and steals the
    // slot; q2=[0,1,0,0] keeps A either way -> recall@1 d=2 is 1/2,
    // d=4 (the whole vector) must be exactly 1
    val rows = Seq(
      Row(0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      Row(10L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      Row(1L, Seq(0.6f, 0.8f, 0.0f, 0.0f)),
      Row(2L, Seq(0.5f, 0.0f, 0.866f, 0.0f)))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    val got = Similarity.matryoshkaRecall(df, "vec_id", "embedding",
        col("vec_id").isin(0L, 10L), k = 1, dims = Seq(2, 4))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((2, 2L, 0.5), (4, 2L, 1.0)))
  }

  test("centroidClassifierEval: planted overlap, hand-computed confusion") {
    import graft.ops.Embeddings
    // label 0 at x = 0, 0.2, 0.9 (centroid 0.366667); label 1 at
    // x = 1, 0.8 (centroid 0.9): the 0.9 point sits ON the label-1
    // centroid and misclassifies; everything else is clean -> 4/5
    val rows = Seq(
      Row(1L, 0, Seq(0.0f, 0.0f)), Row(2L, 0, Seq(0.2f, 0.0f)),
      Row(3L, 0, Seq(0.9f, 0.0f)), Row(4L, 1, Seq(1.0f, 0.0f)),
      Row(5L, 1, Seq(0.8f, 0.0f)))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("label", IntegerType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    val got = Embeddings.centroidClassifierEval(df, "vec_id", "embedding",
        "label").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == Map((0, 0) -> ((2L, 0.8)), (0, 1) -> ((1L, 0.8)),
      (1, 1) -> ((2L, 0.8))))
  }

  test("knnClassifierEval: majority vote, all-distinct tie to smallest label") {
    import spark.implicits._
    // three tight clusters; queries are ids 0/10/20. Cluster A's
    // neighborhood outvotes the true label (wrong), B's agrees
    // (right), C's 3 neighbors carry 3 DISTINCT labels -> 1-1-1 tie
    // resolves to the smallest label, which matches (right).
    val rows = Seq(
      (0L, Seq(1f, 0f), 0), (1L, Seq(1f, 0.1f), 1),
      (2L, Seq(1f, -0.1f), 1), (3L, Seq(1f, 0.05f), 0),
      (10L, Seq(0f, 1f), 2), (11L, Seq(0.1f, 1f), 2),
      (12L, Seq(-0.1f, 1f), 2), (13L, Seq(0.05f, 1f), 1),
      (20L, Seq(1f, 1f), 0), (21L, Seq(1f, 0.9f), 2),
      (22L, Seq(0.9f, 1f), 1), (23L, Seq(1f, 1.05f), 0))
    val df = rows.toDF("vec_id", "embedding", "label")
    val got = graft.ops.Embeddings.knnClassifierEval(df, "vec_id",
        "embedding", "label", col("vec_id") % 10 === 0, k = 3)
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == Map((0, 1) -> ((1L, 0.666667)),
      (2, 2) -> ((1L, 0.666667)), (0, 0) -> ((1L, 0.666667))))
  }

  test("rakeKeyphrases: hand-computed degree/freq scores and run splitting") {
    // doc 10 splits on the stopword "of" into two 2-word phrases;
    // doc 11 repeats one of them; doc 12 is a singleton; doc 13 is a
    // 4-word stopword-free run — over maxLen, excluded entirely
    // (and so contributes nothing to word stats: no "alpha" output).
    // Every surviving word: freq 2 deg 4 or freq 1 deg 2 -> score 2;
    // both 2-word phrases score 4, ties break lexicographically.
    val df = docs(Seq(
      (10L, "red widget of blue gadget"),
      (11L, "red widget"),
      (12L, "tiny"),
      (13L, "alpha beta gamma delta")))
    val got = TextAnalysis.rakeKeyphrases(df, "doc_id", "text",
        maxLen = 3, topN = 25).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("blue gadget", 1L, 4.0),
      ("red widget", 2L, 4.0), ("tiny", 1L, 1.0)))
  }

  test("mmrRerank suppresses the near-duplicate a pure top-k keeps") {
    import spark.implicits._
    // query 0 = (1,1,1). Doc 2 is the most relevant; doc 1 is a
    // near-duplicate of doc 2 (cos ~0.99995); doc 3 is as relevant as
    // doc 1 but diverse (cos to doc 2 ~0.51). Pure top-2 = [2, 1];
    // MMR at lambda 0.7/0.3 must swap in the diverse doc: [2, 3].
    val rows = Seq(
      (0L, Seq(1f, 1f, 1f)),
      (1L, Seq(1f, 1f, 0f)),
      (2L, Seq(0.99f, 1f, 0.01f)),
      (3L, Seq(0f, 1f, 1f)))
    val df = rows.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(df, "vec_id", "embedding",
        Seq(0L), k = 2).orderBy("rank").collect().map(_.getLong(1))
    assert(brute.toSeq == Seq(2L, 1L), "pure top-2 keeps the near-dup")
    val mmr = Similarity.mmrRerank(df, "vec_id", "embedding",
        col("vec_id") === 0, m = 3, k = 2,
        lambdaRel = 0.7, lambdaDiv = 0.3)
      .orderBy("rank").collect()
    assert(mmr.map(_.getLong(1)).toSeq == Seq(2L, 3L),
      "MMR must trade the near-dup for the diverse doc")
    assert(mmr(0).getDouble(3) > mmr(1).getDouble(3),
      "greedy scores decrease")
  }

  test("logregEpochs: hand-computed two-epoch recursion on a separable fixture") {
    import spark.implicits._
    // dim0 separates the classes, dim1 is symmetric noise. Epoch 1 from
    // p=0.5 exactly: grad0 = -0.5 -> w1 = (0.05, 0), b1 = 0. Epoch 2:
    // all four |p - y| = sigmoid(-0.05) = 0.48750260..., so
    // w2_0 = round6(0.05 + 0.1*0.4875026) = 0.09875, w2_1 = b2 = 0.
    val df = Seq(
      (Seq(1f, 0.5f), 0), (Seq(1f, -0.5f), 0),
      (Seq(-1f, 0.5f), 1), (Seq(-1f, -0.5f), 1)).toDF("embedding", "label")
    val rows = graft.ops.Embeddings.logregEpochs(df, "embedding", "label",
      posLabel = 0, lr = 0.1, epochs = 2).orderBy("pos").collect()
    assert(rows.length == 2)
    assert(rows(0).getDouble(1) == 0.09875 && rows(1).getDouble(1) == 0.0)
    assert(rows(0).getDouble(2) == 0.0, "symmetric classes -> zero bias")
    val (logloss, acc) = (rows(0).getDouble(3), rows(0).getDouble(4))
    assert(acc == 1.0, "separable fixture must classify perfectly")
    // margins are only +-0.09875 after 2 epochs: loss below ln 2 but
    // still near it
    assert(logloss > 0.6 && logloss < 0.6932)
  }

  test("fuzzyBlockedPairs: token blocking catches either-token typos, not both") {
    import spark.implicits._
    val df = Seq("red widget", "red widget", "red widgit", "hot gear",
      "hot bear", "ted widgit").toDF("p_name")
    val got = Dedup.fuzzyBlockedPairs(df, "p_name", maxDist = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    assert(got == Set(
      ("hot bear", "hot gear", 1L, 1L, 1),
      ("red widget", "red widgit", 2L, 1L, 1),
      ("red widgit", "ted widgit", 1L, 1L, 1)))
    // lev("red widget","ted widgit") = 2 <= 3, but the pair differs in
    // BOTH tokens -> no shared block: the documented recall bound
    assert(!got.exists(p => p._1 == "red widget" && p._2 == "ted widgit"))
  }

  test("substringRuns finds the planted passage, ignores set-only overlap") {
    import spark.implicits._
    // a 14-token passage planted in docs 1 and 2 at different offsets;
    // doc 3 shares VOCABULARY with 1 but no 8-token run; doc 4 disjoint
    val passage = (1 to 14).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $passage gamma delta"),
      (2L, s"x1 x2 x3 x4 x5 $passage"),
      // same words as the passage but shuffled: no aligned run
      (3L, (14 to 1 by -1).map(i => s"p$i").mkString(" ") + " alpha beta"),
      (4L, (1 to 20).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.substringRuns(docs, "doc_id", "text",
        w = 8, minRunTokens = 12, maxDf = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // only the (1,2) pair, longest run exactly the 14-token passage
    assert(got.toSeq == Seq((1L, 2L, 14L, 1L)))
    // run of exactly minRunTokens-1 is rejected: shorten the overlap
    val short = Seq(
      (1L, "a b " + (1 to 11).map(i => s"q$i").mkString(" ")),
      (2L, (1 to 11).map(i => s"q$i").mkString(" ") + " zz"))
      .toDF("doc_id", "text")
    assert(Dedup.substringRuns(short, "doc_id", "text",
      w = 8, minRunTokens = 12, maxDf = 10).count() == 0L)
    // ...but passes at minRunTokens = 11
    assert(Dedup.substringRuns(short, "doc_id", "text",
      w = 8, minRunTokens = 11, maxDf = 10).count() == 1L)
  }

  test("sortedNeighborhoodPairs: window bounds candidates, lev verifies") {
    import spark.implicits._
    // sorted dictionary: acme co, acme inc, acme co (dup), zzz corp
    val df = Seq("acme co", "acme inc", "acme co", "zzz corp")
      .toDF("name")
    val got = Dedup.sortedNeighborhoodPairs(df, "name",
        window = 2, maxDist = 4)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getInt(4), r.getInt(5))).toSet
    // dict sorts to [acme co(2), acme inc, zzz corp]; window 2 only
    // pairs rank-adjacent entries; (acme inc, zzz corp) is adjacent
    // but lev 8 > 4
    assert(got == Set(("acme co", "acme inc", 2L, 1L, 1, 3)))
    // widening the window alone never adds pairs the verifier rejects
    val wide = Dedup.sortedNeighborhoodPairs(df, "name",
      window = 3, maxDist = 4).collect()
    assert(wide.length == 1)
    assertThrows[IllegalArgumentException] {
      Dedup.sortedNeighborhoodPairs(df, "name", window = 1, maxDist = 4)
    }
  }

  test("maxSimTopK: per-sub-vector max is order-invariant, full cosine is not") {
    import spark.implicits._
    // query 0 = [e1 | e2]; doc 1 identical; doc 2 has the SAME
    // sub-vectors swapped (full cosine 0, MaxSim still perfect: each
    // query sub-vector finds its best partner independently); doc 3
    // only matches the first sub-vector
    val rows = Seq(
      (0L, Seq(1f, 0f, 0f, 1f)),
      (1L, Seq(1f, 0f, 0f, 1f)),
      (2L, Seq(0f, 1f, 1f, 0f)),
      (3L, Seq(1f, 0f, 1f, 0f)))
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.maxSimTopK(df, "vec_id", "embedding",
      col("vec_id") === 0, subDim = 2, nSub = 2, k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 1, 2.0), (2L, 2, 2.0), (3L, 3, 1.0)))
  }

  test("Skyline.frontier2d matches the brute-force NOT EXISTS skyline") {
    import spark.implicits._
    // deterministic scatter + planted ties: (90, 50) twice (both must
    // survive together), and (90, 40) dominated by them on y alone
    val rng = new Lcg(4242)
    val pts = (1L to 60L).map(i =>
      (i, rng.nextInt(100).toDouble, rng.nextInt(100).toLong)) ++
      Seq((101L, 90.0, 50L), (102L, 90.0, 50L), (103L, 90.0, 40L))
    val df = pts.toDF("id", "x", "y")
    val got = graft.ops.Skyline.frontier2d(df, "x", "y", bucketWidth = 7.0)
      .select("id").as[Long].collect().toSet
    val brute = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, x2, y2) =>
        x2 >= x && y2 >= y && (x2 > x || y2 > y) }
    }.map(_._1).toSet
    assert(got == brute && got.contains(101L) && got.contains(102L) &&
      !got.contains(103L))
    // bucket width must not change the answer
    val gotWide = graft.ops.Skyline.frontier2d(df, "x", "y", 1000.0)
      .select("id").as[Long].collect().toSet
    assert(gotWide == brute)
  }

  test("readability: hand-counted words/sentences/syllables and scores") {
    import spark.implicits._
    val df = Seq((1L, "The cat sat. It ran!"), (2L, "xyz 123."))
      .toDF("doc_id", "text")
    val got = TextAnalysis.readability(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // 5 words, 2 sentences, 5 syllables
    assert(got(1L) == ((5L, 2L,
      5L, r6(206.835 - 1.015 * 2.5 - 84.6 * 1.0),
      r6(0.39 * 2.5 + 11.8 * 1.0 - 15.59))))
    // vowelless words still count 1 syllable each
    assert(got(2L)._1 == 2L && got(2L)._2 == 1L && got(2L)._3 == 2L)
  }

  test("agreementKappa: hand 2-class marginals give kappa 0.2; identity gives 1") {
    import spark.implicits._
    // truth en,en,de,de vs pred en,es,de,en: po=0.5,
    // pe = (2*2 + 2*1)/16 = 0.375, kappa = 0.125/0.625 = 0.2
    val df = Seq(("en", "en"), ("en", "es"), ("de", "de"), ("de", "en"))
      .toDF("t", "p")
    val r = TextAnalysis.agreementKappa(df, "t", "p").collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
      r.getDouble(4)) == ((4L, 2L, 0.5, 0.375, 0.2)))
    // perfect agreement on a uniform mix: kappa exactly 1
    val id = Seq(("a", "a"), ("b", "b")).toDF("t", "p")
    val r2 = TextAnalysis.agreementKappa(id, "t", "p").collect().head
    assert(r2.getDouble(4) == 1.0)
    // constant annotators: pe = 1 -> kappa undefined (null)
    val const = Seq(("a", "a"), ("a", "a")).toDF("t", "p")
    assert(TextAnalysis.agreementKappa(const, "t", "p")
      .collect().head.isNullAt(4))
  }

  test("neymanStratifiedSample: allocation follows N*sigma, zero-variance stratum gets 0") {
    import spark.implicits._
    // a: sigma 5 (w 20); b: constant -> sigma 0 (w 0); c: sigma 10 (w 40)
    val rows =
      Seq((1L, "a", 0L), (2L, "a", 10L), (3L, "a", 0L), (4L, "a", 10L),
        (5L, "b", 7L), (6L, "b", 7L), (7L, "b", 7L), (8L, "b", 7L),
        (9L, "c", 0L), (10L, "c", 20L), (11L, "c", 0L), (12L, "c", 20L))
    val df = rows.toDF("id", "src", "v")
    val got = Sampling.neymanStratifiedSample(df, "id", "src", "v",
        budget = 6L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) -1.0 else r.getDouble(5)))).toMap
    // alloc: a = round(6*20/60) = 2, b = 0, c = round(6*40/60) = 4
    assert(got("a")._1 == 4L && got("a")._2 == 5.0 && got("a")._3 == 2L &&
      got("a")._4 == 2L)
    assert(Set(0.0, 5.0, 10.0).contains(got("a")._5))
    assert(got("b") == ((4L, 0.0, 0L, 0L, -1.0)))
    // c gets 4 of its 4 rows -> the full stratum, mean exactly 10
    assert(got("c") == ((4L, 10.0, 4L, 4L, 10.0)))
  }

  test("chiSquareTerms: hand 2x2 contingency, zero-margin term scores 0") {
    import spark.implicits._
    val df = Seq((1L, "x y", "A"), (2L, "x z", "A"),
      (3L, "y y", "B"), (4L, "z", "B")).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.chiSquareTerms(df, "doc_id", "text", "lang",
        topK = 2)
      .collect().map(r => (r.getString(0), r.getInt(4)) ->
        ((r.getString(1), r.getLong(2), r.getDouble(3)))).toMap
    // (A, x): a=2 b=0 c=0 d=2 -> chi2 = 4*(4)^2/16 = 4; repeated "y y"
    // counts once per doc; every balanced term scores 0, ties by term
    assert(got(("A", 1)) == (("x", 2L, 4.0)))
    assert(got(("A", 2)) == (("y", 1L, 0.0)))
    assert(got(("B", 1)) == (("y", 1L, 0.0)))
    assert(got(("B", 2)) == (("z", 1L, 0.0)))
  }

  test("itemItemCf: hand-computed binary cosine and top-k per item") {
    import spark.implicits._
    val baskets = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 1L),
      (20L, 2L), (30L, 2L), (30L, 3L), (40L, 1L),
      (10L, 1L) /* dup row must not double-count */)
      .toDF("b", "i")
    val got = Ranking.itemItemCf(baskets, "b", "i", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(2)) ->
        ((r.getLong(1), r.getLong(3), r.getDouble(4)))).toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // n(1)=3 n(2)=3 n(3)=2; co(1,2)=2 co(1,3)=1 co(2,3)=2
    assert(got((1L, 1)) == ((2L, 2L, r6(2.0 / 3.0))))
    assert(got((1L, 2)) == ((3L, 1L, r6(1.0 / math.sqrt(6.0)))))
    assert(got((2L, 1)) == ((3L, 2L, r6(2.0 / math.sqrt(6.0)))))
    assert(got((2L, 2)) == ((1L, 2L, r6(2.0 / 3.0))))
    assert(got((3L, 1)) == ((2L, 2L, r6(2.0 / math.sqrt(6.0)))))
    assert(got((3L, 2)) == ((1L, 1L, r6(1.0 / math.sqrt(6.0)))))
  }

  test("heapsLawFit: all-new vocab fits beta=1 k=1; flat vocab fits beta=0") {
    import spark.implicits._
    // every doc contributes two never-seen words: V = N exactly at
    // every checkpoint, so the log-log fit is beta=1, k=1, exactly
    val fresh = (0L to 9L).map(i => (i, s"w${i}a w${i}b"))
      .toDF("doc_id", "text")
    val a = TextAnalysis.heapsLawFit(fresh, "doc_id", "text", buckets = 5)
      .orderBy("bucket").collect()
    assert(a.length == 5)
    assert(a.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      (1 to 5).map(i => (4L * i, 4L * i)).toSeq)
    assert(a.head.getDouble(3) == 1.0 && a.head.getDouble(4) == 1.0)
    // constant vocabulary: slope 0, k = the vocab size (to 6dp grain)
    val flat = (0L to 9L).map(i => (i, "a b")).toDF("doc_id", "text")
    val b = TextAnalysis.heapsLawFit(flat, "doc_id", "text", buckets = 5)
      .collect().head
    assert(b.getDouble(3) == 0.0)
    assert(math.abs(b.getDouble(4) - 2.0) < 1e-5)
  }

  test("silhouetteByCell: planted orthogonal cells, boundary tie scores 0") {
    import spark.implicits._
    // centroids 1 (e_x) and 2 (e_y); id 3 sits on centroid 1, id 4 on
    // the exact boundary (equal rounded cosines -> tie to cell 1, s=0)
    val rows = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(1f, 0f, 0f, 0f)),
      (4L, Array(1f, 1f, 0f, 0f)))
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.silhouetteByCell(df, "vec_id", "embedding",
        centroidIds = Seq(1L, 2L))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got(1L) == ((3L, 0.666667, 0.0, 1.0)))
    assert(got(2L) == ((1L, 1.0, 1.0, 1.0)))
  }

  test("jlDistortionPairs: exact plane replay, zero-distance pair is null") {
    import spark.implicits._
    val v1 = Array(1.0f, 2.0f, -1.0f, 0.5f)
    val v2 = Array(0.0f, 1.0f, 3.0f, -2.0f)
    val df = Seq((1L, v1), (2L, v2), (3L, v2)).toDF("vec_id", "embedding")
    val got = Similarity.jlDistortionPairs(df, "vec_id", "embedding",
        dim = 4, targetDim = 2)
      .orderBy("id1").collect()
    assert(got.length == 2)
    // independent replay with the shared plane stream
    def proj(v: Array[Float], p: Int): Double =
      (0 until 4).map(j =>
        v(j).toDouble * graft.functions.LshKernel.planeSign(4096 + p, j)).sum
    val d2o = (0 until 4).map(j => {
      val d = v1(j).toDouble - v2(j).toDouble; d * d }).sum
    val d2p = (0 until 2).map(p => {
      val d = proj(v1, p) - proj(v2, p); d * d }).sum
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0).getDouble(2) == r6(d2o))
    assert(got(0).getDouble(3) == r6(d2p / 2.0))
    assert(got(0).getDouble(4) == r6((d2p / 2.0) / d2o))
    // identical vectors: zero original distance -> null distortion
    assert(got(1).getDouble(2) == 0.0 && got(1).isNullAt(4))
  }

  test("jlDistortionPairs: distortion concentrates near 1 at scale") {
    import spark.implicits._
    // 200 hash-derived 64-dim vectors; with k=16 the JL ratio should
    // land in a loose [0.2, 3] band for the overwhelming majority
    val rng = new java.util.Random(7)
    val rows = (1L to 200L).map(i =>
      (i, Array.fill(64)(rng.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val d = Similarity.jlDistortionPairs(df, "vec_id", "embedding",
        dim = 64, targetDim = 16)
      .select("distortion").as[Double].collect()
    assert(d.length == 199)
    val inBand = d.count(x => x > 0.2 && x < 3.0)
    assert(inBand >= 190, s"only $inBand/199 in band")
  }

  test("naiveBayesLangEval: disjoint vocab classifies every test doc right") {
    import spark.implicits._
    // langs with fully disjoint vocabulary: whatever the md5 split
    // does, every test doc must land on the diagonal
    val docs = (1L to 40L).map(i => (i, "xxxx xxxx xxxx", "aa")) ++
      (41L to 80L).map(i => (i, "yyyy yyyy yyyy", "bb"))
    val df = docs.toDF("doc_id", "text", "lang")
    val got = TextAnalysis.naiveBayesLangEval(df, "doc_id", "text",
        "lang", testMod = 5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // recompute the op's own split to know the expected diagonal counts
    val testCounts = df.filter(
      conv(substring(md5(concat(lit("nbsplit:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 5 === 0)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(testCounts.values.sum > 0, "fixture must yield test docs")
    assert(got == testCounts.map { case (l, n) => (l, l) -> n })
  }

  test("hapaxProfile: hand count-of-counts, no-hapax group nulls GT") {
    import graft.ops.TextAnalysis
    import spark.implicits._
    val df = Seq((1L, "a a b c", "aa"), (2L, "z z", "bb"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.hapaxProfile(df, "doc_id", "text", "lang")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5),
          if (r.isNullAt(6)) None else Some(r.getDouble(6))))
      .toMap
    // aa: a×2 b×1 c×1 -> N=4 V=3 V1=2 V2=1, p0=0.5, r* = 2·1/2 = 1
    assert(got("aa") == ((4L, 3L, 2L, 1L, 0.5, Some(1.0))))
    // bb: z×2 -> no hapaxes, unseen mass 0, GT undefined
    assert(got("bb") == ((2L, 1L, 0L, 1L, 0.0, None)))
  }

  test("mcnemarPaired: hand 2x2 cells, degenerate concordant-only null") {
    import graft.ops.TextAnalysis
    import spark.implicits._
    val df = Seq(("x", "x", "x"), ("x", "x", "y"), ("x", "x", "y"),
      ("x", "x", "z"), ("x", "y", "y")).toDF("t", "a", "b")
    val r = TextAnalysis.mcnemarPaired(df, col("t"), col("a"), col("b"))
      .collect().head
    // both_right 1, both_wrong 1, a_only 3, b_only 0:
    // chi2_cc = (|3-0|-1)^2 / 3 = 4/3
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((5L, 1L, 1L, 3L, 0L)))
    assert(r.getDouble(5) == 1.333333)
    val conc = Seq(("x", "x", "x"), ("y", "y", "y")).toDF("t", "a", "b")
    assert(TextAnalysis.mcnemarPaired(conc, col("t"), col("a"), col("b"))
      .collect().head.isNullAt(5))
  }
}
