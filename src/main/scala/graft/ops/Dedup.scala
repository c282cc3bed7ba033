package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * shingle-Jaccard (inverted-index join), MinHash+LSH, and SimHash.
  *
  * Scale design: every pairwise comparison is preceded by a blocking
  * stage (shared shingle / LSH band bucket) so candidate generation is a
  * shuffle on small keys, never an n^2 cross join; frequent shingles are
  * dropped by document frequency (stop-shingle removal) to bound the
  * worst-case posting-list quadratic blowup on 100 TB corpora.
  */
object Dedup {

  /** Exact duplicate groups by normalized text: canonical (minimum) id
    * per group plus multiplicity. One hash-shuffle on the fingerprint.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Exact-dedup the relation: keep one row per normalized text. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Incremental (cross-snapshot) exact dedup: classify every document
    * of a new batch against an already-ingested reference corpus by
    * normalized fingerprint. Verdicts: `dup_of_reference` (fingerprint
    * already in the reference — the whole group is dropped, the
    * reference copy wins), `dup_in_batch` (new fingerprint but not the
    * batch's canonical minimum id), `keep` (the batch canonical of a
    * fingerprint the reference has never seen). This is the recurring
    * production shape — each crawl increment dedups against the
    * accumulated corpus, never re-deduping the corpus against itself.
    *
    * Scale shape: the reference side reduces to a distinct fingerprint
    * set BEFORE the join (16-byte keys, not documents), then one
    * hash-shuffle join on the fingerprint; the batch-internal canonical
    * is one map-side-combinable min aggregation. No broadcast
    * assumption — at 100 TB the reference fingerprint set is itself
    * large, and a shuffle join on md5 keys is the right plan (AQE may
    * still broadcast small increments).
    */
  def dedupAgainstReference(batch: DataFrame, reference: DataFrame,
                            idCol: String, textCol: String): DataFrame = {
    val refFps = reference
      .select(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .distinct().withColumn("__ref", lit(1))
    val batchFps = batch.select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
    val canon = batchFps.groupBy(col("fp")).agg(min(col(idCol)).as("__keep"))
    batchFps
      .join(refFps, Seq("fp"), "left")
      .join(canon, Seq("fp"))
      .select(col(idCol), col("fp"),
        when(col("__ref") === 1, lit("dup_of_reference"))
          .when(col(idCol) =!= col("__keep"), lit("dup_in_batch"))
          .otherwise(lit("keep")).as("verdict"))
  }

  /** The one shingle definition of both forms: `lower(trim(text))`
    * (trim drops spaces only), then the k-code-point `substr` at every
    * start 1..max(len − (k−1), 1); null text is one null shingle.
    */
  private def shingleText(text: Column): Column = lower(trim(text))
  private def shingleStarts(t: Column, k: Int): Column =
    sequence(lit(1), greatest(length(t) - (k - 1), lit(1)))
  private def shingleAt(t: Column, i: Column, k: Int): Column =
    t.substr(i, lit(k))

  /** Exploded (id, shingle) postings — positions exploded first so the
    * per-position `substr` stays inside whole-stage codegen (building a
    * per-row shingle array with `transform` runs interpreted and
    * dominates the scan at corpus scale). NOT distinct.
    */
  def shinglePostings(df: DataFrame, idCol: String, textCol: String,
                      k: Int): DataFrame =
    df.select(col(idCol).as("id"), shingleText(col(textCol)).as("__t"))
      .select(col("id"), col("__t"),
        explode(shingleStarts(col("__t"), k)).as("__i"))
      .select(col("id"), shingleAt(col("__t"), col("__i"), k).as("s"))

  /** The distinct shingles of one text as an array: the per-row form
    * of [[shinglePostings]] (interpreted, so batch scans explode).
    */
  def charShingles(text: Column, k: Int): Column = {
    val t = shingleText(text)
    array_distinct(transform(shingleStarts(t, k), i => shingleAt(t, i, k)))
  }

  /** Distinct posting list (id, shingle) with stop-shingles (document
    * frequency > dfCap) removed.
    */
  def rareShinglePostings(df: DataFrame, idCol: String, textCol: String,
                          k: Int, dfCap: Long): DataFrame = {
    val post = shinglePostings(df, idCol, textCol, k).distinct()
    val dfreq = post.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
    post.join(dfreq.select("s"), Seq("s"))
  }

  /** All pairs with rare-shingle Jaccard >= tau, via an inverted-index
    * self-join on shared shingles (no cross join; the join key is the
    * shingle, document frequency bounded by dfCap).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 8, dfCap: Long = 20, tau: Double = 0.3): DataFrame = {
    // materialized: sizes' aggregation and the self-join's two map
    // stages are submitted concurrently and would each recompute the
    // df-capped postings (see ScopedCaches.materialize)
    val post = graft.data.ScopedCaches.materialize(
      rareShinglePostings(df, idCol, textCol, k, dfCap)
        .select(col("s"), col("id")))
    val sizes = post.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val a = post.select(col("s"), col("id").as("id1"))
    val b = post.select(col("s"), col("id").as("id2"))
    val common = a.join(b, Seq("s")).filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("c"))
    val jac = col("c") / (col("n1") + col("n2") - col("c"))
    common
      .join(sizes.toDF("id1", "n1"), Seq("id1"))
      .join(sizes.toDF("id2", "n2"), Seq("id2"))
      .select(col("id1"), col("id2"), round(jac, 6).as("jaccard"))
      .filter(col("jaccard") >= tau)
  }

  /** Asymmetric containment near-dup pairs: `(id1, id2)` where
    * `|S1 ∩ S2| / min(|S1|, |S2|)` ≥ `tau` over the same df-capped rare
    * shingle sets as [[jaccardPairs]]. Containment catches the
    * quote-inclusion failure mode symmetric Jaccard is blind to: a
    * document pasted whole into a much larger one scores
    * `J ≈ |small|/|large|` (arbitrarily low) but containment ≈ 1.
    * Emits both directional scores (`cont1` = fraction of id1 covered,
    * `cont2` likewise) plus the symmetric `containment` = max of the
    * two; the standard CCNet/BigQuery-dedup "substring dup" triage
    * signal at shingle resolution.
    *
    * Scale shape: identical to [[jaccardPairs]] — candidate generation
    * is the bucketed rare-shingle postings self-join (df-capped, never
    * all-pairs); only the final score arithmetic differs, so the
    * containment pass can share one postings materialization with the
    * Jaccard pass in a combined triage.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 8, dfCap: Long = 20,
                       tau: Double = 0.5): DataFrame = {
    val post = graft.data.ScopedCaches.materialize(
      rareShinglePostings(df, idCol, textCol, k, dfCap)
        .select(col("s"), col("id")))
    val sizes = post.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val a = post.select(col("s"), col("id").as("id1"))
    val b = post.select(col("s"), col("id").as("id2"))
    val common = a.join(b, Seq("s")).filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("c"))
    common
      .join(sizes.toDF("id1", "n1"), Seq("id1"))
      .join(sizes.toDF("id2", "n2"), Seq("id2"))
      .select(col("id1"), col("id2"),
        round(col("c") / col("n1"), 6).as("cont1"),
        round(col("c") / col("n2"), 6).as("cont2"))
      .withColumn("containment", greatest(col("cont1"), col("cont2")))
      .filter(col("containment") >= tau)
  }

  /** Mersenne prime 2^31-1 — the permutation modulus. 31-bit minwise
    * hashing is the published standard (Broder et al.); the estimator
    * error it adds is negligible for documents far below 2^31 shingles,
    * and the 31-bit domain is what makes `(a*x + b) mod P` computable in
    * plain 64-bit arithmetic with NO overflow in any engine:
    * a, x < 2^31 so a*x + b < 2^63. A 2^61-1 modulus would need 128-bit
    * products; 64-bit wraparound mixing (xxhash/splitmix) would error
    * out of DuckDB's checked BIGINT multiply. The modulus must also
    * actually WRAP the products — a first cut bounded a, b so the sum
    * stayed under the modulus, which degenerates the family to a
    * near-monotone linear map: signatures correlate across j, band
    * slices collide en masse, and the candidate stage explodes (387k
    * pairs at sf1 vs ~3k from a real hash family).
    */
  val MinhashP: Long = (1L << 31) - 1

  /** Per-permutation (a, b) with a in [1, P), b in [0, P), drawn from a
    * splitmix64 stream (published constants) — a genuine
    * pairwise-independent family over the 31-bit hash domain. The SAME
    * constants are interpolated into the DuckDB oracle SQL, so both
    * engines build bit-identical signatures.
    */
  def minhashConstants(numHashes: Int): IndexedSeq[(Long, Long)] = {
    var s = 0x243F6A8885A308D3L // pi digits — nothing up the sleeve
    def next(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    (0 until numHashes).map { _ =>
      (math.floorMod(next(), MinhashP - 1) + 1, math.floorMod(next(), MinhashP))
    }
  }

  /** The family's shingle hash: the first 8 md5 hex chars masked to 31
    * bits — portable and always a valid residue mod P. */
  private def shingleHash(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")
      .bitwiseAND(lit(0x7FFFFFFFL))

  /** The family's permutations `x ↦ (a·x + b) mod P`, one per hash. */
  private def minhashPerms(numHashes: Int): IndexedSeq[Column => Column] =
    minhashConstants(numHashes).map { case (a, b) =>
      (x: Column) => (lit(a) * x + lit(b)) % lit(MinhashP)
    }

  /** A signature's `array<struct<band, bh>>`, `bh` the band's raw values. */
  private def bandSlices(sig: IndexedSeq[Column], bands: Int): Column = {
    require(sig.size % bands == 0, "bands must divide numHashes")
    val rows = sig.size / bands
    array((0 until bands).map { b =>
      struct(lit(b).as("band"), array(sig.slice(b * rows, (b + 1) * rows): _*).as("bh"))
    }: _*)
  }

  /** MinHash signatures (id, sig_0..sig_{m-1}): per hash function j, the
    * minimum of a pairwise-independent permutation of the md5-derived
    * 31-bit shingle hash over the document's shingles.
    * Shape: explode shingles once, then ONE hash-aggregate with m
    * codegen'd `min` columns — a single shuffle on the id, instead of m
    * interpreted array-transform passes per row. Every step is
    * engine-portable (md5 + 64-bit modular arithmetic), so the DuckDB
    * oracle re-derives exact signatures — see `dedup_minhash_lsh`'s
    * oracle. xxhash64 would tie signatures to Spark's implementation.
    * A null text's only shingle is null: it is dropped, so such a
    * document has no signature and no band rows.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int, k: Int): DataFrame = {
    // hash each shingle string once
    val post = shinglePostings(df, idCol, textCol, k)
      .filter(col("s").isNotNull)
      .select(col("id"), shingleHash(col("s")).as("x"))
    val perm = minhashPerms(numHashes)
    post.groupBy(col("id")).agg(
      min(perm(0)(col("x"))).as("sig_0"),
      (1 until numHashes).map(j => min(perm(j)(col("x"))).as(s"sig_$j")): _*)
  }

  /** Per row, the family's hashes of a text's distinct non-null
    * shingles: the input of [[minhashBands]], its own column so md5 runs
    * once. */
  def shingleHashes(text: Column, k: Int): Column =
    filter(transform(charShingles(text, k), shingleHash(_)), _.isNotNull)

  /** Per row, a document's band slices from its [[shingleHashes]] —
    * equal to its [[minhashBandStore]] rows, so null (no hashes) for null
    * text — for a stream that cannot aggregate before bucketing. */
  def minhashBands(hashes: Column, numHashes: Int, bands: Int): Column =
    when(size(hashes) > 0, bandSlices(
      minhashPerms(numHashes).map(p => array_min(transform(hashes, p))), bands))

  /** The persistable MinHash band index of a corpus: one row per
    * (document, band) with the band's raw signature slice —
    * `(band, bh, id)`. This is the STATE a continuously-ingesting
    * pipeline keeps between increments: writing these rows to a table
    * partitioned/bucketed by (band, bh-hash) lets tomorrow's shard
    * dedup against today's accumulated corpus without ever recomputing
    * the corpus's signatures ([[dedupIncrementalBands]]). The slice is
    * the raw `rows`-value array, not a hash of it — exact LSH
    * semantics, engine-portable (see [[minhashLshPairs]]).
    *
    * Shape: explode the band structs out of ONE signature aggregation
    * (a unionAll of per-band projections would re-run the whole
    * signature job once per band per consumer).
    */
  def minhashBandStore(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 32, bands: Int = 8,
                       k: Int = 8): DataFrame = {
    val sig = minhashSignatures(df, idCol, textCol, numHashes, k)
    sig.select(col("id"),
        explode(bandSlices((0 until numHashes).map(j => col(s"sig_$j")), bands)).as("e"))
      .select(col("e.band").as("band"), col("e.bh").as("bh"), col("id"))
  }

  /** A band store's bucket self-join: (band, bh, id1 < id2), one row
    * per pair per shared bucket. */
  def bucketPairs(store: DataFrame): DataFrame =
    store.toDF("band", "bh", "id1")
      .join(store.toDF("band", "bh", "id2"), Seq("band", "bh"))
      .filter(col("id1") < col("id2"))

  /** MinHash+LSH near-duplicate pairs: band the signature, bucket-join
    * on (band index, band values), then verify candidates with the
    * exact shingle Jaccard. `bands` must divide `numHashes`. The bucket
    * key is the band's raw signature slice, not a hash of it: equality
    * on the slice is the exact LSH semantics (a hash would add
    * collision-induced candidates — harmless after verification but
    * irreproducible outside this engine), and it keeps the whole
    * pipeline expressible as the DuckDB oracle SQL.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 32, bands: Int = 8, k: Int = 8,
                      tau: Double = 0.5): DataFrame = {
    // materialized, not just tracked: the self-join's two map stages
    // are independent, so the scheduler submits them concurrently and
    // an unpopulated cache would be computed twice — and the bucket
    // subtree is the expensive part (md5 postings + 32-min signature
    // aggregation)
    val buckets = graft.data.ScopedCaches.materialize(
      minhashBandStore(df, idCol, textCol, numHashes, bands, k))
    // cand is referenced three times below (pair join + both candDocs
    // arms); materialize the tiny result for the same reason
    val cand = graft.data.ScopedCaches.materialize(
      bucketPairs(buckets).select("id1", "id2").distinct())
    // exact-Jaccard verification via distinct shingle postings of the
    // candidate docs only: |A n B| = count of shingles reached from the
    // pair through both docs' postings; stays in whole-stage codegen
    // (per-row shingle arrays would run interpreted), and never joins
    // postings-to-postings on the shingle (hot shingles would blow up
    // quadratically) — the pair list drives the join instead.
    val candDocs = cand.select(col("id1").as("id"))
      .unionAll(cand.select(col("id2").as("id"))).distinct()
    // three downstream reads (sizes + both common arms) — materialize
    // so the distinct-postings shuffle runs once
    val post = graft.data.ScopedCaches.materialize(
      shinglePostings(df, idCol, textCol, k).distinct()
        .join(candDocs, Seq("id"), "left_semi"))
    val sizes = post.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val common = cand
      .join(post.select(col("id").as("id1"), col("s")), Seq("id1"))
      .join(post.select(col("id").as("id2"), col("s")), Seq("id2", "s"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("c"))
    val jac = col("c") / (col("n1") + col("n2") - col("c"))
    common
      .join(sizes.toDF("id1", "n1"), Seq("id1"))
      .join(sizes.toDF("id2", "n2"), Seq("id2"))
      .select(col("id1"), col("id2"), round(jac, 6).as("jaccard"))
      .filter(col("jaccard") >= tau)
  }

  /** Incremental (cross-snapshot) NEAR-dedup: classify every document
    * of a new shard against a persisted MinHash band store
    * ([[minhashBandStore]] rows of the accumulated corpus) — the one
    * dedup shape a continuously-ingesting pipeline runs daily. Only
    * the SHARD's signatures are computed here; the corpus side rides
    * the store (an index of (band, bh, id) rows, reloaded from its
    * table), and corpus text is touched only for the band-collision
    * candidates' exact-Jaccard verification — candidate-driven point
    * lookups, the [[minhashLshPairs]] verification discipline across
    * two corpora. Output: one row per shard document —
    * (`idCol`, `n_matches`, `best_ref`, `best_jaccard`, `verdict`)
    * with verdict `near_dup_of_reference` when any reference doc
    * verifies at Jaccard ≥ `tau` (best match = highest Jaccard, ties
    * to the smaller reference id) and `keep` otherwise. Intra-shard
    * duplicates are deliberately out of scope: they are the existing
    * same-corpus ops' job ([[minhashLshPairs]], [[exactDedup]]); this
    * op is the shard-vs-state classifier.
    *
    * Scale shape: shard signatures cost one explode + one hash
    * aggregate over the INCREMENT only (the daily win — the 100 TB
    * corpus is never rescanned); the candidate join shuffles shard
    * band rows against the store on (band, bh) — with the store table
    * bucketed on that key, the corpus side doesn't even shuffle;
    * verification joins only candidate docs' postings (left-semi
    * pruned on both corpora). The per-shard-doc best/count is a window
    * PARTITIONED by the shard id. Streaming boundary: the band store
    * is corpus-time state (it grows with every ingested shard), so
    * this stays a batch op per the corpus-time/ingest-time doctrine
    * (`streaming/StreamOps.scala:30-47`) — an ingest-time twin would
    * have to re-derive the store per micro-batch, which is exactly
    * what persisting the index avoids.
    */
  def dedupIncrementalBands(shard: DataFrame, store: DataFrame,
                            reference: DataFrame, idCol: String,
                            textCol: String, numHashes: Int = 32,
                            bands: Int = 8, k: Int = 8,
                            tau: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shardBands = minhashBandStore(shard, idCol, textCol, numHashes,
      bands, k)
    // consumed by the pair join once, then twice more through the
    // left-semi prunes — materialize so the shard signature job and
    // the store scan run once
    val cand = graft.data.ScopedCaches.materialize(
      shardBands.select(col("band"), col("bh"), col("id").as("sid"))
        .join(store.select(col("band"), col("bh"), col("id").as("rid")),
          Seq("band", "bh"))
        .select("sid", "rid").distinct())
    val postS = graft.data.ScopedCaches.materialize(
      shinglePostings(shard, idCol, textCol, k).distinct()
        .join(cand.select(col("sid").as("id")), Seq("id"), "left_semi"))
    val postR = graft.data.ScopedCaches.materialize(
      shinglePostings(reference, idCol, textCol, k).distinct()
        .join(cand.select(col("rid").as("id")), Seq("id"), "left_semi"))
    val common = cand
      .join(postS.select(col("id").as("sid"), col("s")), Seq("sid"))
      .join(postR.select(col("id").as("rid"), col("s")), Seq("rid", "s"))
      .groupBy(col("sid"), col("rid")).agg(count(lit(1)).as("c"))
    val jac = col("c") / (col("n1") + col("n2") - col("c"))
    val verified = common
      .join(postS.groupBy(col("id")).agg(count(lit(1)).as("n1"))
        .withColumnRenamed("id", "sid"), Seq("sid"))
      .join(postR.groupBy(col("id")).agg(count(lit(1)).as("n2"))
        .withColumnRenamed("id", "rid"), Seq("rid"))
      .select(col("sid"), col("rid"), round(jac, 6).as("jaccard"))
      .filter(col("jaccard") >= tau)
    val w = Window.partitionBy(col("sid"))
      .orderBy(col("jaccard").desc, col("rid").asc)
    val perDoc = verified
      .withColumn("__rn", row_number().over(w))
      .groupBy(col("sid")).agg(count(lit(1)).as("n_matches"),
        max(when(col("__rn") === 1, col("rid"))).as("best_ref"),
        max(when(col("__rn") === 1, col("jaccard"))).as("best_jaccard"))
    shard.select(col(idCol))
      .join(perDoc.withColumnRenamed("sid", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("best_ref"), col("best_jaccard"),
        when(col("n_matches").isNotNull, lit("near_dup_of_reference"))
          .otherwise(lit("keep")).as("verdict"))
  }

  /** The state-maintenance half of the incremental loop: after
    * [[dedupIncrementalBands]] classifies a shard, merge the KEPT
    * documents' band rows into the store so tomorrow's shard dedups
    * against today's corpus + today's accepted increment. Takes the
    * shard's already-computed band rows (never recomputes signatures)
    * and a keep-id relation (first column = the id), left-semi prunes,
    * unions. Near-dups of the reference are dropped here — that IS the
    * dedup. Scale shape: a semi-join on the shard's band rows plus an
    * append; with the store table partitioned by band and bucketed on
    * the slice, the append is a partition-local write and no existing
    * store row is ever rewritten.
    */
  def bandStoreMerge(store: DataFrame, shardBands: DataFrame,
                     keepIds: DataFrame): DataFrame = {
    val keep = keepIds.select(col(keepIds.columns.head).as("id"))
    store.unionByName(shardBands.join(keep, Seq("id"), "left_semi"))
      .select("band", "bh", "id")
  }

  /** LSH recall/precision audit: run [[jaccardPairs]] (exact, over
    * df-capped rare-shingle postings) and [[minhashLshPairs]] (banded
    * candidates + full-postings verification) at the SAME tau and
    * full-outer-join the pair sets — the measurement that justifies (or
    * indicts) the banding parameters BEFORE a 100 TB dedup run trusts
    * them. `exact_only` pairs are banding misses (no band collided);
    * `lsh_only` pairs are reachable only through shingles the exact
    * op's df-cap dropped — the two paths' blind spots are different by
    * construction, and the audit quantifies both. One extra pair-level
    * join on top of the two audited pipelines; nothing rescans the
    * corpus.
    */
  def lshRecallAudit(df: DataFrame, idCol: String, textCol: String,
                     numHashes: Int, bands: Int, k: Int, dfCap: Long,
                     tau: Double): DataFrame = {
    val exact = jaccardPairs(df, idCol, textCol, k, dfCap, tau)
      .select(col("id1"), col("id2"), lit(true).as("__ex"))
    val lsh = minhashLshPairs(df, idCol, textCol, numHashes, bands, k, tau)
      .select(col("id1"), col("id2"), lit(true).as("__ls"))
    exact.join(lsh, Seq("id1", "id2"), "full_outer")
      .agg(count(when(col("__ex"), 1)).as("n_exact"),
        count(when(col("__ls"), 1)).as("n_lsh"),
        count(when(col("__ex") && col("__ls"), 1)).as("n_both"),
        count(when(col("__ex") && col("__ls").isNull, 1)).as("exact_only"),
        count(when(col("__ex").isNull && col("__ls"), 1)).as("lsh_only"))
      .select(col("n_exact"), col("n_lsh"), col("n_both"),
        col("exact_only"), col("lsh_only"),
        when(col("n_exact") > 0,
          round(col("n_both").cast("double") / col("n_exact"), 6))
          .as("recall_vs_exact"))
  }

  /** Edit-distance-verified near-duplicate pairs: the
    * [[minhashLshPairs]] candidates (LSH banding + exact shingle
    * Jaccard at a permissive `tau`) confirmed by character-level
    * Levenshtein distance ≤ `maxDistFrac` × max(len) — the "exact
    * verification" stage of production fuzzy dedup, which catches the
    * shingle-level false positives Jaccard alone admits (heavy shared
    * vocabulary but different ordering/structure).
    *
    * Scale shape: Levenshtein is O(|a|·|b|) per pair, so it must never
    * see the corpus — it runs only on the already-banded,
    * Jaccard-passed pair list, with the two text lookups joined by id
    * (the pair side is small by construction and broadcasts). For
    * hostile length distributions, Spark's thresholded
    * `levenshtein(l, r, limit)` bounds the DP at O(limit·len) per
    * pair; the plain form is used here because the oracle replays it
    * verbatim. Both engines implement the standard DP over characters
    * of the same lower(trim(text)) normalization, so distances match
    * exactly.
    */
  def editVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 32, bands: Int = 8, k: Int = 8,
                        tau: Double = 0.3,
                        maxDistFrac: Double = 0.3): DataFrame = {
    require(maxDistFrac > 0.0 && maxDistFrac < 1.0,
      s"maxDistFrac must be in (0,1), got $maxDistFrac")
    val pairs = minhashLshPairs(df, idCol, textCol, numHashes, bands, k, tau)
    val t = df.select(col(idCol).as("__eid"),
      lower(trim(col(textCol))).as("__etxt"))
    pairs
      .join(t.select(col("__eid").as("id1"), col("__etxt").as("t1")),
        Seq("id1"))
      .join(t.select(col("__eid").as("id2"), col("__etxt").as("t2")),
        Seq("id2"))
      .withColumn("edit_dist", levenshtein(col("t1"), col("t2")))
      .withColumn("max_len",
        greatest(length(col("t1")), length(col("t2"))))
      .filter(col("edit_dist") <= lit(maxDistFrac) * col("max_len"))
      .select(col("id1"), col("id2"), col("jaccard"), col("edit_dist"),
        col("max_len"))
  }

  /** Jaro–Winkler-verified near-duplicate pairs — the same
    * LSH-candidates-then-exact-verify shape as [[editVerifiedPairs]],
    * with the verification metric swapped for the native
    * `jaro_winkler` expression ([[graft.functions.JaroWinkler]]): JW
    * is O(len·window) per pair vs Levenshtein's O(len²), and its
    * prefix boost matches how near-dup web documents actually differ
    * (shared head, divergent tail — boilerplate edits, truncation).
    * Pairs keep when the 6dp-ROUNDED similarity ≥ `minSim` (both
    * engines compare the rounded value, so no verdict sits on an ulp).
    *
    * Scale shape: the quadratic-ish kernel only ever runs on the
    * banded, Jaccard-passed candidate list; the corpus is touched by
    * the shingle/signature stages alone.
    */
  def jwVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 32, bands: Int = 8, k: Int = 8,
                      tau: Double = 0.3,
                      minSim: Double = 0.9): DataFrame = {
    require(minSim > 0.0 && minSim < 1.0,
      s"minSim must be in (0,1), got $minSim")
    import org.apache.spark.sql.functions.call_function
    val pairs = minhashLshPairs(df, idCol, textCol, numHashes, bands, k, tau)
    val t = df.select(col(idCol).as("__jid"),
      lower(trim(col(textCol))).as("__jtxt"))
    pairs
      .join(t.select(col("__jid").as("id1"), col("__jtxt").as("t1")),
        Seq("id1"))
      .join(t.select(col("__jid").as("id2"), col("__jtxt").as("t2")),
        Seq("id2"))
      .withColumn("jw", round(call_function("jaro_winkler",
        col("t1"), col("t2")), 6))
      .filter(col("jw") >= minSim)
      .select(col("id1"), col("id2"), col("jaccard"), col("jw"))
  }

  /** Connected components over an undirected pair graph — the step after
    * candidate-pair generation in a dedup pipeline: near-dup PAIRS become
    * duplicate CLUSTERS, each labeled by its minimum member id (the
    * canonical document to keep).
    *
    * Iterative min-label propagation with pointer jumping: each round
    * every node takes `min(own label, neighbors' labels, label of its
    * current label)`. The pointer-jumping term contracts chains
    * geometrically, so rounds are O(log diameter) rather than
    * O(diameter) — the published large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond")
    * shape, expressed as DataFrame joins. Each round is two hash joins +
    * one aggregation on (id, label) pairs only — edge payloads never
    * travel — and `localCheckpoint` truncates the growing lineage so
    * plan size stays constant across iterations. Dedup components are
    * overwhelmingly tiny (dup groups), so 3-4 rounds converge even at
    * corpus scale; convergence is detected exactly (no changed label).
    *
    * `edges` needs columns (`id1`, `id2`); `nodes` one `id` column (ids
    * absent from any edge become singleton clusters of themselves).
    * Returns (`id`, `cluster`).
    */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
                          maxIter: Int = 50): DataFrame = {
    // localCheckpoint, not cache: the edge list's lineage is the whole
    // upstream pair pipeline, and every iteration would re-ANALYZE that
    // deep plan in each of its two joins (measured as seconds of pure
    // driver/optimizer time per round on a composed query); the eager
    // checkpoint truncates it once
    val adj = edges.select(col("id1").as("id"), col("id2").as("nbr"))
      .unionAll(edges.select(col("id2").as("id"), col("id1").as("nbr")))
      .distinct().localCheckpoint()
    var labels = nodes.select(col("id"), col("id").as("cluster"))
      .distinct().localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val nbrMin = adj
        .join(labels.select(col("id").as("nbr"), col("cluster").as("nlbl")),
          Seq("nbr"))
        .groupBy("id").agg(min(col("nlbl")).as("nbr_min"))
      // pointer jumping: label(label(x)) — labels only ever decrease, so
      // this hops straight toward the component minimum
      val jump = labels
        .join(labels.select(col("id").as("cluster"), col("cluster").as("jlbl")),
          Seq("cluster"))
        .select(col("id"), col("jlbl"))
      val stepped = labels
        .join(nbrMin, Seq("id"), "left")
        .join(jump, Seq("id"), "left")
        .select(col("id"), col("cluster"),
          least(col("cluster"),
            coalesce(col("nbr_min"), col("cluster")),
            coalesce(col("jlbl"), col("cluster"))).as("next"))
        .localCheckpoint()
      converged = stepped.filter(col("next") < col("cluster")).isEmpty
      labels = stepped.select(col("id"), col("next").as("cluster"))
      iter += 1
    }
    labels
  }

  /** Jaccard near-dup clusters over a document table: every document
    * labeled with the minimum doc id of its near-dup component (itself
    * when it has no near-dups). Composes [[jaccardPairs]] →
    * [[connectedComponents]].
    */
  def jaccardClusters(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 8, dfCap: Long = 20, tau: Double = 0.3): DataFrame = {
    val pairs = jaccardPairs(df, idCol, textCol, k, dfCap, tau)
    connectedComponents(pairs.select("id1", "id2"),
      df.select(col(idCol).as("id")))
      .select(col("id").as(idCol), col("cluster"))
  }

  /** Leakage-safe train/val/test split: assign splits BY NEAR-DUP
    * CLUSTER, not by document, so a document and its near-duplicates
    * always land on the same side — the eval-integrity failure mode a
    * per-doc hash split cannot prevent (a train doc's near-dup in the
    * held-out split silently inflates eval scores; the published
    * decontamination literature treats this as seriously as exact
    * overlap). Composes [[jaccardClusters]] with the pinned md5 band
    * assignment (`Sampling.splitAssign`) keyed on the CLUSTER label
    * (the component's minimum doc id). Output per document:
    * (`idCol`, `cluster`, `split`, `naive_split`, `naive_leak`) where
    * `naive_split` is the per-doc assignment and `naive_leak` flags
    * the docs the cluster-aware split rescued (they would have been
    * separated from their cluster). Singletons and cluster
    * representatives hash the same key under both schemes, so
    * `naive_leak` is false there by construction — the flag isolates
    * exactly the non-representative members whose coin differs.
    *
    * Scale shape: the clustering is the cost ([[jaccardClusters]]'s
    * documented shape); both assignments are scan-side md5 CASEs, and
    * the naive-vs-cluster compare is one equi-join on the id. A doc's
    * split never migrates as the corpus grows unless its CLUSTER
    * membership changes — the same stability contract as the per-doc
    * split, lifted to components.
    */
  def clusterSafeSplit(df: DataFrame, idCol: String, textCol: String,
                       fractions: Seq[(String, Double)], k: Int = 8,
                       dfCap: Long = 20, tau: Double = 0.3,
                       salt: String = "split"): DataFrame = {
    val clusters = jaccardClusters(df, idCol, textCol, k, dfCap, tau)
    val assigned = Sampling.splitAssign(clusters, "cluster", fractions, salt)
    val naive = Sampling.splitAssign(df.select(col(idCol)), idCol,
        fractions, salt)
      .withColumnRenamed("split", "naive_split")
    assigned.join(naive, Seq(idCol))
      .select(col(idCol), col("cluster"), col("split"), col("naive_split"),
        (col("split") =!= col("naive_split")).as("naive_leak"))
  }

  /** 64-bit SimHash aggregator over token hashes: per bit, sum +-1 and
    * take the sign. A `TypedImperativeAggregate`-style Aggregator (one
    * pass, constant memory) — the idiomatic Spark form of a custom
    * sketch aggregate.
    */
  object SimHashAgg extends Aggregator[Long, Array[Int], Long] {
    override def zero: Array[Int] = new Array[Int](64)
    override def reduce(buf: Array[Int], h: Long): Array[Int] = {
      var b = 0
      while (b < 64) { buf(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1); b += 1 }
      buf
    }
    override def merge(x: Array[Int], y: Array[Int]): Array[Int] = {
      var b = 0
      while (b < 64) { x(b) += y(b); b += 1 }
      x
    }
    override def finish(buf: Array[Int]): Long = {
      var out = 0L
      var b = 0
      while (b < 64) { if (buf(b) > 0) out |= (1L << b); b += 1 }
      out
    }
    override def bufferEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Int]]()
    override def outputEncoder = org.apache.spark.sql.Encoders.scalaLong
  }

  private lazy val simhashUdaf = udaf(SimHashAgg)

  /** Per-document SimHash over whitespace tokens. The token hash is the
    * top 60 bits of md5 (15 hex chars -> always a non-negative Long):
    * md5 is bit-identical across engines, so a SQL oracle (DuckDB) can
    * reproduce signatures exactly — xxhash64 would tie the result to
    * Spark's implementation. Signature bits 60-63 are constantly 0
    * (every token hash has them clear, so the +-1 sum is -count);
    * a 60-bit SimHash loses nothing at near-dup Hamming radii.
    */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .select(col("id"),
        conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy(col("id")).agg(simhashUdaf(col("h")).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance <= maxDist, blocked on
    * maxDist+1 signature chunks: by pigeonhole a pair within distance d
    * must agree exactly on at least one of d+1 disjoint chunks, so
    * blocking is lossless for the requested radius.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist < 32, "need >= 2 bits per chunk")
    val numChunks = maxDist + 1
    val base = 64 / numChunks
    val rem = 64 % numChunks
    // chunk c covers [off, off+width) with widths differing by <= 1
    val bounds = (0 until numChunks).map { c =>
      val off = c * base + math.min(c, rem)
      val width = base + (if (c < rem) 1 else 0)
      (c, off, width)
    }
    val sigs = simhashSignatures(df, idCol, textCol)
    val chunkStructs = array(bounds.map { case (c, off, width) =>
      struct(lit(c).as("chunk"),
        shiftrightunsigned(col("simhash"), off)
          .bitwiseAND(lit((1L << width) - 1)).as("key"))
    }: _*)
    // materialized: the self-join's two map stages race on a lazy cache
    // and would each recompute the signature aggregation
    val chunks = graft.data.ScopedCaches.materialize(sigs
      .select(col("id"), col("simhash"), explode(chunkStructs).as("e"))
      .select(col("e.chunk").as("chunk"), col("e.key").as("key"),
        col("id"), col("simhash")))
    val cand = chunks.toDF("chunk", "key", "id1", "sh1")
      .join(chunks.toDF("chunk", "key", "id2", "sh2"), Seq("chunk", "key"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2", "sh1", "sh2").distinct()
    cand
      .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))))
      .filter(col("hamming") <= maxDist)
      .select("id1", "id2", "hamming")
  }

  /** SemDeDup-style semantic dedup over an embedding column (Abbas et
    * al. 2023, arXiv:2303.09540): items are pre-bucketed into semantic
    * clusters (`clusterCol` — a class label, KMeans/IVF cell, or any
    * coarse partition), and within each cluster an item is a duplicate
    * iff some LOWER-id item of the same cluster has cosine >= tau.
    * That lowest-id-survives rule is exactly the paper's released
    * upper-triangular implementation (mark j duplicate when any i<j
    * exceeds tau) — no transitive closure, so the result is
    * deterministic and SQL-reproducible. Output one row per input id:
    * (`id`, `cluster`, `kept`, `dup_of`) with `dup_of` the smallest
    * such earlier id (null for survivors).
    *
    * Scale shape: one shuffle on the cluster key; the self-join is
    * quadratic in CLUSTER size, never corpus size — the clustering
    * prefilter is the blocking stage, the same role LSH bands play for
    * [[minhashLshPairs]]. SemDeDup sizes k so n/k stays ~10^4-10^5; a
    * hot cluster means re-cluster with larger k (or fall back to
    * [[Similarity.lshCosinePairs]] inside that cluster), not a wider
    * join. Use [[semanticDedupKMeans]] when no precomputed cluster id
    * exists.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    clusterCol: String, tau: Double): DataFrame = {
    val v = df.select(col(clusterCol).cast("long").as("cluster"),
      col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val dups = v.toDF("cluster", "id1", "v1")
      .join(v.toDF("cluster", "id2", "v2"), Seq("cluster"))
      .filter(col("id1") < col("id2") &&
        round(Similarity.cosine(col("v1"), col("v2")), 6) >= tau)
      .groupBy(col("id2").as("id"))
      .agg(min(col("id1")).as("dup_of"))
    v.select("cluster", "id").join(dups, Seq("id"), "left")
      .select(col("id"), col("cluster"),
        col("dup_of").isNull.as("kept"), col("dup_of"))
  }

  /** Corpus-wide duplicate-LINE removal (the C4 pipeline's span dedup
    * at line granularity, as used by RefinedWeb/CCNet boilerplate
    * passes): any line whose trimmed length is >= `minLen` survives
    * only at its first occurrence in the corpus — ordered by
    * (doc id, line position) — and is dropped everywhere else.
    * Shorter lines (blank separators, headings, markup stubs) are
    * never deduplicated. Output one row per input document:
    * (`id`, `text_dedup` — the document rebuilt from its surviving
    * lines in order, `n_lines`, `n_removed`).
    *
    * Scale shape: lines shuffle once on a 128-bit md5 line
    * fingerprint (never on the raw line text); first-occurrence
    * ownership is a map-side-combinable `min(struct(id, pos))`
    * aggregation, not a window over a global order; the rebuild is
    * one groupBy on the document id. Three shuffles total, all on
    * keys that partition evenly (line fp, doc id).
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                minLen: Int = 8): DataFrame = {
    val lines = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("elig", length(trim(col("line"))) >= minLen)
      .withColumn("fp", md5(col("line")))
    // every occurrence of a given fp has identical text, hence
    // identical eligibility — owners computed over eligible lines only
    val owner = lines.filter(col("elig"))
      .groupBy(col("fp"))
      .agg(min(struct(col("id"), col("pos"))).as("own"))
    lines.join(owner, Seq("fp"), "left")
      .withColumn("keep", !col("elig") ||
        (col("own.id") === col("id") && col("own.pos") === col("pos")))
      .groupBy(col("id").as(idCol))
      .agg(
        coalesce(array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("pos"), col("line"))))),
          x => x.getField("line")), "\n"), lit("")).as("text_dedup"),
        count(lit(1)).as("n_lines"),
        (count(lit(1)) - count(when(col("keep"), lit(1)))).as("n_removed"))
  }

  /** Duplicated-span statistics — the corpus-level signal behind
    * substring-level training-data dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499, which removes repeated >= 50-token substrings
    * found via a suffix array). The distributed form: every k-token
    * span (whitespace tokens, one span per starting position) is
    * fingerprinted, and a span is DUPLICATED iff its fingerprint
    * occurs >= 2 times corpus-wide (across documents or repeated
    * within one). Output one row per document: (`id`, `n_spans`,
    * `dup_spans` — starting positions whose span is duplicated,
    * `dup_frac` rounded to 6dp; documents shorter than k tokens have
    * zero spans and frac 0.0).
    *
    * Scale shape: spans explode scan-side (slice + array_join inside
    * codegen), shuffle once on the 128-bit span fingerprint for the
    * occurrence count, and once on the doc id for the rollup — the
    * suffix array's role is played by the fingerprint shuffle, which
    * is how the check distributes to 100 TB (a suffix array does not).
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 12): DataFrame = {
    val base = df.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    val spans = base
      .select(col("id"), col("toks"),
        explode(when(size(col("toks")) >= k,
          sequence(lit(1), size(col("toks")) - (k - 1)))
          .otherwise(array())).as("i"))
      .select(col("id"),
        md5(array_join(slice(col("toks"), col("i"), lit(k)), " ")).as("fp"))
    val occ = spans.groupBy(col("fp")).agg(count(lit(1)).as("occ"))
    val perDoc = spans.join(occ, Seq("fp"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        count(when(col("occ") >= 2, lit(1))).as("dup_spans"))
    df.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        round(coalesce(col("dup_spans") / col("n_spans"), lit(0.0)), 6)
          .as("dup_frac"))
  }

  /** Substring-level dedup TRANSFORM — the removal half of Lee et al.
    * 2022 (arXiv:2107.06499), to [[dupSpanStats]]'s measurement half.
    * The precise rule: a token is dropped iff it is covered by at least
    * one NON-OWNER duplicated k-span occurrence, where each duplicated
    * span's owner is its first occurrence by (doc id, position). Note an
    * owner occurrence's tokens can still be dropped when a non-owner
    * occurrence of a DIFFERENT duplicated span overlaps them — first
    * occurrences are not guaranteed to survive intact.
    * Documents are rebuilt from their surviving (lowercased) tokens in
    * order; docs shorter than k tokens pass through untouched (their
    * rebuilt text is still the lowercased token join, so the transform
    * is uniform). Output: (`id`, `text_span_dedup`, `n_tokens`,
    * `n_removed_tokens`).
    *
    * Scale shape: the suffix-array stages of the paper become three
    * linear shuffles — span fingerprints for occurrence counts +
    * first-occurrence ownership (one map-side-combinable aggregation),
    * covered-position explode (k rows per duplicated occurrence, and
    * ONLY for duplicated occurrences — the non-duplicated bulk of the
    * corpus never expands), doc id for the rebuild. No global order,
    * no per-doc scan of anything but its own tokens.
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                k: Int = 12): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    val spans = toks
      .select(col("id"), col("toks"),
        explode(when(size(col("toks")) >= k,
          sequence(lit(1), size(col("toks")) - (k - 1)))
          .otherwise(array())).as("i"))
      .select(col("id"), col("i"),
        md5(array_join(slice(col("toks"), col("i"), lit(k)), " ")).as("fp"))
    val occ = spans.groupBy(col("fp"))
      .agg(count(lit(1)).as("occ"),
        min(struct(col("id"), col("i"))).as("own"))
      .filter(col("occ") >= 2)
    val drops = spans.join(occ, Seq("fp"))
      .filter(!(col("own.id") === col("id") && col("own.i") === col("i")))
      .select(col("id"), explode(sequence(col("i"), col("i") + (k - 1))).as("p"))
      .distinct()
    val tokens = toks
      .select(col("id"), posexplode(col("toks")).as(Seq("p0", "tok")))
      .select(col("id"), (col("p0") + 1).as("p"), col("tok"))
    val rebuilt = tokens.join(drops, Seq("id", "p"), "left_anti")
      .groupBy(col("id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("p"), col("tok")))),
        x => x.getField("tok")), " ").as("text_span_dedup"),
        count(lit(1)).as("n_kept"))
    val counts = toks.select(col("id"), size(col("toks")).cast("long").as("n_tokens"))
    counts.join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("text_span_dedup"), lit("")).as("text_span_dedup"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed_tokens"))
  }

  /** The full SemDeDup composition for corpora with no precomputed
    * cluster column: coarse KMeans cells (sample-fit, same discipline
    * as [[Similarity.ivfTopK]]'s quantizer) feed [[semanticDedup]] as
    * the blocking stage. Not SQL-reproducible (KMeans); gate is the
    * OpsSpec invariant suite + rows.
    *
    * `numCells = 0` (the default) derives the cell count from the
    * corpus: ceil(n / targetCellSize), min 16. This is the load-bearing
    * scale knob — the within-cell stage is quadratic in CELL size, so
    * the cell count must grow with the corpus to hold per-cell cost
    * constant (SemDeDup runs ~100k cells for billions of docs). A
    * FIXED blocking partition — like a class-label column whose
    * cardinality doesn't grow with the data — degrades quadratically
    * and is only appropriate while groups stay bounded.
    */
  def semanticDedupKMeans(df: DataFrame, idCol: String, vecCol: String,
                          tau: Double, numCells: Int = 0,
                          targetCellSize: Int = 4096,
                          maxTrainRows: Long = 100000): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val v = graft.data.ScopedCaches.track(
      df.select(col(idCol).as("id"), col(vecCol).as("v"),
        array_to_vector(Similarity.normalized(col(vecCol)))
          .as("features")))
    val corpusN = v.count()
    val k =
      if (numCells > 0) numCells
      else math.max(16L, (corpusN + targetCellSize - 1) / targetCellSize)
        .min(Int.MaxValue).toInt
    val train =
      if (corpusN <= maxTrainRows) v
      else v.sample(withReplacement = false,
        maxTrainRows.toDouble / corpusN, seed = 42)
    val model = new KMeans().setK(k).setSeed(42).setMaxIter(10)
      .fit(train.select("features"))
    semanticDedup(model.transform(v)
      .select(col("id"), col("v"), col("prediction").as("cell")),
      "id", "v", "cell", tau)
  }

  /** Dictionary-level fuzzy matching (record-linkage blocking): near-
    * duplicate VALUES of a categorical column — misspelled brands,
    * variant entity names — found by token blocking + edit-distance
    * verification. Complements [[editVerifiedPairs]] (documents via LSH
    * candidates): here the join runs over the DISTINCT-value dictionary,
    * which is domain-sized at any corpus scale, with per-value support
    * counts carried from one combinable pre-aggregate over the data.
    *
    * Blocking: each value files under its FIRST and its LAST
    * whitespace token; candidates share at least one block, so a typo
    * confined to either token is always caught. Pairs differing in
    * BOTH tokens are out of reach — the standard blocking recall
    * trade-off, pinned by the spec. Within-block work is quadratic in
    * the BLOCK size (dictionary values per token), never in rows.
    * Returns (`name1`, `name2`, `support1`, `support2`, `dist`) with
    * `name1 < name2`, `dist` ≤ `maxDist`.
    */
  /** Exact-substring overlap between document pairs (the
    * RefinedWeb/Gopher dedup criterion): the longest run of
    * consecutive tokens two documents share, found as maximal ALIGNED
    * runs of matching `w`-token grams — positions (pa, pb) matching at
    * constant offset pb−pa and consecutive in pa form one run of
    * `len + w − 1` tokens. Jaccard-style set overlap
    * ([[jaccardClusters]]) can't see this: a doc quoting one long
    * passage from another shares few distinct shingles but has a
    * 100-token exact run — the plagiarism/quotation/mirror signal, and
    * the criterion substring-level corpus dedup removes on.
    *
    * Candidate generation is the inverted-index discipline of the
    * file's other ops: positional `w`-gram postings, stop-grams with
    * document frequency > `maxDf` dropped (bounding any posting list,
    * so the gram join is a shuffle on small keys, never quadratic in a
    * hot gram), pairs formed only on shared grams. The island step
    * (run = consecutive pa at fixed (pair, offset)) is a window
    * PARTITIONED by (pair, offset) — per-candidate-pair state, never a
    * global sort. Returns one row per pair with `longest_run` (tokens,
    * ≥ `minRunTokens`), `n_runs` (maximal runs ≥ threshold), and
    * `aligned_grams` (total matching positions across all offsets).
    *
    * A true cross-engine caveat, accepted and documented: a gram
    * repeated INSIDE a document yields one posting per position, so a
    * doc-internal repeat matched by the partner at several offsets
    * contributes to several (offset) islands — aligned_grams counts
    * (pa, pb) pairs, not distinct pa.
    */
  def substringRuns(df: DataFrame, idCol: String, textCol: String,
                    w: Int, minRunTokens: Int, maxDf: Int): DataFrame = {
    require(w >= 2, s"need w >= 2, got $w")
    require(minRunTokens >= w,
      s"minRunTokens ($minRunTokens) must be >= w ($w)")
    require(maxDf >= 2, s"need maxDf >= 2, got $maxDf")
    val toks = split(lower(trim(col(textCol))), "\\s+")
    // positional postings formed scan-side: one tokenize, slices via
    // transform over the position sequence, then ONE posexplode
    val post = df.select(col(idCol).as("id"), toks.as("__t"))
      .filter(size(col("__t")) >= w)
      .select(col("id"), posexplode(transform(
        sequence(lit(1), size(col("__t")) - (w - 1)),
        i => array_join(slice(col("__t"), i, lit(w)), " ")))
        .as(Seq("pos", "gram")))
    val postC = graft.data.ScopedCaches.track(post)
    val stop = postC.groupBy(col("gram"))
      .agg(count_distinct(col("id")).as("__df"))
      .filter(col("__df") > maxDf).select(col("gram"))
    val live = postC.join(broadcast(stop), Seq("gram"), "left_anti")
    val cand = live.select(col("gram"), col("id").as("id1"),
        col("pos").as("pa"))
      .join(live.select(col("gram"), col("id").as("id2"),
        col("pos").as("pb")), Seq("gram"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("pa"), col("pb"),
        (col("pb") - col("pa")).as("delta"))
    val wi = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id1"), col("id2"), col("delta"))
      .orderBy(col("pa"))
    val runs = cand
      .withColumn("__isl", col("pa") - row_number().over(wi))
      .groupBy(col("id1"), col("id2"), col("delta"), col("__isl"))
      .agg(count(lit(1)).as("__len"))
      .select(col("id1"), col("id2"),
        (col("__len") + (w - 1)).as("run_tokens"))
    runs.groupBy(col("id1"), col("id2"))
      .agg(max(col("run_tokens")).as("longest_run"),
        sum(when(col("run_tokens") >= minRunTokens, 1L).otherwise(0L))
          .as("n_runs"),
        sum(col("run_tokens") - (w - 1)).as("aligned_grams"))
      .filter(col("longest_run") >= minRunTokens)
  }

  /** Sorted-neighborhood record-linkage blocking (Hernández-Stolfo):
    * sort the distinct-value dictionary by the value itself and
    * compare each entry only to its `window − 1` successors, then
    * verify with edit distance. The classic complement of
    * [[fuzzyBlockedPairs]]' token blocking: token blocks catch typos
    * inside a shared token, the sorted window catches variants that
    * SORT together (shared prefixes, serial-number neighbors) even
    * when no whole token matches — run both, union the candidates.
    *
    * Scale shape: the rank and the window self-join run over the
    * DISTINCT-value dictionary (domain-sized at any corpus scale; the
    * global sort is bounded by the dictionary, not rows — at extreme
    * dictionary sizes swap in a range-partitioned sort, plumbing
    * unchanged). Candidates are |dict| × (window−1) — linear, the
    * whole point of the method vs the quadratic naive join. Returns
    * (`name1`, `name2`, `support1`, `support2`, `rank_gap`, `dist`)
    * with `name1` sorting before `name2` and `dist` ≤ `maxDist`.
    */
  def sortedNeighborhoodPairs(df: DataFrame, nameCol: String,
                              window: Int, maxDist: Int): DataFrame = {
    require(window >= 2, s"need window >= 2, got $window")
    require(maxDist >= 1, s"need maxDist >= 1, got $maxDist")
    val dict = df.groupBy(col(nameCol).as("name"))
      .agg(count(lit(1)).as("support"))
    val ranked = graft.data.ScopedCaches.track(
      dict.withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("name")))))
    val r1 = ranked.toDF("name1", "support1", "rn1")
    val r2 = ranked.toDF("name2", "support2", "rn2")
    // each entry probes its window-1 successors by EXACT rank — an
    // exploded-offset equi-join, hash/merge-joinable and linear in
    // |dict|×window. (The equivalent rn1 < rn2 <= rn1+w-1 range
    // predicate is a non-equi join Spark can only nested-loop:
    // measured 577 s vs ~1 s on a 15k-name dictionary.)
    val probes = r1.select(col("name1"), col("support1"), col("rn1"),
        explode(array((1 until window).map(lit): _*)).as("rank_gap"))
      .withColumn("rn2", col("rn1") + col("rank_gap"))
    probes.join(r2, "rn2")
      .withColumn("dist", levenshtein(col("name1"), col("name2")))
      .filter(col("dist") <= maxDist)
      .select(col("name1"), col("name2"), col("support1"),
        col("support2"), col("rank_gap"), col("dist"))
  }

  def fuzzyBlockedPairs(df: DataFrame, nameCol: String,
                        maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"need maxDist >= 1, got $maxDist")
    val dict = df.groupBy(col(nameCol).as("name"))
      .agg(count(lit(1)).as("support"))
    val keyed = dict.select(col("name"), col("support"),
      explode(array(
        concat(lit("F"), split(col("name"), " ").getItem(0)),
        concat(lit("L"), element_at(split(col("name"), " "), -1))))
        .as("bkey"))
    val k1 = keyed.toDF("name1", "support1", "bkey")
    val k2 = keyed.toDF("name2", "support2", "bkey2")
    k1.join(k2, col("bkey") === col("bkey2") && col("name1") < col("name2"))
      .select("name1", "name2", "support1", "support2")
      .distinct()
      .withColumn("dist", levenshtein(col("name1"), col("name2")))
      .filter(col("dist") <= maxDist)
  }

  /** [[fuzzyBlockedPairs]] with the UNRESTRICTED Damerau–Levenshtein
    * metric (native [[graft.functions.DamerauLevenshtein]]): adjacent
    * transpositions — THE dominant human typo class (Damerau 1964
    * measured >80% of misspellings as single insert/delete/substitute/
    * transpose) — cost 1 edit instead of plain Levenshtein's 2, so a
    * budget of `maxDist` catches swapped-letter variants that the
    * Levenshtein version has to either miss or buy with a looser (and
    * noisier) threshold. Emits BOTH distances, so the pairs where they
    * disagree are exactly the transposition typos.
    *
    * Same dictionary-bounded blocking and scale shape as the
    * Levenshtein form; the O(len²)-space kernel only ever sees the
    * blocked dictionary pairs.
    */
  def damerauBlockedPairs(df: DataFrame, nameCol: String,
                          maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"need maxDist >= 1, got $maxDist")
    import org.apache.spark.sql.functions.call_function
    val dict = df.groupBy(col(nameCol).as("name"))
      .agg(count(lit(1)).as("support"))
    val keyed = dict.select(col("name"), col("support"),
      explode(array(
        concat(lit("F"), split(col("name"), " ").getItem(0)),
        concat(lit("L"), element_at(split(col("name"), " "), -1))))
        .as("bkey"))
    val k1 = keyed.toDF("name1", "support1", "bkey")
    val k2 = keyed.toDF("name2", "support2", "bkey2")
    k1.join(k2, col("bkey") === col("bkey2") && col("name1") < col("name2"))
      .select("name1", "name2", "support1", "support2")
      .distinct()
      .withColumn("dist_dl", call_function("damerau_levenshtein",
        col("name1"), col("name2")))
      .withColumn("dist_lev", levenshtein(col("name1"), col("name2")))
      .filter(col("dist_dl") <= maxDist)
  }
}
