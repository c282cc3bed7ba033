package graft.queries

import graft.Tables
import graft.core.AttrSet
import graft.data.Ingest
import graft.entropy.EntropyEngine
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational-core operator queries (SURVEY.md §2.1-§2.4): aggregation,
  * distinct projection/dedup, dictionary encoding, equijoins, and the
  * entropy primitive, each with a DuckDB oracle.
  */
object CoreQueries {

  /** A1/A2: hash group-count + aggregate — the flagship scan shape. */
  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))

  private val q1Sql =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
      |  round(avg(l_discount), 6) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** J3-style multi-table equijoin + aggregation. Only the genuinely
    * dimensional side (filtered customers) carries a broadcast hint;
    * orders and lineitem are fact-sized at scale, so their join is left
    * to Catalyst/AQE (shuffle join at 100 TB, auto-broadcast at test SF).
    */
  private def q3Join(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    l.join(o.join(broadcast(c), o("o_custkey") === c("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("cnt"))
  }

  private val q3Sql =
    """SELECT o_orderpriority,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |  count(*) AS cnt
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND o_custkey = c_custkey
      |  AND l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** Six-table equijoin pipeline (TPC-H Q5 shape): revenue by nation for
    * orders where customer and supplier share the nation — exercises the
    * full dimension chain with broadcast dims over the lineitem fact.
    */
  private def q5Join(s: SparkSession, dir: String): DataFrame = {
    val dims = Tables.customer(s, dir)
      .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
    val supp = Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    Tables.lineitem(s, dir)
      // orders is fact-sized: no broadcast hint, Catalyst/AQE decides
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(dims), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"), count(lit(1)).as("cnt"))
  }

  /** Multi-level aggregate (ROLLUP): revenue at (region, nation),
    * per-region subtotal, and grand total in ONE pass — Catalyst's
    * Expand feeds all three grouping sets from a single scan+shuffle
    * instead of three jobs (the same machinery the entropy engine
    * batches subsets with). NULL group keys mark subtotal rows.
    */
  private def qRollup(s: SparkSession, dir: String): DataFrame = {
    val dims = Tables.customer(s, dir)
      .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name"), col("r_name"))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(dims), col("o_custkey") === col("c_custkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"), count(lit(1)).as("cnt"))
  }

  private val qRollupSql =
    """SELECT r_name, n_name,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |  count(*) AS cnt
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)""".stripMargin

  private val q5Sql =
    """SELECT r_name, n_name,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |  count(*) AS cnt
      |FROM lineitem, orders, customer, nation, region, supplier
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |GROUP BY r_name, n_name""".stripMargin

  /** P2: distinct projection ("cluster table"). */
  private def p2Distinct(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select("o_orderstatus", "o_orderpriority").distinct()

  private val p2Sql =
    "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"

  /** P4: whole-row dedup + count (decomposition-path row count). */
  private def p4DistinctCount(s: SparkSession, dir: String): DataFrame = {
    val n = Ingest.distinctCount(Tables.lineitem(s, dir))
    scalarLong(s, "cnt", n)
  }

  private val p4Sql =
    "SELECT count(*) AS cnt FROM (SELECT DISTINCT * FROM lineitem) t"

  /** S5: deterministic per-column dictionary encoding (value -> code). */
  private def s5Dict(s: SparkSession, dir: String): DataFrame = {
    val rel = Ingest.relationOf(Tables.orders(s, dir), Seq("o_orderpriority"))
    Ingest.dictionary(rel, "att0")
  }

  private val s5Sql =
    """SELECT o_orderpriority AS value,
      |  CAST(dense_rank() OVER (ORDER BY o_orderpriority) - 1 AS INT) AS code
      |FROM (SELECT DISTINCT o_orderpriority FROM orders) t""".stripMargin

  /** S5b: encoded-relation round trip — group counts on encoded codes
    * must equal group counts on raw values.
    */
  private def s5Encoded(s: SparkSession, dir: String): DataFrame = {
    val rel = Ingest.relationOf(Tables.orders(s, dir),
      Seq("o_orderstatus", "o_orderpriority"))
    Ingest.encode(rel).groupBy(col("att0"), col("att1"))
      .agg(count(lit(1)).as("cnt"))
  }

  private val s5EncodedSql =
    """SELECT
      |  CAST(dense_rank() OVER (ORDER BY o_orderstatus) - 1 AS INT) AS att0,
      |  CAST(dense_rank() OVER (ORDER BY o_orderpriority) - 1 AS INT) AS att1,
      |  cnt
      |FROM (SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
      |      FROM orders GROUP BY o_orderstatus, o_orderpriority) t""".stripMargin

  /** Shared 3-col lineitem projection for the entropy-surface queries,
    * cached. Spark's CacheManager matches cache entries by analyzed plan,
    * so every query that builds this identical projection shares ONE
    * in-memory copy — without it, `fd_measure`/`mvd_measure` re-scanned
    * parquet once per subset entropy plus once for the row count (the
    * reproducible r2/r3 bench regression).
    */
  private def liProj(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select("l_returnflag", "l_linestatus", "l_quantity").cache()

  /** A2: single-subset entropy. */
  private def entSingle(s: SparkSession, dir: String): DataFrame = {
    val eng = new EntropyEngine(liProj(s, dir))
    scalarDouble(s, "entropy", eng.entropy(AttrSet(0)))
  }

  private val entSingleSql =
    s"SELECT round(${Sql.entropyExpr("lineitem", Seq("l_returnflag"))}, 6) AS entropy"

  /** A3: multi-subset shared-scan entropies via GROUPING SETS. The
    * projection keeps a 4th column so no queried subset is the full
    * attribute set (whose entropy the engine defines as log2 N, the
    * reference's total-entropy convention, not the data entropy).
    */
  private def entMulti(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select("l_returnflag", "l_linestatus", "l_quantity", "l_discount")
      .cache()
    val eng = new EntropyEngine(li)
    val subsets = Seq(
      "rf" -> AttrSet(0), "ls" -> AttrSet(1), "qty" -> AttrSet(2),
      "rf_ls" -> AttrSet(0, 1), "rf_qty" -> AttrSet(0, 2),
      "ls_qty" -> AttrSet(1, 2), "rf_ls_qty" -> AttrSet(0, 1, 2))
    val hs = eng.entropies(subsets.map(_._2))
    val rows = subsets.map { case (label, x) =>
      Row(label, math.rint(hs(x) * 1e6) / 1e6)
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("subset", StringType, nullable = false),
      StructField("entropy", DoubleType, nullable = false))))
  }

  private val entMultiSql = {
    val combos = Seq(
      "rf" -> Seq("l_returnflag"), "ls" -> Seq("l_linestatus"),
      "qty" -> Seq("l_quantity"),
      "rf_ls" -> Seq("l_returnflag", "l_linestatus"),
      "rf_qty" -> Seq("l_returnflag", "l_quantity"),
      "ls_qty" -> Seq("l_linestatus", "l_quantity"),
      "rf_ls_qty" -> Seq("l_returnflag", "l_linestatus", "l_quantity"))
    combos.map { case (label, cols) =>
      s"SELECT '$label' AS subset, round(${Sql.entropyExpr("lineitem", cols)}, 6) AS entropy"
    }.mkString("\nUNION ALL\n")
  }

  /** FD measure H(XY) - H(X) on the cached lineitem projection; both
    * subset entropies ride ONE GROUPING SETS scan via prefetch.
    */
  private def fdMeasure(s: SparkSession, dir: String): DataFrame = {
    val eng = new EntropyEngine(liProj(s, dir))
    eng.prefetch(Seq(AttrSet(0, 1), AttrSet(0)))
    scalarDouble(s, "measure", eng.fdMeasure(AttrSet(0), AttrSet(1)))
  }

  private val fdMeasureSql = {
    val hxy = Sql.entropyExpr("lineitem", Seq("l_returnflag", "l_linestatus"))
    val hx = Sql.entropyExpr("lineitem", Seq("l_returnflag"))
    s"SELECT round($hxy - $hx, 6) AS measure"
  }

  /** MVD measure H(XY) + H(R-Y) - H(R) - H(X) on the 3-col projection
    * (R = the projection, N = raw lineitem rows, H(R) = log2 N per the
    * reference's total-entropy convention).
    */
  private def mvdMeasure(s: SparkSession, dir: String): DataFrame = {
    val eng = new EntropyEngine(liProj(s, dir))
    eng.prefetch(Seq(AttrSet(0, 1), AttrSet(0, 2), AttrSet(0)))
    scalarDouble(s, "measure", eng.mvdMeasure(AttrSet(0), AttrSet(1)))
  }

  private val mvdMeasureSql = {
    val n = "(SELECT CAST(count(*) AS DOUBLE) FROM lineitem)"
    val hxy = Sql.entropyExpr("lineitem", Seq("l_returnflag", "l_linestatus"))
    val hxz = Sql.entropyExpr("lineitem", Seq("l_returnflag", "l_quantity"))
    val hx = Sql.entropyExpr("lineitem", Seq("l_returnflag"))
    s"SELECT round($hxy + $hxz - log2($n) - $hx, 6) AS measure"
  }

  /** As-of join: attribute every event to the user's most recent
    * signup at-or-before it (the point-in-time attribution shape:
    * "which session/campaign/snapshot was live when this row
    * happened"). Union-tag forward-fill — one shuffle, no range
    * explosion; oracle is DuckDB's native ASOF LEFT JOIN.
    */
  private def evAsofSignup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select("event_id", "user_id", "ts", "event_type")
    val anchors = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id").as("id"))
    graft.ops.AsofJoin.asofJoin(ev, anchors, "user_id", "ts",
      payloadCols = Seq("id", "ts"), prefix = "anchor_")
      .select(col("event_id"), col("user_id"),
        col("anchor_id").as("anchor_id"),
        (unix_micros(col("ts")) -
          unix_micros(col("anchor_ts"))).as("us_since_anchor"))
  }

  private val evAsofSignupSql =
    """WITH anchors AS (
      |  SELECT user_id, ts, max(event_id) AS anchor_id
      |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, a.anchor_id,
      |       epoch_us(e.ts) - epoch_us(a.ts) AS us_since_anchor
      |FROM events e ASOF LEFT JOIN anchors a
      |  ON e.user_id = a.user_id AND e.ts >= a.ts""".stripMargin

  /** Interval join: per signup anchor, how many events (and purchases)
    * the user produced in the 24 h strictly after it — the attribution-
    * window shape. Bucketed (key, ⌊ts/W⌋) equijoin via
    * [[graft.ops.IntervalJoin]]; zero-follow-up anchors are preserved
    * by the left join back onto the anchor set.
    */
  private def evFollowup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val anchors = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"), col("ts").as("a_ts"))
      .agg(max("event_id").as("anchor_id"))
    val pairs = graft.ops.IntervalJoin.intervalJoin(
      anchors.select("user_id", "a_ts", "anchor_id"),
      ev.select(col("user_id"), col("ts"), col("event_type").as("e_type")),
      "user_id", "a_ts", "ts", lengthMicros = 86400000000L)
    val counts = pairs.groupBy("anchor_id")
      .agg(count(lit(1)).as("n_follow"),
        count(when(col("e_type") === "purchase", 1)).as("n_purchase"))
    anchors.join(counts, Seq("anchor_id"), "left")
      .select(col("anchor_id"), col("user_id"),
        coalesce(col("n_follow"), lit(0L)).as("n_follow"),
        coalesce(col("n_purchase"), lit(0L)).as("n_purchase"))
  }

  private val evFollowupSql =
    """WITH anchors AS (
      |  SELECT user_id, ts, max(event_id) AS anchor_id
      |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
      |SELECT a.anchor_id, a.user_id,
      |       count(e.event_id) AS n_follow,
      |       count(CASE WHEN e.event_type = 'purchase' THEN 1 END) AS n_purchase
      |FROM anchors a LEFT JOIN events e
      |  ON e.user_id = a.user_id
      | AND epoch_us(e.ts) > epoch_us(a.ts)
      | AND epoch_us(e.ts) <= epoch_us(a.ts) + 86400000000
      |GROUP BY 1, 2""".stripMargin

  /** Streaming-shaped batch query: hourly tumbling-window counts over the
    * events table (same dataflow as readStream + window + agg).
    */
  private def evHourly(s: SparkSession, dir: String): DataFrame =
    // the ONE shared batch/stream definition (StreamOps documents the
    // parity contract) — never re-implement the window agg inline here
    graft.streaming.StreamOps.hourlyAgg(
      Tables.events(s, dir).select("ts", "event_type", "value"))

  private val evHourlySql =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      |  event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** A4/A5: the reference's sparse-count entropy (HAVING cnt>1; the
    * singletons' `1*log2(1)` term is 0) — the engine's one path must
    * equal it.
    */
  private def entSparse(s: SparkSession, dir: String): DataFrame = {
    val eng = new EntropyEngine(liProj(s, dir))
    scalarDouble(s, "entropy", eng.entropy(AttrSet(0, 1)))
  }

  private val entSparseSql = {
    val n = "(SELECT CAST(count(*) AS DOUBLE) FROM lineitem)"
    s"""SELECT round(log2($n) -
       |  (SELECT coalesce(sum(cnt * log2(cnt)), 0)
       |   FROM (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM lineitem
       |         GROUP BY l_returnflag, l_linestatus
       |         HAVING count(*) > 1) g) / $n, 6) AS entropy""".stripMargin
  }

  /** A6: composite-key hashing parity — group counts keyed by
    * sha256(concat of the subset's values), the reference's stored
    * artifact shape for multi-column group keys.
    */
  private def a6HashKeys(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(sha2(concat_ws("|", col("o_orderstatus"), col("o_orderpriority")), 256)
        .as("key_hash"))
      .agg(count(lit(1)).as("cnt"))

  private val a6Sql =
    """SELECT sha256(concat_ws('|', o_orderstatus, o_orderpriority)) AS key_hash,
      |       count(*) AS cnt
      |FROM orders GROUP BY 1""".stripMargin

  /** S1-S4: CSV ingest round trip — dump a projection to CSV, re-read it
    * through the engine's CSV path (trim + EMPTY sentinel + positional
    * att{i} naming), aggregate; must match the parquet-side counts.
    */
  private def s1CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = s"/tmp/graft_csv_${math.abs(dir.hashCode)}"
    Tables.orders(s, dir).select("o_orderstatus", "o_orderpriority")
      .write.mode("overwrite").option("header", "true").csv(tmp)
    Ingest.readCsv(s, tmp, hasHeader = true)
      .groupBy(col("att0"), col("att1")).agg(count(lit(1)).as("cnt"))
  }

  private val s1Sql =
    """SELECT o_orderstatus AS att0, o_orderpriority AS att1, count(*) AS cnt
      |FROM orders GROUP BY 1, 2""".stripMargin

  /** Sessionization (batch twin of the flatMapGroupsWithState streaming
    * op): per-user sessions split at >30 min idle.
    */
  private def evSessionize(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.sessionizeBatch(
      Tables.events(s, dir).select("user_id", "ts", "value"), gapMinutes = 30)

  private val evSessionizeSql =
    """WITH e AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
      |         WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1
      |         ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      |  SELECT *, sum(new_s) OVER
      |    (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM e)
      |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM s GROUP BY user_id, sid""".stripMargin

  /** Top revenue customer per nation — the per-group argmax WITHOUT a
    * window sort: revenue reduces per customer first (combinable), then
    * `max(struct(rev, custkey))` picks each nation's winner in one more
    * combinable aggregate. A `row_number() OVER (PARTITION BY nation
    * ORDER BY rev)` would sort every nation's full customer list; the
    * struct-max ships one candidate per partition per nation. The
    * struct compares (4dp revenue, custkey), a TOTAL order, so ties are
    * deterministic and any engine replays the winner.
    */
  private def qTopCustomerPerNation(s: SparkSession, dir: String): DataFrame = {
    // pre-aggregate revenue per orderkey BEFORE the orders join: the
    // partial sum is combinable and shrinks the join's big side by the
    // lines-per-order factor — the shuffle then moves orders, not lines
    val rev = Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1d) - col("l_discount"))).as("rev"))
      .groupBy(col("l_orderkey")).agg(sum(col("rev")).as("rev"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey")).agg(sum(col("rev")).as("rev"))
    rev
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(max(struct(round(col("rev"), 4).as("rev"),
        col("c_custkey").as("cust"))).as("top"))
      .select(col("n_name"), col("top.cust").as("c_custkey"),
        col("top.rev").as("revenue"))
  }

  private val qTopCustomerPerNationSql =
    """WITH r AS (SELECT o_custkey,
      |             sum(l_extendedprice * (1 - l_discount)) AS rev
      |           FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |           GROUP BY 1),
      |t AS (SELECT n_name, c_custkey, round(rev, 4) AS revenue,
      |        row_number() OVER (PARTITION BY n_name
      |          ORDER BY round(rev, 4) DESC, c_custkey DESC) AS rn
      |      FROM r JOIN customer ON c_custkey = o_custkey
      |             JOIN nation ON n_nationkey = c_nationkey)
      |SELECT n_name, c_custkey, revenue FROM t WHERE rn = 1""".stripMargin

  /** Z-order layout audit of orders clustered on (o_custkey, order
    * day): 16-bit codes interleaved to a 32-bit z-value, reported per
    * 256-bucket — the zone-map ranges a `OPTIMIZE ZORDER`-style rewrite
    * would give each file. See [[graft.ops.Layout.zorderBuckets]].
    */
  private def layoutZorderOrders(s: SparkSession, dir: String): DataFrame =
    graft.ops.Layout.zorderBuckets(Tables.orders(s, dir),
      col("o_custkey"),
      datediff(to_date(col("o_orderdate")), lit("1970-01-01")),
      bits = 16, bucketBits = 8)

  /** Shared oracle CTE chain ending at `bkt` = the z-order bucket
    * zone-map table of orders clustered on (o_custkey, order day) —
    * the same unrolled interleave arithmetic the Column expression
    * compiles to, emitted as SQL (xs odd bits, ys even).
    */
  private lazy val zorderCtes: String = {
    val interleave = (0 until 16).map { i =>
      s"(((xs >> $i) & 1) << ${2 * i + 1}) | (((ys >> $i) & 1) << ${2 * i})"
    }.mkString(" | ")
    s"""b AS (SELECT o_custkey AS x,
       |             datediff('day', DATE '1970-01-01',
       |                      CAST(o_orderdate AS DATE)) AS y
       |           FROM orders),
       |mm AS (SELECT min(x) AS xlo, max(x) AS xhi,
       |              min(y) AS ylo, max(y) AS yhi FROM b),
       |coded AS (SELECT x, y,
       |            CASE WHEN mm.xhi = mm.xlo THEN 0
       |                 ELSE ((x - mm.xlo) * 65535) // (mm.xhi - mm.xlo)
       |            END AS xs,
       |            CASE WHEN mm.yhi = mm.ylo THEN 0
       |                 ELSE ((y - mm.ylo) * 65535) // (mm.yhi - mm.ylo)
       |            END AS ys
       |          FROM b CROSS JOIN mm),
       |z AS (SELECT x, y, $interleave AS zv FROM coded),
       |bkt AS (SELECT zv >> 24 AS bucket, count(*) AS cnt,
       |          min(x) AS x_min, max(x) AS x_max,
       |          min(y) AS y_min, max(y) AS y_max
       |        FROM z GROUP BY 1)""".stripMargin
  }

  private lazy val layoutZorderOrdersSql =
    s"""WITH $zorderCtes
       |SELECT bucket, cnt, x_min, x_max, y_min, y_max FROM bkt""".stripMargin

  /** The probes both the Spark query and the oracle evaluate: a
    * customer band, one 1997 quarter, and a tight point-range on both
    * dimensions. Day numbers are epoch days (1997-01-01 = 9862).
    */
  private val prunedProbes = Seq(
    graft.ops.Layout.Probe("cust_band", 100L, 249L, 0L, 99999L),
    graft.ops.Layout.Probe("quarter_97", 0L, 999999999L, 9862L, 9951L),
    graft.ops.Layout.Probe("point_range", 700L, 799L, 9862L, 9890L))

  /** Zone-map pruning audit over the z-order buckets: per probe, the
    * buckets/rows a min/max-pruning reader touches — the measurement
    * that justifies a clustered rewrite before paying for it. See
    * [[graft.ops.Layout.pruneAudit]].
    */
  private def layoutPruneAudit(s: SparkSession, dir: String): DataFrame =
    graft.ops.Layout.pruneAudit(
      graft.ops.Layout.zorderBuckets(Tables.orders(s, dir),
        col("o_custkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")),
        bits = 16, bucketBits = 8),
      prunedProbes)

  private lazy val layoutPruneAuditSql = {
    val values = prunedProbes.map(p =>
      s"('${p.name}', ${p.xLo}, ${p.xHi}, ${p.yLo}, ${p.yHi})")
      .mkString(", ")
    s"""WITH $zorderCtes,
       |probes(name, xlo2, xhi2, ylo2, yhi2) AS (VALUES $values),
       |audit AS (
       |  SELECT p.name, count(*) AS n_buckets,
       |    CAST(sum(b2.cnt) AS BIGINT) AS rows_total,
       |    CAST(sum(CASE WHEN b2.x_min <= p.xhi2 AND b2.x_max >= p.xlo2
       |              AND b2.y_min <= p.yhi2 AND b2.y_max >= p.ylo2
       |             THEN 1 ELSE 0 END) AS BIGINT) AS scanned_buckets,
       |    CAST(sum(CASE WHEN b2.x_min <= p.xhi2 AND b2.x_max >= p.xlo2
       |              AND b2.y_min <= p.yhi2 AND b2.y_max >= p.ylo2
       |             THEN b2.cnt ELSE 0 END) AS BIGINT) AS scanned_rows
       |  FROM bkt b2 CROSS JOIN probes p GROUP BY 1)
       |SELECT name, n_buckets, scanned_buckets, rows_total, scanned_rows,
       |       CAST(round(scanned_rows * 1.0 / rows_total * 1000000.0)
       |         AS BIGINT) AS scan_ppm
       |FROM audit""".stripMargin
  }

  private[queries] def scalarDouble(s: SparkSession, name: String, v: Double): DataFrame =
    s.createDataFrame(
      java.util.Arrays.asList(Row(math.rint(v * 1e6) / 1e6)),
      StructType(Seq(StructField(name, DoubleType, nullable = false))))

  private[queries] def scalarLong(s: SparkSession, name: String, v: Long): DataFrame =
    s.createDataFrame(
      java.util.Arrays.asList(Row(v)),
      StructType(Seq(StructField(name, LongType, nullable = false))))

  /** Pareto frontier of orders maximizing (o_totalprice, recency):
    * the orders no other order beats on both price and date — see
    * [[graft.ops.Skyline.frontier2d]] for the bucketed two-level
    * running max that avoids both the quadratic self-join and a global
    * single-partition sort. Bucket width 500 on a [0, ~600k] price
    * range keeps the bucket table ≈1.2k rows.
    */
  private def qParetoFrontier(s: SparkSession, dir: String): DataFrame =
    graft.ops.Skyline.frontier2d(
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"),
        unix_date(to_date(col("o_orderdate"))).cast("long").as("o_day")),
      "o_totalprice", "o_day", bucketWidth = 500.0)

  private val qParetoFrontierSql =
    """WITH b AS (SELECT o_orderkey, o_custkey, o_totalprice,
      |             datediff('day', DATE '1970-01-01',
      |               CAST(o_orderdate AS DATE)) AS o_day
      |           FROM orders),
      |pd AS (SELECT o_totalprice AS x, max(o_day) AS maxy
      |       FROM b GROUP BY 1),
      |pb AS (SELECT x, maxy, floor(x / 500.0) AS bucket FROM pd),
      |bm AS (SELECT bucket, max(maxy) AS bmaxy FROM pb GROUP BY 1),
      |br AS (SELECT bucket, max(bmaxy) OVER (ORDER BY bucket DESC
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hmax
      |       FROM bm),
      |cand AS (SELECT pb.x, pb.maxy, br.hmax,
      |           max(pb.maxy) OVER (PARTITION BY pb.bucket
      |             ORDER BY pb.x DESC
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |             AS wmax
      |         FROM pb JOIN br USING (bucket)),
      |sv AS (SELECT x, maxy FROM cand
      |       WHERE (hmax IS NULL OR hmax < maxy)
      |         AND (wmax IS NULL OR wmax < maxy))
      |SELECT b.o_orderkey, b.o_custkey, b.o_totalprice, b.o_day
      |FROM b JOIN sv ON b.o_totalprice = sv.x AND b.o_day = sv.maxy"""
      .stripMargin

  /** Segment revenue through a SALTED orders⋈customer join — the
    * skew-breaker pattern ([[graft.ops.SkewJoin.saltedJoin]]) with its
    * semantics hash-gated against the plain join: salting must be
    * invisible in the result. Revenue sums are exact (2dp prices are
    * integers ×100 in double, far under 2^53), so the aggregate is
    * bit-stable under any partitioning.
    */
  private def qSaltedJoin(s: SparkSession, dir: String): DataFrame =
    graft.ops.SkewJoin.saltedJoin(
      Tables.orders(s, dir), Tables.customer(s, dir)
        .withColumnRenamed("c_custkey", "o_custkey"),
      "o_custkey", salts = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))

  private val qSaltedJoinSql =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |       round(sum(o_totalprice), 2) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  def qs: Seq[QueryDef] = Seq(
    QueryDef("q_salted_join_revenue", qSaltedJoin, Some(qSaltedJoinSql)),
    QueryDef("q_pareto_frontier", qParetoFrontier,
      Some(qParetoFrontierSql)),
    QueryDef("q1_agg", q1Agg, Some(q1Sql)),
    QueryDef("q3_join", q3Join, Some(q3Sql)),
    QueryDef("q5_six_table_join", q5Join, Some(q5Sql)),
    QueryDef("q_rollup_revenue", qRollup, Some(qRollupSql)),
    QueryDef("p2_distinct_proj", p2Distinct, Some(p2Sql)),
    QueryDef("p4_distinct_count", p4DistinctCount, Some(p4Sql)),
    QueryDef("s5_dictionary", s5Dict, Some(s5Sql)),
    QueryDef("s5_encode_roundtrip", s5Encoded, Some(s5EncodedSql)),
    QueryDef("s1_csv_roundtrip", s1CsvRoundtrip, Some(s1Sql)),
    QueryDef("a2_entropy_single", entSingle, Some(entSingleSql)),
    QueryDef("a5_entropy_sparse", entSparse, Some(entSparseSql)),
    QueryDef("a6_hashed_group_keys", a6HashKeys, Some(a6Sql)),
    QueryDef("a3_entropy_multi", entMulti, Some(entMultiSql)),
    QueryDef("fd_measure", fdMeasure, Some(fdMeasureSql)),
    QueryDef("mvd_measure", mvdMeasure, Some(mvdMeasureSql)),
    QueryDef("ev_hourly_window", evHourly, Some(evHourlySql)),
    QueryDef("ev_sessionize", evSessionize, Some(evSessionizeSql)),
    QueryDef("ev_asof_last_signup", evAsofSignup, Some(evAsofSignupSql)),
    QueryDef("ev_signup_followup_24h", evFollowup, Some(evFollowupSql)),
    QueryDef("layout_zorder_orders", layoutZorderOrders,
      Some(layoutZorderOrdersSql)),
    QueryDef("q_top_customer_per_nation", qTopCustomerPerNation,
      Some(qTopCustomerPerNationSql)),
    QueryDef("layout_prune_audit", layoutPruneAudit,
      Some(layoutPruneAuditSql)),
  )
}
