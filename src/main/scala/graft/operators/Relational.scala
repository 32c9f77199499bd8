package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.{Query, Tables}
import graft.util.Num._

/** Relational operator inventory (SURVEY.md §2.6-2.8): aggregations
  * (incl. rollup/cube/grouping sets/HLL), the full join catalog
  * (broadcast, sort-merge, semi, anti, range, as-of, interval),
  * window functions (row frames, range frames, top-k per group),
  * global sort/limit, set ops, distinct, JSON access, pivot,
  * conditional aggregation, string/date scalar functions.
  *
  * Every query is declarative DataFrame code — Catalyst handles
  * pushdown, pruning, partial aggregation and join selection; explicit
  * `broadcast()` hints mark the dimension sides that must never
  * shuffle at 100 TB. Each result ends in a unique ORDER BY so the
  * driver's hash compare is order-stable.
  */
object Relational {

  // ---- aggregations ------------------------------------------------

  /** TPC-H Q1-style pricing summary (hash agg with partial agg;
    * one shuffle on the two low-cardinality group keys). */
  private def q01(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val q01Sql = s"""
    SELECT l_returnflag, l_linestatus,
      ${sqlDsum("l_quantity")} AS sum_qty,
      ${sqlDsum("l_extendedprice")} AS sum_base_price,
      ${sqlDsum("l_extendedprice*(1-l_discount)")} AS sum_disc_price,
      ${sqlDsum("l_extendedprice*(1-l_discount)*(1+l_tax)")} AS sum_charge,
      ${sqlDavg("l_quantity")} AS avg_qty,
      ${sqlDavg("l_discount")} AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  /** Global (no-group) aggregates incl. exact distinct counts and a
    * deterministic stddev built from decimal moments. */
  private def q02(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    li.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("l_orderkey")).as("n_orders"),
      countDistinct(col("l_partkey")).as("n_parts"),
      min(col("l_extendedprice")).as("min_price"),
      max(col("l_extendedprice")).as("max_price"),
      dsum(col("l_extendedprice")).as("sum_price"),
      davg(col("l_extendedprice")).as("avg_price"),
      dstddev(col("l_quantity")).as("sd_qty"))
  }

  private val q02Sql = s"""
    SELECT COUNT(*) AS n_rows,
      COUNT(DISTINCT l_orderkey) AS n_orders,
      COUNT(DISTINCT l_partkey) AS n_parts,
      MIN(l_extendedprice) AS min_price,
      MAX(l_extendedprice) AS max_price,
      ${sqlDsum("l_extendedprice")} AS sum_price,
      ${sqlDavg("l_extendedprice")} AS avg_price,
      ${sqlDstddev("l_quantity")} AS sd_qty
    FROM lineitem"""

  /** ROLLUP hierarchy totals (returnflag, linestatus). */
  private def q03(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("n"), col("sum_qty"))
      .orderBy("rflag", "lstatus")

  private val q03Sql = s"""
    SELECT COALESCE(l_returnflag,'ALL') AS rflag,
           COALESCE(l_linestatus,'ALL') AS lstatus,
           COUNT(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY rflag, lstatus"""

  /** CUBE over order status x priority. */
  private def q04(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("sum_price"))
      .orderBy("status", "priority")

  private val q04Sql = s"""
    SELECT COALESCE(o_orderstatus,'ALL') AS status,
           COALESCE(o_orderpriority,'ALL') AS priority,
           COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY status, priority"""

  /** Explicit GROUPING SETS (flag-only, status-only, grand total). */
  private def q05(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql(s"""
      SELECT COALESCE(l_returnflag,'ALL') AS rflag,
             COALESCE(l_linestatus,'ALL') AS lstatus,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY rflag, lstatus""")
  }

  private val q05Sql = s"""
    SELECT COALESCE(l_returnflag,'ALL') AS rflag,
           COALESCE(l_linestatus,'ALL') AS lstatus,
           COUNT(*) AS n, ${sqlDsum("l_extendedprice")} AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY rflag, lstatus"""

  /** HLL approximate distinct as a bounded verdict. HLL estimates are
    * engine-specific, so the raw sketch value can't be hash-compared —
    * instead the query emits the exact count (oracle-recomputable) and
    * a deterministic within-bound boolean: |HLL − exact| ≤ 5% · exact,
    * generous vs the sketch's 2% rsd. The boolean is stable across
    * runs because HLL merge is a register-wise max — fully
    * order-independent — so the estimate itself is deterministic for a
    * fixed dataset regardless of task completion order. The oracle
    * asserts the bound as a literal TRUE; a sketch regression breaks
    * the hash. */
  private def q06(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("_hll"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("exact_parts"), col("n"),
        (abs(col("_hll") - col("exact_parts")) <=
          col("exact_parts") * lit(0.05)).as("hll_ok"))
      .orderBy("l_returnflag")

  private val q06Sql = """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           COUNT(*) AS n,
           TRUE AS hll_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Approximate percentiles as a bounded verdict (the q06 pattern).
    * The GK sketch's estimates depend on partial-merge order, so the
    * raw values can't be hash-compared; interpolated exact percentiles
    * of a non-integer-valued double can differ in the last ulp across
    * engines, so they can't either. Instead the sketch is judged
    * entirely Spark-side — |approx − exact| ≤ 5% · exact per
    * percentile, generous vs the sketch's 0.1% rank error at accuracy
    * 1000 — and the verdict row carries oracle-recomputable anchors
    * (n and the decimal-trick mean). The oracle asserts the bounds as
    * literal TRUEs; a sketch regression breaks the hash. At 100 TB
    * approx_percentile's mergeable sketch is the only way to get
    * quantiles in one pass; the exact aggregate here is the
    * verification harness, not the production path. */
  private def q08(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 1000)").as("approx_p"),
        expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").as("exact_p"),
        davg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("avg_price"), col("n"),
        (abs(col("approx_p").getItem(0) - col("exact_p").getItem(0)) <=
          col("exact_p").getItem(0) * lit(0.05)).as("ap50_ok"),
        (abs(col("approx_p").getItem(1) - col("exact_p").getItem(1)) <=
          col("exact_p").getItem(1) * lit(0.05)).as("ap90_ok"),
        (abs(col("approx_p").getItem(2) - col("exact_p").getItem(2)) <=
          col("exact_p").getItem(2) * lit(0.05)).as("ap99_ok"))
      .orderBy("l_returnflag")

  private val q08Sql = s"""
    SELECT l_returnflag,
           ${sqlDavg("l_extendedprice")} AS avg_price,
           COUNT(*) AS n,
           TRUE AS ap50_ok, TRUE AS ap90_ok, TRUE AS ap99_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Exact interpolated percentiles (median/p90) per group. Inputs
    * are integer-valued doubles and both engines use the standard
    * (1-d)*lower + d*upper interpolation at rank p*(n-1), so values
    * are bit-exact across engines. */
  private def q07(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  private val q07Sql = """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_quantity, 0.9) AS p90_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // ---- joins -------------------------------------------------------

  /** Broadcast-hash join: fact x small dim; the dim never shuffles. */
  private def q10(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val p  = Tables.part(s, d)
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy("p_brand")
  }

  private val q10Sql = s"""
    SELECT p_brand, ${sqlDsum("l_extendedprice*(1-l_discount)")} AS revenue,
           COUNT(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand ORDER BY p_brand"""

  /** Big-big sort-merge join (explicit MERGE hint): both sides shuffle
    * on the join key once; at 100 TB this is the bucketed-join slot. */
  private def q11(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o  = Tables.orders(s, d)
    li.hint("merge")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        dsum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  private val q11Sql = s"""
    SELECT o_orderpriority, ${sqlDsum("l_extendedprice")} AS sum_price,
           COUNT(*) AS n
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** 5-way star join (TPC-H Q5 shape): two broadcast dims, revenue by
    * nation for one region + year. */
  private def q12(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    // range predicate, not year(): a raw comparison pushes down to the
    // parquet scan (and prunes date-partitioned tables at scale);
    // year() would evaluate per row post-scan
    val o  = Tables.orders(s, d).filter(
      col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
      col("o_orderdate") < lit("1997-01-01").cast(TimestampType))
    val c  = Tables.customer(s, d)
    val n  = Tables.nation(s, d)
    val r  = Tables.region(s, d).filter(col("r_name") === "ASIA")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy("n_name")
  }

  private val q12Sql = s"""
    SELECT n_name, ${sqlDsum("l_extendedprice*(1-l_discount)")} AS revenue
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01' AND r_name = 'ASIA'
    GROUP BY n_name ORDER BY n_name"""

  /** Left-semi join (EXISTS): customers with a >100k order. */
  private def q13(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 100000)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  private val q13Sql = """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
    ORDER BY c_custkey"""

  /** Left-anti join (NOT EXISTS): customers without an URGENT order. */
  private def q14(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  private val q14Sql = """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    ORDER BY c_custkey"""

  /** Equi + range residual join (theta): quantity within +-2 of part
    * size. The equi key keeps it a hash/merge join; the range predicate
    * is a residual filter, so no nested-loop blowup at scale. */
  private def q15(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val p  = Tables.part(s, d)
    li.join(broadcast(p),
        col("l_partkey") === col("p_partkey") &&
        col("l_quantity") >= col("p_size") - lit(2) &&
        col("l_quantity") <= col("p_size") + lit(2))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("p_brand")
  }

  private val q15Sql = s"""
    SELECT p_brand, COUNT(*) AS n, ${sqlDsum("l_extendedprice")} AS sum_price
    FROM lineitem JOIN part
      ON l_partkey = p_partkey
     AND l_quantity >= p_size - 2 AND l_quantity <= p_size + 2
    GROUP BY p_brand ORDER BY p_brand"""

  /** As-of join via the union+window trick: for every click, the most
    * recent error (at-or-before) of the same user. One shuffle on
    * user_id, one sort — no per-row point lookups, scales linearly.
    * Oracle uses DuckDB's native ASOF JOIN. */
  private def q16(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), lit(null).cast(TimestampType).as("err_ts"), lit(1).as("kind"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), lit(null).cast(LongType).as("event_id"), col("ts").as("err_ts"), lit(0).as("kind"))
    // kind orders an error before a click at the same timestamp, so an
    // equal-ts error matches (ASOF ON c.ts >= e.ts semantics).
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    errors.unionByName(clicks)
      .withColumn("last_err_ts", last(col("err_ts"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("ts"), col("last_err_ts").as("err_ts"))
      .orderBy("event_id")
  }

  private val q16Sql = """
    SELECT c.event_id, c.user_id, c.ts, e.ts AS err_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON c.user_id = e.user_id AND c.ts >= e.ts
    ORDER BY c.event_id"""

  /** Interval join, bucketized: views within 1h before each purchase.
    * Each purchase expands to its 2 candidate hour-buckets, the join is
    * equi on (user_id, bucket) — at 100 TB this is a plain shuffled
    * hash join instead of an O(n^2) theta join. */
  private def q17(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val hour = lit(3600000000L) // microseconds
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        (unix_micros(col("ts")) / hour).cast(LongType).as("b"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        (unix_micros(col("ts")) / hour).cast(LongType).as("v_b"))
    val expanded = purchases
      .withColumn("cand", explode(array(col("b"), col("b") - 1)))
    val matched = expanded.join(views,
        col("user_id") === col("v_user") && col("cand") === col("v_b") &&
        col("v_ts") >= col("ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("ts"))
      .groupBy(col("event_id")).agg(count(lit(1)).as("n_views"))
    purchases.join(matched, Seq("event_id"), "left")
      .select(col("event_id"), col("ts"),
        coalesce(col("n_views"), lit(0L)).as("n_views"))
      .orderBy("event_id")
  }

  private val q17Sql = """
    SELECT p.event_id, p.ts, COUNT(v.event_id) AS n_views
    FROM events p
    LEFT JOIN events v
      ON v.user_id = p.user_id AND v.event_type = 'view'
     AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.ts
    ORDER BY p.event_id"""

  /** Same as-of semantics as q16, but through the custom operator
    * stack (graft.plans.AsOfJoin: LogicalPlan + Strategy + sorted
    * -merge SparkPlan) instead of the union+window composition —
    * verified against the identical DuckDB ASOF oracle. */
  private def q19(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"))
    graft.plans.AsOf.join(clicks, errors, "user_id", "ts", "err_ts")
      .select(col("event_id"), col("user_id"), col("ts"), col("err_ts"))
      .orderBy("event_id")
  }

  /** Salted join for skewed keys (technique demo with exact-result
    * oracle): events.user_id has ~25 hot keys — a plain shuffled join
    * would put each key on one task. The big side gets a random-ish
    * but DETERMINISTIC salt (hash of its unique id mod 16), the small
    * side explodes to all 16 salt values, and the join key becomes
    * (user_id, salt) so every hot key spreads across 16 tasks. AQE's
    * skew handling does this adaptively; explicit salting is the
    * portable form. Results are salt-invariant, so the oracle is the
    * plain join. (shuffle_hash hint defeats the broadcast that would
    * otherwise hide the skew at this scale.) */
  private def q18(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val salts = 16
    val userDim = e.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_seen")) // per-user dim table
    val saltedDim = userDim
      .withColumn("salt", explode(array((0 until salts).map(lit): _*)))
    val saltedEvents = e
      .withColumn("salt", pmod(hash(col("event_id")), lit(salts)))
    saltedEvents.hint("shuffle_hash")
      .join(saltedDim, Seq("user_id", "salt"))
      .groupBy(col("user_id"), col("first_seen"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .orderBy("user_id")
  }

  private val q18Sql = s"""
    SELECT e.user_id, u.first_seen, COUNT(*) AS n_events,
           ${sqlDsum("e.value")} AS sum_value
    FROM events e
    JOIN (SELECT user_id, MIN(ts) AS first_seen FROM events GROUP BY user_id) u
      ON e.user_id = u.user_id
    GROUP BY e.user_id, u.first_seen ORDER BY e.user_id"""

  /** Bucketed co-located join: both fact tables are written once as
    * bucketed tables on the join key (8 buckets, sorted), then joined
    * WITHOUT any Exchange — the physical plan reads bucket i of each
    * side into the same task. This is the canonical 100 TB shape for
    * repeated big-big joins: pay the shuffle once at layout time, not
    * per query. (In-memory catalog; the bucketed files live under
    * target/bucketed and are rebuilt per session.) Oracle = the
    * identical plain join. */
  private def q26(s: SparkSession, d: String): DataFrame = {
    val suffix = math.abs(d.hashCode).toString
    val liT = s"graft_li_b$suffix"; val oT = s"graft_o_b$suffix"
    val base = s"${graft.Sessions.workDir}/bucketed"
    // The layout cost is paid ONCE at layout time — that's the whole
    // point of bucketing for repeated big-big joins. If a previous
    // session already wrote the bucketed files, re-register them as
    // external bucketed tables instead of rewriting (bucket file names
    // carry Spark's bucket ids, so the metadata is reconstructible).
    // A fingerprint of the SOURCE parquet (size + mtime) guards the
    // reuse: if the fixture is regenerated, the layout rebuilds
    // instead of silently serving stale data.
    def srcFingerprint: String =
      Seq("lineitem", "orders").map { t =>
        val p = Paths.get(s"$d/$t.parquet")
        s"$t:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
      }.mkString(";")
    def metaPath(t: String) = Paths.get(s"$base/$t/_graft_src_meta")
    def haveFiles(t: String): Boolean =
      Files.exists(Paths.get(s"$base/$t/_SUCCESS")) &&
        Files.exists(metaPath(t)) &&
        new String(Files.readAllBytes(metaPath(t))) == srcFingerprint
    def register(t: String, schema: String, key: String): Unit =
      s.sql(s"""CREATE TABLE $t ($schema) USING parquet
        CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
        LOCATION '$base/$t'""")
    if (!s.catalog.tableExists(liT)) {
      if (haveFiles(liT) && haveFiles(oT)) {
        register(liT, "l_orderkey BIGINT, l_extendedprice DOUBLE", "l_orderkey")
        register(oT, "o_orderkey BIGINT, o_orderpriority STRING", "o_orderkey")
      } else {
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_extendedprice"))
          .write.mode("overwrite")
          .option("path", s"$base/$liT")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable(liT)
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"))
          .write.mode("overwrite")
          .option("path", s"$base/$oT")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable(oT)
        Files.write(metaPath(liT), srcFingerprint.getBytes)
        Files.write(metaPath(oT), srcFingerprint.getBytes)
      }
    }
    // MERGE hint: at fixture scale Catalyst would broadcast the small
    // side; the point here is the bucket-aligned sort-merge join with
    // no Exchange on either side (which is what a big-big join would
    // pick unaided)
    s.table(liT).hint("merge")
      .join(s.table(oT), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice")).as("sum_price"), count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  // ---- windows / sort / set ops ------------------------------------

  /** Top-3 parts per brand by revenue (window row_number). */
  private def q20(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val p  = Tables.part(s, d)
    val rev = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("revenue").desc, col("p_partkey"))
    rev.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy("p_brand", "rn")
  }

  private val q20Sql = s"""
    SELECT p_brand, p_partkey, revenue, rn FROM (
      SELECT p_brand, p_partkey, revenue,
             row_number() OVER (PARTITION BY p_brand
                                ORDER BY revenue DESC, p_partkey) AS rn
      FROM (
        SELECT p_brand, p_partkey,
               ${sqlDsum("l_extendedprice*(1-l_discount)")} AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, p_partkey))
    WHERE rn <= 3
    ORDER BY p_brand, rn"""

  /** Row-frame windows per supplier: row_number, running sum, lag/lead
    * over a fully deterministic composite ordering. */
  private def q21(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    // every column the frame functions read is part of the ordering:
    // (orderkey, linenumber) is NOT unique in the generated fixture at
    // sf>=0.1, so a shorter key would leave lead/lag and the running
    // sum order-dependent between engines
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_quantity"), col("l_partkey"))
    val wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // rank/dense_rank order by shipdate only: ties share a rank, so
    // the values are deterministic even though the peer order isn't
    val wDate = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
    li.select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        row_number().over(w).as("rn"),
        rank().over(wDate).as("rnk"),
        dense_rank().over(wDate).as("drnk"),
        ntile(4).over(w).as("quartile"),
        sum(dec(col("l_quantity"))).over(wsum).cast(DoubleType).as("run_qty"),
        lag(col("l_extendedprice"), 1).over(w).as("prev_price"),
        lead(col("l_extendedprice"), 1).over(w).as("next_price"))
      .orderBy("l_suppkey", "rn")
  }

  private val q21Sql = """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           row_number() OVER w AS rn,
           rank() OVER wd AS rnk,
           dense_rank() OVER wd AS drnk,
           ntile(4) OVER w AS quartile,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice, l_quantity, l_partkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_qty,
           lag(l_extendedprice, 1) OVER w AS prev_price,
           lead(l_extendedprice, 1) OVER w AS next_price
    FROM lineitem
    WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice, l_quantity, l_partkey),
           wd AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
    ORDER BY l_suppkey, rn"""

  /** Range-frame window: per customer, 30-day trailing order total
    * (range frame over an integer day index — identical semantics in
    * both engines, tie rows are frame peers). */
  private def q22(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .withColumn("day_idx",
        datediff(to_date(col("o_orderdate")), lit("1990-01-01").cast(DateType)))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day_idx"))
      .rangeBetween(-30, 0)
    o.select(
        col("o_orderkey"), col("o_custkey"), col("day_idx"),
        sum(dec(col("o_totalprice"))).over(w).cast(DoubleType).as("sum_30d"))
      .orderBy("o_orderkey")
  }

  private val q22Sql = """
    SELECT o_orderkey, o_custkey, day_idx,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (PARTITION BY o_custkey ORDER BY day_idx RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_30d
    FROM (SELECT *, date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS day_idx
          FROM orders)
    ORDER BY o_orderkey"""

  /** Global top-25 (TakeOrderedAndProject: per-partition top-k + merge,
    * never a full sort at scale). */
  private def q23(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      // ties beyond this sort key are harmless: tied rows are identical
      // in every output column, so the top-25 VALUES are deterministic
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(25)

  private val q23Sql = """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 25"""

  /** Set operations: 1995-vs-1996 buyer key sets. */
  private def q24(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def buyers(y: Int) = o.filter(
        col("o_orderdate") >= lit(s"$y-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit(s"${y + 1}-01-01").cast(TimestampType))
      .select(col("o_custkey").as("custkey")).distinct()
    val a = buyers(1995); val b = buyers(1996)
    a.union(b).distinct().withColumn("op", lit("union"))
      .unionByName(a.intersect(b).withColumn("op", lit("intersect")))
      .unionByName(a.except(b).withColumn("op", lit("except")))
      .select(col("op"), col("custkey"))
      .orderBy("op", "custkey")
  }

  private val q24Sql = """
    WITH a AS (SELECT DISTINCT o_custkey AS custkey FROM orders
               WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'),
         b AS (SELECT DISTINCT o_custkey AS custkey FROM orders
               WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')
    SELECT 'union' AS op, custkey FROM (SELECT custkey FROM a UNION SELECT custkey FROM b)
    UNION ALL
    SELECT 'intersect' AS op, custkey FROM (SELECT custkey FROM a INTERSECT SELECT custkey FROM b)
    UNION ALL
    SELECT 'except' AS op, custkey FROM (SELECT custkey FROM a EXCEPT SELECT custkey FROM b)
    ORDER BY op, custkey"""

  /** dropDuplicates (exact distinct on a composite key). */
  private def q25(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderstatus"), col("o_orderpriority"))
      .dropDuplicates()
      .orderBy("o_orderstatus", "o_orderpriority")

  private val q25Sql = """
    SELECT DISTINCT o_orderstatus, o_orderpriority
    FROM orders ORDER BY o_orderstatus, o_orderpriority"""

  /** Correlated scalar subquery: customers above their nation's
    * average balance (identical SQL runs in Spark SQL and DuckDB;
    * Catalyst decorrelates it into an aggregate + join). */
  private val q27Text = s"""
    SELECT c_custkey, c_nationkey, c_acctbal
    FROM customer c
    WHERE c_acctbal > (
      SELECT ${sqlDavg("c2.c_acctbal")}
      FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
    ORDER BY c_custkey"""

  private def q27(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer")
    s.sql(q27Text)
  }

  /** LATERAL correlated subquery: top-2 customers by balance per
    * nation — the identical SQL text runs in Spark SQL and DuckDB
    * (Catalyst plans the lateral as a rewritten join + per-key
    * window, not a per-row re-execution). */
  private val q28Text = """
    SELECT n_name, c.c_custkey, c.c_acctbal
    FROM nation,
         LATERAL (SELECT c_custkey, c_acctbal FROM customer
                  WHERE c_nationkey = n_nationkey
                  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
    ORDER BY n_name, c_acctbal DESC, c_custkey"""

  private def q28(s: SparkSession, d: String): DataFrame = {
    Tables.nation(s, d).createOrReplaceTempView("nation")
    Tables.customer(s, d).createOrReplaceTempView("customer")
    s.sql(q28Text)
  }

  /** Multiset set operations (ALL variants keep duplicates): order
    * priorities of 1995 vs 1996 as bags — INTERSECT ALL keeps the
    * min multiplicity, EXCEPT ALL subtracts multiplicities. */
  private def q29(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def prios(y: Int) = o.filter(
        col("o_orderdate") >= lit(s"$y-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit(s"${y + 1}-01-01").cast(TimestampType))
      .select(col("o_orderpriority").as("prio"))
    val a = prios(1995); val b = prios(1996)
    a.intersectAll(b).groupBy(col("prio")).agg(count(lit(1)).as("n"))
      .withColumn("op", lit("intersect_all"))
      .unionByName(
        a.exceptAll(b).groupBy(col("prio")).agg(count(lit(1)).as("n"))
          .withColumn("op", lit("except_all")))
      .select(col("op"), col("prio"), col("n"))
      .orderBy("op", "prio")
  }

  private val q29Sql = """
    WITH a AS (SELECT o_orderpriority AS prio FROM orders
               WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'),
         b AS (SELECT o_orderpriority AS prio FROM orders
               WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')
    SELECT 'intersect_all' AS op, prio, COUNT(*) AS n
    FROM (SELECT prio FROM a INTERSECT ALL SELECT prio FROM b) GROUP BY prio
    UNION ALL
    SELECT 'except_all' AS op, prio, COUNT(*) AS n
    FROM (SELECT prio FROM a EXCEPT ALL SELECT prio FROM b) GROUP BY prio
    ORDER BY op, prio"""

  // ---- scalar / JSON / pivot ---------------------------------------

  /** JSON field extraction + aggregation over the extracted value. */
  private def q30(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")

  private val q30Sql = """
    SELECT event_type, CAST(SUM(k) AS BIGINT) AS sum_k, COUNT(k) AS n_k,
           MIN(k) AS min_k, MAX(k) AS max_k
    FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events)
    GROUP BY event_type ORDER BY event_type"""

  /** MapType operator set: JSON object -> map, map construction,
    * map_concat, map_filter (HOF), explode to (key, value) rows —
    * output is plain columns so both engines hash identically (map
    * COLUMN rendering differs across engines; map CONTENT does not). */
  private def q38(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("m", map_concat(
        from_json(col("props"), MapType(StringType, LongType)),
        map(lit("uid"), col("user_id"), lit("neg"), lit(-1L))))
      .withColumn("m", map_filter(col("m"), (_, v) => v >= 0)) // drops "neg"
      .select(explode(col("m")).as(Seq("key", "value")))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).cast(LongType).as("sum_v"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      .orderBy("key")

  private val q38Sql = """
    SELECT key, COUNT(*) AS n, CAST(SUM(value) AS BIGINT) AS sum_v,
           MIN(value) AS min_v, MAX(value) AS max_v
    FROM (
      SELECT 'k' AS key, CAST(json_extract_string(props, '$.k') AS BIGINT) AS value FROM events
      UNION ALL
      SELECT 'uid' AS key, user_id FROM events)
    GROUP BY key ORDER BY key"""

  /** Pivot (wide counts of event types per user). */
  private def q31(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
      .orderBy("user_id")

  private val q31Sql = """
    SELECT user_id,
           COUNT(CASE WHEN event_type='click' THEN 1 END) AS click,
           COUNT(CASE WHEN event_type='error' THEN 1 END) AS error,
           COUNT(CASE WHEN event_type='purchase' THEN 1 END) AS purchase,
           COUNT(CASE WHEN event_type='signup' THEN 1 END) AS signup,
           COUNT(CASE WHEN event_type='view' THEN 1 END) AS view
    FROM events GROUP BY user_id ORDER BY user_id"""

  /** Conditional aggregation (CASE WHEN inside agg) per nation. */
  private def q32(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_cust"),
        sum(when(col("c_acctbal") > 5000, 1).otherwise(0)).as("n_rich"),
        dsum(when(col("c_acctbal") > 0, col("c_acctbal")).otherwise(lit(0.0))).as("sum_pos_bal"))
      .orderBy("n_name")
  }

  private val q32Sql = s"""
    SELECT n_name, COUNT(*) AS n_cust,
           CAST(SUM(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_rich,
           ${sqlDsum("CASE WHEN c_acctbal > 0 THEN c_acctbal ELSE 0.0 END")} AS sum_pos_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name"""

  /** String scalar functions (upper/substr/length/concat/locate). */
  private def q33(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        substring(col("p_name"), 1, 10).as("prefix"),
        length(col("p_name")).as("len"),
        concat(col("p_brand"), lit("-"), col("p_type")).as("brand_type"),
        instr(col("p_name"), "a").as("pos_a"))
      .orderBy("p_partkey")

  private val q33Sql = """
    SELECT p_partkey, upper(p_name) AS uname,
           substr(p_name, 1, 10) AS prefix,
           length(p_name) AS len,
           p_brand || '-' || p_type AS brand_type,
           strpos(p_name, 'a') AS pos_a
    FROM part ORDER BY p_partkey"""

  /** Higher-order array functions over per-order quantity vectors:
    * collect_list -> sort_array, element access, slice, filter,
    * transform + decimal-exact fold (HOF aggregate). The fold goes
    * through DECIMAL so the DuckDB list mirror is order-independent
    * and bit-exact; array contents are compared as joined strings
    * (both engines render integer-valued doubles as "x.0"). */
  private def q35(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_quantity"))).as("qs"))
      .select(
        col("l_orderkey"),
        size(col("qs")).as("n_items"),
        element_at(col("qs"), 1).as("min_q"),
        element_at(col("qs"), -1).as("max_q"),
        aggregate(col("qs"), lit(BigDecimal(0)).cast(DecimalType(18, 6)),
          // re-cast each step: decimal + widens to (19,6); the values
          // (sums of a few quantities) always fit 18,6 so this is exact
          (acc, x) => (acc + x.cast(DecimalType(18, 6))).cast(DecimalType(18, 6)))
          .cast(DoubleType).as("sum_q"),
        size(filter(col("qs"), _ > 25)).as("n_big"),
        concat_ws(",", transform(slice(col("qs"), 1, 3),
          x => x.cast(StringType))).as("first3"))
      .orderBy("l_orderkey")

  private val q35Sql = """
    SELECT l_orderkey, len(qs) AS n_items,
           qs[1] AS min_q, qs[-1] AS max_q,
           CAST(list_sum(list_transform(qs, x -> CAST(x AS DECIMAL(18,6)))) AS DOUBLE) AS sum_q,
           len(list_filter(qs, x -> x > 25)) AS n_big,
           array_to_string(list_transform(qs[1:3], x -> CAST(x AS VARCHAR)), ',') AS first3
    FROM (SELECT l_orderkey, list_sort(list(l_quantity)) AS qs
          FROM lineitem GROUP BY l_orderkey)
    ORDER BY l_orderkey"""

  /** Date/time scalar functions. */
  private def q34(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        date_add(to_date(col("o_orderdate")), 30).cast(TimestampType).as("plus30"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast(DateType)).as("days_since"))
      .orderBy("o_orderkey")

  private val q34Sql = """
    SELECT o_orderkey,
           year(o_orderdate) AS y, month(o_orderdate) AS m,
           day(o_orderdate) AS dom,
           date_trunc('month', o_orderdate) AS month_start,
           CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS plus30,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
    FROM orders ORDER BY o_orderkey"""

  /** Unpivot (melt): the q31 wide per-user event-type counts back to
    * long form — pivot's inverse, the other direction a reporting
    * pipeline needs. Uses the Dataset unpivot API (Expand physically:
    * no shuffle beyond the q31 aggregation itself). */
  private def q36(s: SparkSession, d: String): DataFrame =
    q31(s, d)
      .unpivot(
        Array(col("user_id")),
        Array(col("click"), col("error"), col("purchase"), col("signup"), col("view")),
        "event_type", "n")
      .orderBy("user_id", "event_type")

  private val q36Sql = """
    WITH wide AS (
      SELECT user_id,
             COUNT(CASE WHEN event_type='click' THEN 1 END) AS click,
             COUNT(CASE WHEN event_type='error' THEN 1 END) AS error,
             COUNT(CASE WHEN event_type='purchase' THEN 1 END) AS purchase,
             COUNT(CASE WHEN event_type='signup' THEN 1 END) AS signup,
             COUNT(CASE WHEN event_type='view' THEN 1 END) AS view
      FROM events GROUP BY user_id)
    SELECT user_id, 'click' AS event_type, click AS n FROM wide
    UNION ALL SELECT user_id, 'error', error FROM wide
    UNION ALL SELECT user_id, 'purchase', purchase FROM wide
    UNION ALL SELECT user_id, 'signup', signup FROM wide
    UNION ALL SELECT user_id, 'view', view FROM wide
    ORDER BY user_id, event_type"""

  /** Distribution window functions per supplier: percent_rank,
    * cume_dist, first/last/nth value over a total ordering (every
    * column the frame functions read is in the sort — see q21). */
  private def q37(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_partkey"))
    val wFrame = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.lineitem(s, d)
      .select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        // (rank-1)/(n-1) and rank/n on identical integers: one IEEE
        // division each, bit-identical across engines — no rounding
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"),
        first(col("l_extendedprice")).over(wFrame).as("cheapest"),
        last(col("l_extendedprice")).over(wFrame).as("dearest"),
        nth_value(col("l_extendedprice"), 2).over(wFrame).as("second_cheapest"),
        row_number().over(w).as("rn"))
      .orderBy("l_suppkey", "rn")
  }

  private val q37Sql = """
    SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
           percent_rank() OVER w AS prank,
           cume_dist() OVER w AS cdist,
           first_value(l_extendedprice) OVER wf AS cheapest,
           last_value(l_extendedprice) OVER wf AS dearest,
           nth_value(l_extendedprice, 2) OVER wf AS second_cheapest,
           row_number() OVER w AS rn
    FROM lineitem
    WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_extendedprice, l_orderkey,
                 l_linenumber, l_quantity, l_partkey),
           wf AS (PARTITION BY l_suppkey ORDER BY l_extendedprice, l_orderkey,
                  l_linenumber, l_quantity, l_partkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY l_suppkey, rn"""

  // ---- catalog -----------------------------------------------------

  // ---- q134/q135: event-sequence analytics (funnel, cohorts) --------

  /** q134: ordered funnel — how many users progressed
    * view → click → purchase IN ORDER (each stage's first event must
    * strictly follow the previous stage's first event). Stage n is
    * computed from stage n−1's per-user frontier, so the whole
    * funnel is three user-keyed aggregations reusing one shuffle
    * key — no event-by-event sequence scan, no window over the full
    * event log. At 100 TB this is the shape that works: events
    * shuffle once on user_id, every stage is a partial-agg min. */
  private def q134(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("us")).as("t_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("us") > col("t_view"))
      .groupBy("user_id").agg(min(col("us")).as("t_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("us") > col("t_click"))
      .groupBy("user_id").agg(min(col("us")).as("t_purchase"))
    Seq((1, "view", v), (2, "click", c), (3, "purchase", p))
      .map { case (i, name, df) =>
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(i).as("stage"), lit(name).as("step"), col("n_users"))
      }
      .reduce(_.unionAll(_))
      .orderBy("stage")
  }

  private val q134Sql = """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    v AS (SELECT user_id, MIN(us) AS t_view FROM e
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(us) AS t_click FROM e JOIN v USING (user_id)
          WHERE event_type = 'click' AND us > t_view GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(us) AS t_purchase FROM e JOIN c USING (user_id)
          WHERE event_type = 'purchase' AND us > t_click GROUP BY e.user_id)
    SELECT 1 AS stage, 'view' AS step, COUNT(*) AS n_users FROM v
    UNION ALL SELECT 2, 'click', COUNT(*) FROM c
    UNION ALL SELECT 3, 'purchase', COUNT(*) FROM p
    ORDER BY stage"""

  /** q135: weekly cohort retention — users bucketed by the week of
    * their first event (relative to the corpus's first event, so the
    * query is fixture-date-agnostic), counted as retained in every
    * later week they were active. All integer micro/week arithmetic;
    * one user-keyed agg for cohorts + one distinct count per
    * (cohort, offset). */
  private def q135(s: SparkSession, d: String): DataFrame = {
    val week = 604800000000L // microseconds
    val e = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val g0 = e.agg(min(col("us"))).head().getLong(0)
    val cohorts = e.groupBy("user_id")
      .agg(expr(s"(min(us) - $g0) div $week").as("cohort_week"))
    e.withColumn("week_at", expr(s"(us - $g0) div $week"))
      .join(cohorts, "user_id")
      .select(col("user_id"), col("cohort_week"),
        (col("week_at") - col("cohort_week")).as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  private val q135Sql = """
    WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    g AS (SELECT MIN(us) AS g0 FROM e),
    cohorts AS (
      SELECT user_id, (MIN(us) - (SELECT g0 FROM g)) // 604800000000
               AS cohort_week
      FROM e GROUP BY user_id)
    SELECT c.cohort_week,
           (e.us - (SELECT g0 FROM g)) // 604800000000 - c.cohort_week
             AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM e JOIN cohorts c USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---- q143: batch sessionization (gaps-and-islands) ----------------

  /** q143: batch sessionization of the event log — the
    * gaps-and-islands classic: per user, a new session opens when the
    * gap from the previous event exceeds 30 minutes; emit per-session
    * stats. This is the BATCH complement of q82's streaming
    * `session_window` (backfills and reprocessing run this shape over
    * the historical log). One shuffle on `user_id`; both window
    * passes (the lag flag and the running session counter) and the
    * final per-session aggregation reuse that single partitioning —
    * Catalyst plans one Exchange for the whole query, which is what
    * survives a 100 TB event log (per-user runs sort locally; no
    * global sort, no second shuffle). All integer micros. */
  private def q143(s: SparkSession, d: String): DataFrame = {
    val gapUs = 1800000000L // 30 minutes
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    e.withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"),
        (max(col("us")) - min(col("us"))).as("duration_us"))
      .orderBy("user_id", "session_seq")
  }

  private val q143Sql = """
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
    flagged AS (
      SELECT user_id, event_id, us,
             CASE WHEN lag(us) OVER w IS NULL
                    OR us - lag(us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    sess AS (
      SELECT user_id, us,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged)
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           COUNT(*) AS n_events, MIN(us) AS start_us,
           MAX(us) - MIN(us) AS duration_us
    FROM sess GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---- time-series gap-fill + forward-fill --------------------------

  /** q162: daily per-user activity with missing days materialized and
    * the last observed value carried forward — the
    * `time_bucket_gapfill` + LOCF operation every time-series store
    * ships, expressed Spark-first: the per-user calendar comes from a
    * `sequence()` explode of the user's own [first, last] day span
    * (never a global calendar cross join), the fill is ONE
    * `last(_, ignoreNulls)` running window on the same (user_id, day)
    * partitioning the grid join already established, and the daily
    * value is a decimal-exact dsum so the carried double is
    * bit-identical cross-engine. Day rides as a 'yyyy-MM-dd' string
    * (engines' DATE/py-date representations differ; strings hash
    * stably).
    *
    * Scale shape: the grid explode is span-bounded per user (a user
    * with a 2-year span adds 730 rows, not N_users x calendar), both
    * passes share one hashpartitioning(user_id) exchange, and the
    * fill window is a per-user running frame — no global sort, no
    * driver calendar. */
  def gapFillDaily(events: DataFrame, keyCol: String, tsCol: String,
                   valueCol: String): DataFrame = {
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n_events"), dsum(col(valueCol)).as("day_value"))
    val span = daily.groupBy(col(keyCol))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = span.select(col(keyCol),
      explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq(keyCol, "day"), "left")
      .withColumn("filled", col("n_events").isNull.cast(IntegerType))
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .withColumn("value_locf", last(col("day_value"), ignoreNulls = true).over(w))
      .select(col(keyCol), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_events"), col("filled"), col("value_locf"))
  }

  private def q162(s: SparkSession, d: String): DataFrame =
    gapFillDaily(Tables.events(s, d), "user_id", "ts", "value")
      .orderBy("user_id", "day")

  private val q162Sql = s"""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
             ${sqlDsum("value")} AS day_value
      FROM events GROUP BY 1, 2),
    span AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
      FROM daily GROUP BY user_id),
    grid AS (
      SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
               AS DATE) AS day
      FROM span),
    joined AS (
      SELECT g.user_id, g.day,
             COALESCE(dl.n_events, 0) AS n_events,
             CASE WHEN dl.n_events IS NULL THEN 1 ELSE 0 END AS filled,
             dl.day_value
      FROM grid g LEFT JOIN daily dl
        ON g.user_id = dl.user_id AND g.day = dl.day)
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day, n_events, filled,
           last_value(day_value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY day
             ROWS UNBOUNDED PRECEDING) AS value_locf
    FROM joined ORDER BY user_id, day"""

  // ---- Z-order layout / data-skipping meter -------------------------

  /** The 20-bit Morton (Z-order) interleave of two 10-bit columns
    * `zx`/`zy`, as an engine-neutral arithmetic fragment: bit i of x
    * lands at position 2i+1, bit i of y at 2i — plain div/mod/multiply
    * so Spark (`div`) and DuckDB (`//`) evaluate it identically. */
  private def zvalFrag(intDiv: String): String =
    (0 until 10).map { i =>
      val p = 1L << i
      s"((zx $intDiv $p) % 2) * ${1L << (2 * i + 1)} + " +
        s"((zy $intDiv $p) % 2) * ${1L << (2 * i)}"
    }.mkString(" + ")

  /** q163: WHY a 100 TB fact table is written Z-ordered, measured.
    * Both layouts bucket lineitem into 64 "files" — ingest order
    * (monotone l_orderkey ranges: what a naive append produces) vs
    * Z-order (fixed-width ranges of the Morton interleave of the two
    * filter dims) — then the meter evaluates a 2-D box predicate the
    * way a parquet reader does: a bucket is READ iff its per-column
    * min/max stats overlap the box. One row per layout: buckets hit,
    * rows scanned, rows actually matching. Ingest order gives zx/zy
    * stats spanning the whole domain in every bucket (every file
    * read); Z-order co-locates both dims so most buckets' stats
    * exclude the box. The bucket ids, stats and verdicts are all
    * integer arithmetic — the oracle re-derives the meter exactly.
    *
    * Scale shape: two scans + two 64-group aggregates; the Z-bucket
    * assignment is a scan-side expression (zero shuffle beyond the
    * stats agg), exactly how a writer would `repartitionByRange` on
    * the z-value at ingest. */
  private def q163(s: SparkSession, d: String): DataFrame = {
    val NBuckets = 64
    // the two "selective dims" folded to 10 bits each
    val base = Tables.lineitem(s, d).select(
      (col("l_partkey") % 1024).as("zx"),
      (col("l_suppkey") % 1024).as("zy"),
      col("l_orderkey"))
    val maxOk = base.agg(max(col("l_orderkey")).as("max_ok"))
    val bucketed = base.crossJoin(broadcast(maxOk))
      .withColumn("zval", expr(zvalFrag("div")))
      .withColumn("zorder", expr(s"zval * $NBuckets div 1048576"))
      .withColumn("ingest", expr(s"l_orderkey * $NBuckets div (max_ok + 1)"))
    // the query box: zx in [96, 160), zy in [8, 40)
    val inBox = col("zx") >= 96 && col("zx") < 160 &&
      col("zy") >= 8 && col("zy") < 40
    def meter(bucketCol: String, label: String): DataFrame =
      bucketed.groupBy(col(bucketCol).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("zx")).as("min_zx"), max(col("zx")).as("max_zx"),
          min(col("zy")).as("min_zy"), max(col("zy")).as("max_zy"),
          sum(when(inBox, 1L).otherwise(0L)).as("n_match"))
        .withColumn("hit",
          (col("max_zx") >= 96 && col("min_zx") < 160 &&
            col("max_zy") >= 8 && col("min_zy") < 40).cast(LongType))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("hit")).as("buckets_hit"),
          sum(col("hit") * col("n")).as("rows_scanned"),
          sum(col("n_match")).as("rows_matching"))
        .select(lit(label).as("layout"), col("n_buckets"),
          col("buckets_hit"), col("rows_scanned"), col("rows_matching"))
    meter("zorder", "zorder").unionAll(meter("ingest", "ingest"))
      .orderBy("layout")
  }

  private val q163Sql = s"""
    WITH base AS (
      SELECT l_partkey % 1024 AS zx, l_suppkey % 1024 AS zy, l_orderkey,
             (SELECT MAX(l_orderkey) FROM lineitem) AS max_ok
      FROM lineitem),
    bucketed AS (
      SELECT zx, zy,
             (${zvalFrag("//")}) * 64 // 1048576 AS zorder,
             l_orderkey * 64 // (max_ok + 1) AS ingest,
             CASE WHEN zx >= 96 AND zx < 160 AND zy >= 8 AND zy < 40
                  THEN 1 ELSE 0 END AS in_box
      FROM base),
    stats AS (
      SELECT layout, bucket, COUNT(*) AS n,
             MIN(zx) AS min_zx, MAX(zx) AS max_zx,
             MIN(zy) AS min_zy, MAX(zy) AS max_zy,
             CAST(SUM(in_box) AS BIGINT) AS n_match
      FROM (
        SELECT 'zorder' AS layout, zorder AS bucket, zx, zy, in_box FROM bucketed
        UNION ALL
        SELECT 'ingest' AS layout, ingest AS bucket, zx, zy, in_box FROM bucketed)
      GROUP BY layout, bucket),
    verdicts AS (
      SELECT layout, n, n_match,
             CASE WHEN max_zx >= 96 AND min_zx < 160
                   AND max_zy >= 8 AND min_zy < 40
                  THEN 1 ELSE 0 END AS hit
      FROM stats)
    SELECT layout, COUNT(*) AS n_buckets,
           CAST(SUM(hit) AS BIGINT) AS buckets_hit,
           CAST(SUM(hit * n) AS BIGINT) AS rows_scanned,
           CAST(SUM(n_match) AS BIGINT) AS rows_matching
    FROM verdicts GROUP BY layout ORDER BY layout"""

  // ---- robust outlier detection (median / MAD) ----------------------

  /** q169: per-user robust anomaly flags over the event stream —
    * |value − median| > 3·MAD, the median-absolute-deviation rule that
    * survives the heavy tails a mean/stddev z-score drowns in. Both
    * "medians" are DISCRETE picks (the value at 1-based ascending rank
    * ⌈n/2⌉, ties ordered by event_id): an actual data value, never an
    * interpolated average — so arbitrary doubles cross the engine
    * boundary untouched and the only arithmetic is one subtraction
    * and one multiply-by-3, bit-identical IEEE on both sides.
    *
    * Scale shape: two ranking passes + the flag scan, all on ONE
    * hashpartitioning(user_id) exchange (per-user sorts are local);
    * nothing global, nothing collected. */
  private def q169(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"))
    val wRank = Window.partitionBy(col("user_id"))
      .orderBy(col("value"), col("event_id"))
    val n = Window.partitionBy(col("user_id"))
    val med = e
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(n))
      .withColumn("is_med", col("rn") === expr("(n + 1) div 2"))
    val medOf = med.filter(col("is_med"))
      .select(col("user_id"), col("value").as("median_value"))
    val dev = e.join(medOf, "user_id")
      .withColumn("dev", abs(col("value") - col("median_value")))
    val wDev = Window.partitionBy(col("user_id"))
      .orderBy(col("dev"), col("event_id"))
    val madOf = dev
      .withColumn("rn", row_number().over(wDev))
      .withColumn("n", count(lit(1)).over(n))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("user_id"), col("dev").as("mad"))
    dev.join(madOf, "user_id")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("median_value")).as("median_value"),
        min(col("mad")).as("mad"),
        sum(when(col("dev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy("user_id")
  }

  private val q169Sql = """
    WITH e AS (SELECT user_id, event_id, value FROM events),
    ranked AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM e),
    med AS (
      SELECT user_id, value AS median_value FROM ranked
      WHERE rn = (n + 1) // 2),
    dev AS (
      SELECT e.user_id, e.event_id, abs(e.value - m.median_value) AS dev,
             m.median_value
      FROM e JOIN med m ON e.user_id = m.user_id),
    dranked AS (
      SELECT user_id, dev,
             row_number() OVER (PARTITION BY user_id
               ORDER BY dev, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM dev),
    mad AS (
      SELECT user_id, dev AS mad FROM dranked WHERE rn = (n + 1) // 2)
    SELECT d.user_id, COUNT(*) AS n_events,
           MIN(d.median_value) AS median_value,
           MIN(m.mad) AS mad,
           CAST(SUM(CASE WHEN d.dev > 3.0 * m.mad THEN 1 ELSE 0 END)
             AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m ON d.user_id = m.user_id
    GROUP BY d.user_id ORDER BY d.user_id"""

  // ---- market-basket co-occurrence ----------------------------------

  /** Basket co-occurrence pair support (the association-mining
    * primitive behind "frequently bought together") over any
    * (basket, item) relation. Baskets are the DISTINCT items per
    * basket key; the pair explode emits each unordered within-basket
    * pair once (a < b on the item key) — quadratic
    * only in basket SIZE, never in basket count — and the size is
    * ENFORCED: a basket larger than `maxBasketSize` is
    * deterministically truncated to its `maxBasketSize` smallest item
    * keys before the explode (rank by a quality column upstream to
    * keep the best items instead), so one degenerate mega-basket
    * (a crawler session with 10^6 "items") can never contribute
    * 10^12 pair rows. Item keys are BIGINT (the truncating collector
    * is long-typed; every caller's keys already are).
    *
    * Shape (r22): ONE bounded aggregation + ONE codegen'd pair
    * explode + the pair-count shuffle. The
    * [[graft.functions.CollectSmallestAgg]] buffer holds the cap
    * smallest DISTINCT items per basket — <= cap longs per group AT
    * EVERY STAGE, truncating and deduplicating map-side — so the
    * dedup distinct, its checkpoint, the size-gate aggregate, the
    * over-cap window and the anti-join/union of the previous designs
    * all collapse into the one exchange, and a mega-basket now ships
    * <= cap values per mapper instead of its full row set to a
    * window task (stronger than the r21 gate, which shuffled the
    * whole basket before truncating it). The pair explode is the
    * compiled [[graft.functions.PairGen.pairsLong]] kernel — the r21
    * A/B rejected this single-pass shape built from array lambdas
    * (CodegenFallback, interpreted per row; warm q170 4.3 -> 5.5 s);
    * the static-call kernel + bounded collector reverse it (r22
    * isolated 3-run warm 3.9 -> 2.1 s, 24 -> 8 Exchange plan refs).
    * Null basket or item keys produce no pairs, exactly like the
    * old equi-join. Support counting is one partial-agg shuffle on
    * the pair key. Returns (item_a, item_b, support). */
  def coOccurrencePairs(items: DataFrame, basketCol: String, itemCol: String,
                        maxBasketSize: Int = 64): DataFrame = {
    require(maxBasketSize >= 2, s"maxBasketSize must be >= 2, got $maxBasketSize")
    items
      .select(col(basketCol).as("basket"), col(itemCol).as("item"))
      // a null basket/item never equi-joined into a pair in the join
      // form; drop them before the collector (whose Long input cannot
      // represent null) so the output is identical on any input
      .filter(col("basket").isNotNull && col("item").isNotNull)
      .groupBy(col("basket"))
      .agg(graft.functions.CollectSmallestAgg
        .collectSmallest(col("item"), maxBasketSize).as("items"))
      .select(explode(graft.functions.pairGenExprs.pairsLong(col("items")))
        .as("pr"))
      .select(col("pr.item_a").as("item_a"), col("pr.item_b").as("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("support"))
  }

  /** q170: fixture instantiation of [[coOccurrencePairs]] — top-20
    * part pairs by order-basket support. Lineitem baskets are ≤7
    * parts, far under the default cap, so the capped operator's
    * output is identical to the uncapped pair join the oracle mirrors
    * (EdgeCasesSpec pins the mega-basket truncation the fixture can't
    * exercise). The global top-20 is a TakeOrdered heap, no full
    * sort. */
  private def q170(s: SparkSession, d: String): DataFrame =
    coOccurrencePairs(Tables.lineitem(s, d), "l_orderkey", "l_partkey")
      .select(col("item_a").as("part_a"), col("item_b").as("part_b"),
        col("support"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
      .limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("support").desc, col("part_a"), col("part_b"))))
      .select(col("rank"), col("part_a"), col("part_b"), col("support"))

  private val q170Sql = """
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT x.l_partkey AS part_a, y.l_partkey AS part_b
      FROM baskets x JOIN baskets y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey)
    SELECT row_number() OVER (ORDER BY support DESC, part_a, part_b) AS rank,
           part_a, part_b, support
    FROM (SELECT part_a, part_b, COUNT(*) AS support
          FROM pairs GROUP BY part_a, part_b)
    ORDER BY support DESC, part_a, part_b LIMIT 20"""

  // ---- iterative graph propagation ----------------------------------

  /** q165: two rounds of rank propagation over the bipartite
    * customer-part purchase graph (orders ⋈ lineitem) — the iterative
    * join-agg workload (PageRank/label-prop family) that stresses a
    * distributed engine differently from any single-pass query. Each
    * half-step sends a node's integer-micro rank split `div` its
    * degree across its edges and re-aggregates on the other side; two
    * full iterations are unrolled, then the top-20 parts by final
    * rank. Integer floor-division loses mass deterministically — both
    * engines compute bit-identical ranks, which is the point (a
    * float PageRank would diverge in the last ulps across partition
    * orders).
    *
    * Scale shape: the edge list is built once (distinct on the edge
    * key) and each half-step is one shuffle join edge⋈rank plus one
    * partial-agg shuffle — the Pregel superstep expressed as
    * DataFrame ops, AQE-re-plannable per step; degrees are
    * vocabulary-bounded aggregates. Nothing iterates on the driver
    * except the 2-step unroll itself. */
  private val q165EdgeCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  private def q165(s: SparkSession, d: String): DataFrame = {
    // the annotated edge list feeds BOTH half-steps of BOTH unrolled
    // iterations — materialize it ONCE per (session, sf) or the
    // orders⋈lineitem⋈degrees upstream re-executes per step (the
    // classic iterative-workload cache() point; the docEmbCached
    // memo precedent)
    val e = q165EdgeCache.getOrElseUpdate(
      (graft.sources.IndexStore.sessionKey(s), d), {
        val edges = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"))
          .join(Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_partkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
          .distinct()
        val degC = edges.groupBy(col("c")).agg(count(lit(1)).as("deg_c"))
        val degP = edges.groupBy(col("p")).agg(count(lit(1)).as("deg_p"))
        edges.join(degC, "c").join(degP, "p").localCheckpoint()
      })
    val degP = e.select(col("p"), col("deg_p")).distinct()
    // rank tables are node-sized (≪ edges): broadcast them so each
    // half-step is ONE pass over the cached edge list + a partial agg
    // — no edge-side shuffle per step (sort-merge measured ~4 s warm,
    // broadcast ~1 s at sf0.1; at cluster scale the node table still
    // broadcasts long after edges stop fitting anywhere)
    def step(pRank: DataFrame): DataFrame = {
      val cRank = e.join(broadcast(pRank), "p")
        .groupBy(col("c"), col("deg_c"))
        .agg(sum(expr("p_rank div deg_p")).as("c_in"))
        .select(col("c"), expr("c_in div deg_c").as("c_rank"))
      e.join(broadcast(cRank), "c")
        .groupBy(col("p"))
        .agg(sum(col("c_rank")).as("p_rank"))
    }
    val p0 = degP.select(col("p"), lit(1000000L).as("p_rank"))
    val p2 = step(step(p0))
    p2.orderBy(col("p_rank").desc, col("p")).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("p_rank").desc, col("p"))))
      .select(col("rank"), col("p").as("p_partkey"), col("p_rank"))
  }

  private val q165Sql = """
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    deg_c AS (SELECT c, COUNT(*) AS deg_c FROM edges GROUP BY c),
    deg_p AS (SELECT p, COUNT(*) AS deg_p FROM edges GROUP BY p),
    e AS (SELECT edges.c, edges.p, deg_c.deg_c, deg_p.deg_p
          FROM edges JOIN deg_c USING (c) JOIN deg_p USING (p)),
    p0 AS (SELECT p, CAST(1000000 AS BIGINT) AS p_rank FROM deg_p),
    c1 AS (
      SELECT e.c, CAST(SUM(p0.p_rank // e.deg_p) // MIN(e.deg_c) AS BIGINT)
               AS c_rank
      FROM e JOIN p0 USING (p) GROUP BY e.c),
    p1 AS (
      SELECT e.p, CAST(SUM(c1.c_rank) AS BIGINT) AS p_rank
      FROM e JOIN c1 USING (c) GROUP BY e.p),
    c2 AS (
      SELECT e.c, CAST(SUM(p1.p_rank // e.deg_p) // MIN(e.deg_c) AS BIGINT)
               AS c_rank
      FROM e JOIN p1 USING (p) GROUP BY e.c),
    p2 AS (
      SELECT e.p, CAST(SUM(c2.c_rank) AS BIGINT) AS p_rank
      FROM e JOIN c2 USING (c) GROUP BY e.p)
    SELECT row_number() OVER (ORDER BY p_rank DESC, p) AS rank,
           p AS p_partkey, p_rank
    FROM p2 ORDER BY p_rank DESC, p LIMIT 20"""

  // ---- q179: event-mix drift monitor --------------------------------

  /** Distribution drift between two halves of an event stream — the
    * pipeline-monitoring primitive behind "did the incoming data
    * change shape" (the categorical sibling of q176's vector-space
    * drift trigger): split the stream at its time midpoint, compare
    * each category's share of the two halves, and score the shift
    * with an integer micro-proportion divergence,
    * `(p1 - p2)^2 div (p1 + p2)` over per-mille-of-a-million shares —
    * the two-sample chi-square shape with proportions pre-quantized
    * to micros so every term is exact BIGINT arithmetic in any
    * engine (a float chi-square diverges in last ulps; a raw-count
    * chi-square overflows 64 bits at corpus scale). A category
    * present in only one half still scores (shares are micros, the
    * denominator never hits zero when either count is positive), and
    * a degenerate single-instant stream — tmin = tmax, every row
    * "late" — scores each category's full share as drift instead of
    * dividing by the empty half.
    *
    * Scale shape: the time bounds are ONE 1-row aggregate broadcast
    * back (the q167 cutoff idiom); the half flag is scan-side integer
    * arithmetic (2t < min+max — no division, no timezone); counting
    * is one partial-agg shuffle on the category key, category-
    * cardinality-bounded from there on. */
  def distributionDrift(events: DataFrame, categoryCol: String,
                        tsCol: String): DataFrame = {
    val e = events.select(col(categoryCol).as("category"),
      unix_micros(col(tsCol)).as("t"))
    val bounds = e.agg(min(col("t")).as("tmin"), max(col("t")).as("tmax"))
    val halves = e.crossJoin(broadcast(bounds))
      .withColumn("early",
        when(col("t") * 2 < col("tmin") + col("tmax"), 1L).otherwise(0L))
      .groupBy(col("category"))
      .agg(sum(col("early")).as("o_early"),
        sum(lit(1L) - col("early")).as("o_late"))
    val totals = halves.agg(sum(col("o_early")).as("n_early"),
      sum(col("o_late")).as("n_late"))
    halves.crossJoin(broadcast(totals))
      // an empty half (all events at one instant) contributes zero
      // shares instead of dividing by zero
      .withColumn("p_early_micros",
        expr("CASE WHEN n_early = 0 THEN 0 ELSE o_early * 1000000 div n_early END"))
      .withColumn("p_late_micros",
        expr("CASE WHEN n_late = 0 THEN 0 ELSE o_late * 1000000 div n_late END"))
      .withColumn("drift_micros", expr(
        """CASE WHEN p_early_micros + p_late_micros = 0 THEN 0
           ELSE (p_early_micros - p_late_micros) * (p_early_micros - p_late_micros)
                div (p_early_micros + p_late_micros) END"""))
      .select(col("category"), col("o_early"), col("o_late"),
        col("p_early_micros"), col("p_late_micros"), col("drift_micros"))
  }

  /** q179: event-type mix drift across the events fixture's two time
    * halves. */
  private def q179(s: SparkSession, d: String): DataFrame =
    distributionDrift(Tables.events(s, d), "event_type", "ts")
      .withColumnRenamed("category", "event_type")
      .orderBy("event_type")

  private val q179Sql = """
    WITH e AS (SELECT event_type, epoch_us(ts) AS t FROM events),
    bounds AS (SELECT MIN(t) AS tmin, MAX(t) AS tmax FROM e),
    halves AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN t * 2 < tmin + tmax THEN 1 ELSE 0 END)
               AS BIGINT) AS o_early,
             CAST(SUM(CASE WHEN t * 2 < tmin + tmax THEN 0 ELSE 1 END)
               AS BIGINT) AS o_late
      FROM e CROSS JOIN bounds GROUP BY event_type),
    totals AS (SELECT CAST(SUM(o_early) AS BIGINT) AS n_early,
                      CAST(SUM(o_late) AS BIGINT) AS n_late FROM halves),
    scored AS (
      SELECT event_type, o_early, o_late,
             CASE WHEN n_early = 0 THEN 0
                  ELSE o_early * 1000000 // n_early END AS p_early_micros,
             CASE WHEN n_late = 0 THEN 0
                  ELSE o_late * 1000000 // n_late END AS p_late_micros
      FROM halves CROSS JOIN totals)
    SELECT event_type, o_early, o_late, p_early_micros, p_late_micros,
           CASE WHEN p_early_micros + p_late_micros = 0 THEN 0
                ELSE (p_early_micros - p_late_micros)
                     * (p_early_micros - p_late_micros)
                     // (p_early_micros + p_late_micros) END AS drift_micros
    FROM scored ORDER BY event_type"""

  // ---- q190: join-key skew diagnostics -------------------------------

  /** Key-skew report for a prospective shuffle key — the diagnostic a
    * 100 TB pipeline runs BEFORE a join melts an executor: per-key row
    * counts reduced to a count-of-counts histogram (two partial-agg
    * shuffles: groupBy(key) then groupBy(count) — the histogram has
    * one row per DISTINCT multiplicity, Zipf-tiny next to the key
    * space, so the driver-side percentile walk is metadata-bounded at
    * any corpus size). Reports key cardinality, row mass, the hottest
    * key's absolute size and corpus share in micros, discrete
    * p50/p90/p99 of per-key multiplicity (smallest value whose
    * cumulative key count reaches ⌈q·n⌉ — actual data values), and a
    * salt verdict (hot key > 4× p99): exactly the inputs to choosing
    * between a plain shuffle, a broadcast, and salting. */
  def skewReport(df: DataFrame, keyCol: String,
                 label: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val hist = df.groupBy(col(keyCol)).agg(count(lit(1)).as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("n_keys"))
      .orderBy(col("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    require(hist.nonEmpty,
      s"skewReport('$label'): the input relation is empty — " +
        "there is no key distribution to report")
    val nKeys = hist.map(_._2).sum
    val nRows = hist.map { case (c, k) => c * k }.sum
    val maxRows = hist.last._1
    def pct(q: Double): Long = {
      val target = math.ceil(q * nKeys).toLong
      var cum = 0L
      hist.find { case (_, k) => cum += k; cum >= target }.get._1
    }
    val (p50, p90, p99) = (pct(0.50), pct(0.90), pct(0.99))
    Seq((label, nKeys, nRows, maxRows,
      maxRows * 1000000L / math.max(nRows, 1L), p50, p90, p99,
      maxRows > 4L * p99))
      .toDF("key", "n_keys", "n_rows", "max_rows", "top1_micros",
        "p50", "p90", "p99", "salt_advice")
  }

  /** q190: [[skewReport]] over four representative shuffle keys — a
    * near-unique key (orderkey), a mid-fanout key (partkey), a
    * behavioral key (user_id), and a deliberately hot low-cardinality
    * key (source). The oracle rebuilds every histogram walk in SQL:
    * cumulative key counts over the count-of-counts, the same ⌈q·n⌉
    * discrete ranks, the same salt rule. */
  private def q190(s: SparkSession, d: String): DataFrame =
    skewReport(Tables.lineitem(s, d), "l_orderkey", "lineitem.l_orderkey")
      .unionByName(skewReport(Tables.lineitem(s, d), "l_partkey",
        "lineitem.l_partkey"))
      .unionByName(skewReport(Tables.events(s, d), "user_id",
        "events.user_id"))
      .unionByName(skewReport(Tables.documents(s, d), "source",
        "documents.source"))
      .orderBy("key")

  private def skewMirror(table: String, key: String, label: String) = s"""
    SELECT '$label' AS key, n_keys, n_rows, max_rows,
           max_rows * 1000000 // greatest(n_rows, 1) AS top1_micros,
           p50, p90, p99, max_rows > 4 * p99 AS salt_advice
    FROM (
      SELECT CAST(SUM(nk) AS BIGINT) AS n_keys,
             CAST(SUM(c * nk) AS BIGINT) AS n_rows,
             CAST(MAX(c) AS BIGINT) AS max_rows,
             CAST(MIN(CASE WHEN cum >= CEIL(0.50 * tot) THEN c END) AS BIGINT) AS p50,
             CAST(MIN(CASE WHEN cum >= CEIL(0.90 * tot) THEN c END) AS BIGINT) AS p90,
             CAST(MIN(CASE WHEN cum >= CEIL(0.99 * tot) THEN c END) AS BIGINT) AS p99
      FROM (
        SELECT c, nk, SUM(nk) OVER (ORDER BY c) AS cum,
               SUM(nk) OVER () AS tot
        FROM (SELECT c, COUNT(*) AS nk FROM
                (SELECT $key, COUNT(*) AS c FROM $table GROUP BY 1)
              GROUP BY c)))"""

  private val q190Sql = s"""
    ${skewMirror("lineitem", "l_orderkey", "lineitem.l_orderkey")}
    UNION ALL ${skewMirror("lineitem", "l_partkey", "lineitem.l_partkey")}
    UNION ALL ${skewMirror("events", "user_id", "events.user_id")}
    UNION ALL ${skewMirror("documents", "source", "documents.source")}
    ORDER BY key"""

  val queries: Seq[Query] = Seq(
    Query("q190_skew_report",    q190, Some(q190Sql)),
    Query("q179_distribution_drift", q179, Some(q179Sql)),
    Query("q01_pricing_summary", q01, Some(q01Sql)),
    Query("q02_global_stats",    q02, Some(q02Sql)),
    Query("q03_rollup",          q03, Some(q03Sql)),
    Query("q04_cube",            q04, Some(q04Sql)),
    Query("q05_grouping_sets",   q05, Some(q05Sql)),
    Query("q06_approx_distinct", q06, Some(q06Sql)),
    Query("q07_percentiles",     q07, Some(q07Sql)),
    Query("q08_approx_percentiles", q08, Some(q08Sql)),
    Query("q10_join_broadcast",  q10, Some(q10Sql)),
    Query("q11_join_sortmerge",  q11, Some(q11Sql)),
    Query("q12_join_star",       q12, Some(q12Sql)),
    Query("q13_semi_join",       q13, Some(q13Sql)),
    Query("q14_anti_join",       q14, Some(q14Sql)),
    Query("q15_range_join",      q15, Some(q15Sql)),
    Query("q16_asof_join",       q16, Some(q16Sql)),
    Query("q17_interval_join",   q17, Some(q17Sql)),
    Query("q18_salted_join",     q18, Some(q18Sql)),
    Query("q19_asof_custom",     q19, Some(q16Sql)),
    Query("q20_window_topk",     q20, Some(q20Sql)),
    Query("q21_window_rows",     q21, Some(q21Sql)),
    Query("q22_window_range",    q22, Some(q22Sql)),
    Query("q23_top_n_global",    q23, Some(q23Sql)),
    Query("q24_set_ops",         q24, Some(q24Sql)),
    Query("q25_distinct",        q25, Some(q25Sql)),
    Query("q26_bucketed_join",   q26, Some(q11Sql)),
    Query("q27_correlated_subq", q27, Some(q27Text)),
    Query("q28_lateral_topk",    q28, Some(q28Text)),
    Query("q29_set_ops_all",     q29, Some(q29Sql)),
    Query("q30_json_extract",    q30, Some(q30Sql)),
    Query("q31_pivot",           q31, Some(q31Sql)),
    Query("q32_conditional_agg", q32, Some(q32Sql)),
    Query("q33_string_funcs",    q33, Some(q33Sql)),
    Query("q36_unpivot",         q36, Some(q36Sql)),
    Query("q38_map_funcs",       q38, Some(q38Sql)),
    Query("q37_window_dist",     q37, Some(q37Sql)),
    Query("q34_date_funcs",      q34, Some(q34Sql)),
    Query("q35_array_funcs",     q35, Some(q35Sql)),
    Query("q134_funnel_steps",   q134, Some(q134Sql)),
    Query("q135_cohort_retention", q135, Some(q135Sql)),
    Query("q143_sessionize",     q143, Some(q143Sql)),
    Query("q162_gapfill_locf",   q162, Some(q162Sql)),
    Query("q163_zorder_skipping", q163, Some(q163Sql)),
    Query("q165_graph_rank",     q165, Some(q165Sql)),
    Query("q169_mad_outliers",   q169, Some(q169Sql)),
    Query("q170_cooccurrence",   q170, Some(q170Sql)))
}
