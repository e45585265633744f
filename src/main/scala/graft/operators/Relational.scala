package graft.operators

import graft.Tables
import graft.functions.geo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator surface (SURVEY.md §2.3–§2.7, §2.9): projection,
  * pushdown-friendly filters, composite-key join chains, broadcast dim
  * joins, anti/semi joins, window top-k, generator (calendar) expansion,
  * rollup, set ops, geo-radius filter.
  *
  * Scale notes (100 TB posture):
  *  - filters/projections are plain Catalyst exprs → parquet pushdown &
  *    column pruning apply (verify via explain: PushedFilters/ReadSchema);
  *  - dimension joins broadcast explicitly (region/nation/supplier are
  *    tiny at any SF); fact-fact joins shuffle on their keys and AQE
  *    handles skew;
  *  - every query ends in a deterministic ORDER BY so results are stable
  *    for the oracle compare — at scale you'd drop the final sort.
  *
  * Money aggregates go through exact DECIMAL arithmetic: the stored
  * doubles are 2-dp values, so casting to decimal recovers them exactly
  * and the sums become independent of partial-aggregation order — the
  * only way a distributed sum can hash-match a single-threaded oracle at
  * every scale factor. Final cast back to double for a stable output type.
  */
object Relational {
  import org.apache.spark.sql.Column

  /** Exact 2-dp money value (prices, balances: |x| < 1e10). */
  private[operators] def dec(c: Column): Column = c.cast("decimal(12,2)")
  /** Exact 2-dp rate value (discount, tax: |x| < 100). */
  private[operators] def rate(c: Column): Column = c.cast("decimal(4,2)")
  /** Order-insensitive 2-dp sum, surfaced as double. */
  private[operators] def moneySum(c: Column): Column =
    round(sum(dec(c)), 2).cast("double")

  /** Daily revenue in integer cents, `(day: date, cents: long)` — the
    * series every daily-revenue monitor walks, batch and streaming alike
    * (the streaming aggregation keeps exactly this key and one long sum).
    */
  private[graft] def dailyCents(orders: DataFrame, day: Column,
                                amount: Column): DataFrame =
    orders.groupBy(day.cast("date").as("day"))
      .agg(sum(round(amount * 100).cast("long")).as("cents"))

  /** One step of a Holt recursion in micro-cents: the post-update level
    * and trend, the PRE-update one-step forecast and its error (0 on the
    * seed step); Holt–Winters adds the slot it wrote and the slot that
    * comes due next.
    */
  private[graft] final case class HoltStep(level: Long, trend: Long,
                                           forecast: Long, err: Long,
                                           season: Long = 0L,
                                           seasonNext: Long = 0L)

  /** Holt linear-trend recursion over ordered daily cents: dyadic gains
    * α=1/4, β=1/8, l₀ = y₀, b₀ = 0, truncating integer division — plain
    * `/` is the repo-wide convention (Spark div, DuckDB //, Java / and
    * BigInt / all truncate identically, including on negative trends).
    */
  private[graft] def holtSteps(cents: Seq[Long]): Vector[HoltStep] = {
    var l = cents.headOption.getOrElse(0L) * 1000000L
    var b = 0L
    cents.iterator.zipWithIndex.map { case (c, i) =>
      val y = c * 1000000L
      val forecast = l + b
      if (i > 0) {
        val lPrev = l
        l = (y + 3L * (l + b)) / 4L
        b = ((l - lPrev) + 7L * b) / 8L
      }
      HoltStep(l, b, forecast, if (i == 0) 0L else y - forecast)
    }.toVector
  }

  /** Holt–Winters additive recursion (weekly season) over ordered daily
    * cents: [[holtSteps]] plus a rotating 7-slot seasonal state (γ=1/8,
    * s ≡ 0 at the seed; the seed step consumes its slot unchanged).
    */
  private[graft] def holtWintersSteps(cents: Seq[Long]): Vector[HoltStep] = {
    var l = cents.headOption.getOrElse(0L) * 1000000L
    var b = 0L
    val sea = Array.fill(7)(0L) // rotating: sea(0) is due this step
    cents.iterator.zipWithIndex.map { case (c, i) =>
      val y = c * 1000000L
      val sOld = sea(0)
      val forecast = l + b + sOld
      var sNew = sOld
      if (i > 0) {
        val lPrev = l
        l = (y - sOld + 3L * (l + b)) / 4L
        b = ((l - lPrev) + 7L * b) / 8L
        sNew = ((y - l) + 7L * sOld) / 8L
      }
      for (k <- 0 until 6) sea(k) = sea(k + 1)
      sea(6) = sNew
      HoltStep(l, b, forecast, if (i == 0) 0L else y - forecast,
        sNew, sea(0))
    }.toVector
  }

  /** Q1-style pricing summary: wide aggregation with map-side combine
    * (reference analog: A1 row-count deltas, generalized).
    */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "lineitem")
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        moneySum($"l_quantity").as("sum_qty"),
        moneySum($"l_extendedprice").as("sum_base_price"),
        round(sum(dec($"l_extendedprice") * (lit(1) - rate($"l_discount"))), 2)
          .cast("double").as("sum_disc_price"),
        round(sum(dec($"l_extendedprice") * (lit(1) - rate($"l_discount")) *
          (lit(1) + rate($"l_tax"))), 2).cast("double").as("sum_charge"),
        round(sum(dec($"l_quantity")).cast("double") / count(lit(1)), 4).as("avg_qty"),
        round(sum(rate($"l_discount")).cast("double") / count(lit(1)), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Pushdown demo: range + value predicates and a narrow projection —
    * both must reach the parquet scan (P1/P2 in SURVEY §2.3).
    */
  def filterProject(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-04-01").cast("timestamp") &&
        $"l_discount" > 0.05)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** 3-table composite join chain + grouped revenue (J1 analog: the
    * reference's calendar⋈trips⋈stop_times⋈stops chain, GtfsDAO.java:44-46).
    * customer is small → broadcast; orders⋈lineitem shuffles on orderkey.
    */
  def joinRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val customer = Tables(s, dir, "customer")
    val orders = Tables(s, dir, "orders")
    val lineitem = Tables(s, dir, "lineitem")
    broadcast(customer.filter($"c_mktsegment" === "BUILDING"))
      .join(orders, $"c_custkey" === $"o_custkey")
      .join(lineitem, $"o_orderkey" === $"l_orderkey")
      .filter($"o_orderdate" < lit("1998-01-01").cast("timestamp") &&
        $"l_shipdate" >= lit("1996-01-01").cast("timestamp"))
      .groupBy($"l_orderkey")
      .agg(round(sum(dec($"l_extendedprice") * (lit(1) - rate($"l_discount"))), 2)
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"l_orderkey")
  }

  /** Star-schema rollup through two broadcast dims. */
  def regionRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "lineitem")
      .join(broadcast(Tables(s, dir, "supplier")), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables(s, dir, "nation")), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(round(sum(dec($"l_extendedprice") * (lit(1) - rate($"l_discount"))), 2)
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"r_name", $"n_name")
  }

  /** Anti join — the reference's new-data identification (J2/J3,
    * database_loader/operators.py:68-90): customers with no 2001 orders.
    * (The synthetic data covers every FK, so the right side is filtered
    * to keep the anti-join result nonempty.)
    */
  def custWithoutRecentOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val recent = Tables(s, dir, "orders")
      .filter($"o_orderdate" >= lit("2001-01-01").cast("timestamp"))
    Tables(s, dir, "customer")
      .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  /** Semi join (EXISTS) + grouped count. */
  def segmentsWithOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left_semi")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        moneySum($"c_acctbal").as("sum_acctbal"))
      .orderBy($"c_mktsegment")
  }

  /** Window top-k: top-3 orders per customer by totalprice. Ranks on
    * stored (not computed) doubles + key tie-break → exact across engines.
    */
  def topOrdersPerCustomer(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables(s, dir, "orders")
      .withColumn("rank_in_cust", row_number().over(w))
      .filter($"rank_in_cust" <= 3)
      .select($"o_custkey", $"rank_in_cust", $"o_orderkey", $"o_totalprice")
      .orderBy($"o_custkey", $"rank_in_cust")
  }

  /** Generator expansion — the reference's calendar×dates loop
    * (GtfsDAO.java:65-81,108-121) re-expressed as explode(sequence(...)):
    * each order contributes one row per day of its first week.
    */
  def orderDayExpansion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "orders")
      .select($"o_orderkey", to_date($"o_orderdate").as("start"))
      .select($"o_orderkey",
        explode(sequence($"start", date_add($"start", 6), expr("interval 1 day"))).as("d"))
      .groupBy($"d")
      .agg(count(lit(1)).as("n_active_orders"))
      .orderBy($"d")
  }

  /** Distance-along-polyline rollup — the GTFS shapes.txt operator
    * (`ArrivalsQuery.shapeLengths`) driven through an oracle-checkable
    * surface: polylines synthesised deterministically from events
    * (testdata has no lat/lon; one polyline per user bucket, point order
    * = event_id), exercising the same lag-window + millimetre fixed-point
    * cumulative pipeline the GTFS table gets.
    */
  def shapePolylineLengths(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val shapes = Tables(s, dir, "events")
      .select(($"user_id" % 40).as("shape_id"),
        $"event_id".as("shape_pt_sequence"),
        (lit(52.0) + ($"event_id" % 400).cast("double") / 1000.0)
          .as("shape_pt_lat"),
        (lit(13.0) + (($"event_id" * 7) % 400).cast("double") / 1000.0)
          .as("shape_pt_lon"))
    graft.gtfs.ArrivalsQuery.shapeLengths(shapes).orderBy($"shape_id")
  }

  /** Geo-radius filter (P5/F5): coordinates synthesised deterministically
    * from c_custkey (testdata has no lat/lon), haversine distance to the
    * reference test centre (Alexanderplatz, GeoPredicateSpec), 30 km radius.
    */
  /** Pairwise radius self-join (all point pairs within `radiusM`) via
    * grid-cell bucketing — the SPATIAL twin of LSH banding, and the
    * shape that replaces a BroadcastNestedLoop range join at scale:
    * each point gets one integer home cell sized ≥ the radius, the
    * probe side explodes to its 3×3 neighborhood, and the join is a
    * plain hash equi-join on cell ids finding each qualifying pair
    * EXACTLY once (the pair matches only in the right-hand point's home
    * cell), before the exact haversine verifies candidates. Candidate
    * mass is Σ per-cell n·(9-cell occupancy) — density-bounded, never
    * n². Cells come from the same integer key arithmetic that generates
    * the synthetic coordinates, so cell assignment has zero float-
    * boundary risk in any engine.
    */
  def geoPairs(s: SparkSession, dir: String, radiusM: Double = 800.0): DataFrame = {
    import s.implicits._
    val pts = Tables(s, dir, "customer")
      .select($"c_custkey",
        expr("c_custkey % 100").as("ilat"),
        expr("(c_custkey div 100) % 100").as("ilon"))
      .select($"c_custkey",
        (lit(52.0) + $"ilat".cast("double") / 100.0).as("lat"),
        (lit(13.0) + $"ilon".cast("double") / 100.0).as("lon"),
        expr("ilat div 2").as("cy"), expr("ilon div 2").as("cx"))
      .localCheckpoint() // probe explode + build side read it
    val probe = pts
      .select($"c_custkey".as("cust_a"), $"lat".as("lat_a"), $"lon".as("lon_a"),
        explode(array((for (dy <- -1 to 1; dx <- -1 to 1)
          yield struct(($"cy" + dy).as("ncy"), ($"cx" + dx).as("ncx"))): _*))
          .as("nc"))
      .select($"cust_a", $"lat_a", $"lon_a", $"nc.ncy", $"nc.ncx")
    probe.join(pts,
        pts("cy") === probe("ncy") && pts("cx") === probe("ncx") &&
          probe("cust_a") < pts("c_custkey"))
      .select($"cust_a", $"c_custkey".as("cust_b"),
        geo.haversineMeters($"lat_a", $"lon_a", $"lat", $"lon").as("dist"))
      .filter($"dist" <= radiusM)
      .select($"cust_a", $"cust_b", round($"dist", 0).cast("long").as("dist_m"))
      .orderBy($"cust_a", $"cust_b")
  }

  def geoRadius(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val centerLat = 52.52437
    val centerLon = 13.41053
    Tables(s, dir, "customer")
      .withColumn("lat", lit(52.0) + ($"c_custkey" % 100).cast("double") / 100.0)
      .withColumn("lon", lit(13.0) + (($"c_custkey" * 7) % 100).cast("double") / 100.0)
      // superset bounding box first: over stored coordinates this range
      // predicate reaches the scan (min/max pruning); here it short-
      // circuits the trig for out-of-box rows. Result set unchanged.
      .filter(geo.inBoundingBox($"lat", $"lon", centerLat, centerLon, 30000.0))
      .withColumn("dist_m",
        geo.haversineMeters(lit(centerLat), lit(centerLon), $"lat", $"lon"))
      .filter($"dist_m" <= 30000.0)
      .select($"c_custkey", round($"dist_m", 0).cast("long").as("dist_m"))
      .orderBy($"c_custkey")
  }

  /** Content-checksum fold — the reference's XOR-of-CRC32 archive
    * fingerprint (A2, data_provider/operators.py:145-152) generalized:
    * bit_xor over a 60-bit md5-derived content hash, per source.
    */
  def checksumXor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .withColumn("h", conv(substring(md5($"text"), 1, 15), 16, 10).cast("long"))
      .groupBy($"source")
      .agg(bit_xor($"h").as("fingerprint"), count(lit(1)).as("n_docs"))
      .orderBy($"source")
  }

  /** ROLLUP grouping-set aggregation over two broadcast dims. */
  def nationRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "customer")
      .join(broadcast(Tables(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_customers"),
        moneySum($"c_acctbal").as("sum_acctbal"))
      .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
  }

  /** CUBE grouping sets over order status x priority. */
  def cubeStatus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "orders")
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), moneySum($"o_totalprice").as("sum_price"))
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  /** Correlated-scalar-subquery shape, decorrelated by construction:
    * orders strictly above their customer's average order value. The
    * comparison is cross-multiplied into exact DECIMAL arithmetic
    * (`price·n > Σprice`) so no engine's floating-point average can flip
    * a borderline row. One window over the join key — at scale this is
    * the partial-agg + broadcast-back plan Catalyst would pick for the
    * equivalent subquery, without the second scan.
    */
  def aboveAvgOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
    Tables(s, dir, "orders")
      .withColumn("n_cust", count(lit(1)).over(w))
      .withColumn("sum_cust", sum(dec($"o_totalprice")).over(w))
      .filter(dec($"o_totalprice") * $"n_cust" > $"sum_cust")
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** GROUPING SETS beyond rollup/cube — two disjoint groupings
    * ((region), (nation)) in one pass with grouping indicators; Catalyst's
    * Expand operator computes both sets in a single scan. Pure DataFrame
    * API (`Dataset.groupingSets`, Spark 4) — no temp-view session state.
    */
  def groupingSetsRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "customer")
      .join(broadcast(Tables(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
      .groupingSets(Seq(Seq($"r_name"), Seq($"n_name")), $"r_name", $"n_name")
      .agg((grouping($"r_name") * 2 + grouping($"n_name")).cast("int").as("gid"),
        count(lit(1)).as("n_customers"),
        moneySum($"c_acctbal").as("sum_acctbal"))
      .select($"r_name", $"n_name", $"gid", $"n_customers", $"sum_acctbal")
      .orderBy($"gid", $"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
  }

  /** INTERSECT (§2.7): users who purchased in BOTH halves of the month. */
  def repeatPurchasers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = Tables(s, dir, "events").filter($"event_type" === "purchase")
    p.filter(dayofmonth($"ts") <= 15).select($"user_id").distinct()
      .intersect(p.filter(dayofmonth($"ts") > 15).select($"user_id").distinct())
      .orderBy($"user_id")
  }

  /** Salted variant of [[joinRevenue]]'s orders⋈lineitem leg — the
    * skew-mitigation pattern for hot keys at scale: the skewed (left)
    * side scatters over `salts` sub-keys derived from a row-local column,
    * the other side replicates `salts`x via a generator, so one hot
    * orderkey spreads across `salts` reducers. Result is provably
    * identical to the plain join (the oracle runs the unsalted SQL).
    */
  def saltedJoinRevenue(s: SparkSession, dir: String, salts: Int = 8): DataFrame = {
    import s.implicits._
    val lineitem = Tables(s, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp"))
      .withColumn("salt", pmod(xxhash64($"l_linenumber"), lit(salts)).cast("int"))
    val orders = Tables(s, dir, "orders")
      .filter($"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(Tables(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
        .select($"c_custkey")), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey")
      .withColumn("salt", explode(array((0 until salts).map(lit): _*)))
    // shuffle-HASH join, not sort-merge: the whole point of salting is a
    // huge skewed probe side — sorting it costs more than hashing the
    // replicated (small) build side. Also prune the build side to the
    // join key before replicating it `salts`x.
    lineitem.join(orders.hint("shuffle_hash"),
        lineitem("l_orderkey") === orders("o_orderkey") &&
          lineitem("salt") === orders("salt"))
      .groupBy($"l_orderkey")
      .agg(round(sum(dec($"l_extendedprice") * (lit(1) - rate($"l_discount"))), 2)
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"l_orderkey")
  }

  /** Running-total window: cumulative spend per customer over order time
    * (DECIMAL-exact so distributed and oracle sums agree).
    */
  def runningRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_orderdate",
        round(sum(dec($"o_totalprice")).over(w), 2).cast("double").as("cum_spend"))
      .select($"o_custkey", $"o_orderkey", $"cum_spend")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Inter-order gap analysis per customer (lag window): days between
    * consecutive orders, averaged and maxed per customer with ≥ 5
    * orders. One hash-shuffle on o_custkey feeds both the lag window
    * and the aggregate — per-customer order counts are bounded, so no
    * partition skew at any corpus size.
    */
  def orderGaps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables(s, dir, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_orderdate")
      .withColumn("gap",
        datediff($"o_orderdate", lag($"o_orderdate", 1).over(w)).cast("long"))
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        round(avg($"gap"), 2).as("avg_gap_days"),
        max($"gap").as("max_gap_days"))
      .filter($"n_orders" >= 5)
      .orderBy($"o_custkey")
  }

  /** Cross-source reconciliation audit (FULL OUTER join surface): daily
    * order revenue vs daily purchase-event value, with per-day match
    * status — the control query a pipeline runs after ingesting the same
    * business activity from two systems. Both sides pre-aggregate to day
    * grain BEFORE the join (the join input is bounded by the calendar,
    * not the fact volume) and money goes through DECIMAL so the
    * comparison is exact.
    */
  def sourceReconciliation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orderDays = Tables(s, dir, "orders")
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(moneySum($"o_totalprice").as("order_total"),
        count(lit(1)).as("n_orders"))
    val eventDays = Tables(s, dir, "events")
      .filter($"event_type" === "purchase")
      .groupBy(to_date($"ts").as("day"))
      .agg(moneySum($"value").as("event_total"),
        count(lit(1)).as("n_purchases"))
    orderDays.join(eventDays, Seq("day"), "full_outer")
      .select($"day",
        coalesce($"n_orders", lit(0L)).as("n_orders"),
        coalesce($"n_purchases", lit(0L)).as("n_purchases"),
        coalesce($"order_total", lit(0.0)).as("order_total"),
        coalesce($"event_total", lit(0.0)).as("event_total"),
        when($"order_total".isNull, "events_only")
          .when($"event_total".isNull, "orders_only")
          .otherwise("both").as("status"))
      .orderBy($"day")
  }

  /** String predicates + part-dimension stats (LIKE/substring surface). */
  def partBrandStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "part")
      .filter($"p_type".like("%ECO%") || $"p_size" >= 40)
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_parts"),
        moneySum($"p_retailprice").as("sum_retail"),
        max(upper(substring($"p_name", 1, 8))).as("max_name_prefix"))
      .orderBy($"p_brand")
  }

  /** Join-key skew profile — the pre-join diagnosis that decides between
    * a plain shuffle join, AQE skew splitting, and explicit salting
    * ([[saltedJoinRevenue]]): per-key row-count distribution (max, p50,
    * p99) and the share of rows owned by the 10 hottest keys, for the
    * fact-table keys the engine joins on. One map-side-combined count
    * per key, then two single-row aggregates — the profile costs one
    * scan regardless of key cardinality, and the top-10 share is exact
    * integer ten-thousandths. A p99/p50 near 1 with a tiny top-10 share
    * says the shuffle is safe; a hot top-10 share says salt first.
    */
  def skewProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def prof(df: DataFrame, key: String, label: String): DataFrame = {
      val counts = df.groupBy(col(key).as("k")).agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val top10 = counts.orderBy($"n".desc, $"k").limit(10)
        .agg(sum($"n").as("top10")).withColumn("j", lit(1))
      counts
        .agg(count(lit(1)).as("n_keys"), max($"n").as("max_rows"),
          expr("percentile(n, 0.5)").as("p50_rows"),
          expr("percentile(n, 0.99)").as("p99_rows"),
          sum($"n").as("total"))
        .withColumn("j", lit(1))
        .join(top10, "j")
        .select(lit(label).as("join_key"), $"n_keys", $"max_rows",
          $"p50_rows", $"p99_rows",
          expr("(top10 * 10000) div total").as("top10_share4"))
    }
    prof(Tables(s, dir, "orders"), "o_custkey", "orders.o_custkey")
      .unionByName(
        prof(Tables(s, dir, "lineitem"), "l_suppkey", "lineitem.l_suppkey"))
      .orderBy($"join_key")
  }

  /** Duplicate-preserving set algebra (§2.7's ALL variants): per user,
    * the purchase-event (user, day) MULTISET minus / intersected with
    * the error-event multiset, surfaced as per-user surviving-row
    * counts. Bag semantics matter when multiplicity is the signal (one
    * error "cancels" one purchase that day, not all of them) — the
    * DISTINCT forms ([[purchasersWithoutErrors]] etc.) can't express
    * that. Spark plans exceptAll/intersectAll as a count-tagged
    * aggregate + replicate generator — one shuffle on the row key, no
    * join, scale-safe at any multiplicity skew.
    */
  def setOpsBag(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .select($"user_id", to_date($"ts").as("day"), $"event_type")
    val p = ev.filter($"event_type" === "purchase").select($"user_id", $"day")
    val e = ev.filter($"event_type" === "error").select($"user_id", $"day")
    p.exceptAll(e).withColumn("op", lit("except_all"))
      .unionByName(p.intersectAll(e).withColumn("op", lit("intersect_all")))
      .groupBy($"op", $"user_id").agg(count(lit(1)).as("n_days"))
      .orderBy($"op", $"user_id")
  }

  /** Set difference (§2.7) at (user, day) grain: days on which a user
    * purchased but saw no error. (User-level difference is always empty in
    * the synthetic data — every user emits every event type.)
    */
  def purchasersWithoutErrors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .select($"user_id", to_date($"ts").as("day"), $"event_type")
    ev.filter($"event_type" === "purchase").select($"user_id", $"day").distinct()
      .except(ev.filter($"event_type" === "error").select($"user_id", $"day").distinct())
      .orderBy($"user_id", $"day")
  }

  /** Time-range (interval) join — click-to-purchase attribution: for each
    * purchase, the same user's clicks in the preceding 30 minutes. The
    * equi-key (user) carries the shuffle; the temporal bounds ride along
    * as residual predicates — so this stays a hash/sort-merge join on
    * user_id at any scale, never a cross product. (The banded twin —
    * bucketing ts into window-width bands and joining on (user, band ± 1)
    * — is the shape for range joins with NO equi-key.)
    */
  /** Multi-touch LINEAR attribution with exact cent conservation: each
    * purchase's value splits equally across the user's view/click
    * touches in the preceding hour, in integer cents — floor share per
    * touch, the remainder cents going to the EARLIEST touches (largest-
    * remainder in time order), so Σ shares ≡ the purchase value to the
    * cent in any engine, with no float split ever summing to 99.99.
    * Complements [[attributionRangeJoin]]'s last-window aggregate with
    * the per-touch credit frame a marketing-mix model consumes. Same
    * scale shape: equi-join on user + bounded temporal residual; the
    * per-purchase windows hold only that purchase's touches.
    */
  def linearAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir, "events")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id".as("p_user"),
        $"ts".as("p_ts"), round($"value" * 100).cast("long").as("value_c"))
    val touches = ev.filter($"event_type".isin("view", "click"))
      .select($"event_id".as("t_id"), $"user_id", $"ts")
    val byP = Window.partitionBy($"p_id")
    val byPOrd = byP.orderBy($"ts", $"t_id")
    purchases.join(touches,
        $"user_id" === $"p_user" &&
          $"ts" > $"p_ts" - expr("INTERVAL 60 MINUTES") &&
          $"ts" <= $"p_ts")
      .withColumn("rk", row_number().over(byPOrd))
      .withColumn("n", count(lit(1)).over(byP))
      .select($"p_id", $"t_id", $"rk".cast("int").as("rk"),
        (expr("value_c div n") +
          when($"rk" <= expr("value_c % n"), 1L).otherwise(0L)).as("share_c"))
      .orderBy($"p_id", $"rk")
  }

  def attributionRangeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir, "events")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id".as("p_user"), $"ts".as("p_ts"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"value")
    purchases.join(clicks,
        $"user_id" === $"p_user" &&
          $"ts" >= $"p_ts" - expr("INTERVAL 30 MINUTES") &&
          $"ts" < $"p_ts")
      .groupBy($"event_id")
      .agg(count(lit(1)).as("n_clicks"), moneySum($"value").as("sum_click_value"))
      .orderBy($"event_id")
  }

  /** SCD2 (slowly-changing-dimension, type 2) merge: the customer
    * dimension versioned against an update set derived from orders
    * (new balance = old + total spend, effective at the customer's last
    * order date). Customers with no orders keep their single current
    * row; updated customers get their v1 row closed at the effective
    * date and a v2 row opened. Spark has no MERGE over raw parquet; the
    * scalable shape is one agg + one equi-join + a version generator,
    * then rewrite the partition. All balance arithmetic in DECIMAL
    * (exact, associative — double sums would drift under Spark's
    * partial aggregation).
    */
  def scd2Customers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables(s, dir, "customer")
    val upd = Tables(s, dir, "orders")
      .groupBy($"o_custkey".as("c_custkey"))
      .agg(sum(dec($"o_totalprice")).as("spend"),
        max($"o_orderdate".cast("date")).as("eff_date"))
    // one join, versions from a generator — NOT a union of two joins:
    // column pruning specializes union branches (v1 drops `spend`), so
    // Catalyst plans the orders aggregation twice and nothing reuses.
    // The generator shape scans customer and orders exactly once each.
    cust.join(upd, Seq("c_custkey"), "left")
      .select($"c_custkey", $"c_acctbal", $"spend", $"eff_date",
        explode(when($"eff_date".isNull, array(lit(1)))
          .otherwise(array(lit(1), lit(2)))).as("version"))
      .select($"c_custkey", $"version".cast("int").as("version"),
        when($"version" === 1, round(dec($"c_acctbal"), 2))
          .otherwise(round(dec($"c_acctbal") + $"spend", 2))
          .cast("double").as("acctbal"),
        when($"version" === 1, to_date(lit("1992-01-01")))
          .otherwise($"eff_date").as("valid_from"),
        when($"version" === 1, $"eff_date")
          .otherwise(lit(null).cast("date")).as("valid_to"),
        when($"version" === 1, $"eff_date".isNull)
          .otherwise(lit(true)).as("is_current"))
      .orderBy($"c_custkey", $"version")
  }

  /** Column-profiling audit over orders (null / distinct counts per
    * column) — the generic data-quality scan a load pipeline runs before
    * accepting a batch (reference analog: the CHECK-constraint schema,
    * 05-create-schema.sh). Shape: unpivot to (col_name, value) then one
    * two-phase distinct aggregation keyed by column name — scales as a
    * single shuffle of width × rows, with no per-column job fan-out and
    * no multi-countDistinct EXPAND over the wide row. Values feed only
    * COUNT(DISTINCT), so the string cast's formatting is irrelevant
    * (any injective rendering yields the same counts).
    */
  /** [[profileOrders]]' sibling over the event stream table — the
    * same unpivot + one keyed distinct aggregation, proving the profile
    * shape generalizes to any table (and covering the JSON/timestamp/
    * double column kinds orders lacks).
    */
  def profileEvents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val events = Tables(s, dir, "events")
    val stackExpr = events.columns.map(c => s"'$c', CAST($c AS STRING)")
      .mkString(s"stack(${events.columns.length}, ", ", ", ")")
    events
      .select(expr(stackExpr).as(Seq("col_name", "value")))
      .groupBy($"col_name")
      .agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - count($"value")).as("n_nulls"),
        countDistinct($"value").as("n_distinct"))
      .orderBy($"col_name")
  }

  def profileOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = Tables(s, dir, "orders")
    val stackExpr = orders.columns.map(c => s"'$c', CAST($c AS STRING)")
      .mkString(s"stack(${orders.columns.length}, ", ", ", ")")
    orders
      .select(expr(stackExpr).as(Seq("col_name", "value")))
      .groupBy($"col_name")
      .agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - count($"value")).as("n_nulls"),
        countDistinct($"value").as("n_distinct"))
      .orderBy($"col_name")
  }

  /** Exact Pearson correlation and covariance of quantity vs extended
    * price per return flag. The stored doubles are 2-dp, so ×100 longs
    * recover them exactly; all five moments accumulate as integers
    * (the product sums as decimal — at 100 TB row counts Σxy/Σxx/Σyy
    * all exceed long range, and ANSI mode would throw) and the
    * final formula runs once in doubles — associative sums, so the same
    * answer at any partition count, unlike built-in corr() whose
    * merge-order drift diverges across engines. The covariance is
    * rescaled by the 100·100 quantization factor; correlation is
    * scale-free.
    */
  def corrStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val x = round($"l_quantity" * 100).cast("long")
    val y = round($"l_extendedprice" * 100).cast("long")
    val stats = Tables(s, dir, "lineitem")
      .select($"l_returnflag", x.as("x"), y.as("y"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum(($"x".cast("decimal(16,0)") * $"y").cast("decimal(30,0)")).as("sxy"),
        sum(($"x".cast("decimal(16,0)") * $"x").cast("decimal(30,0)")).as("sxx"),
        sum(($"y".cast("decimal(16,0)") * $"y").cast("decimal(30,0)")).as("syy"))
    stats
      .withColumn("nd", $"n".cast("double"))
      .withColumn("dx", $"sx".cast("double"))
      .withColumn("dy", $"sy".cast("double"))
      .select($"l_returnflag", $"n",
        round(($"nd" * $"sxy".cast("double") - $"dx" * $"dy") /
          (sqrt($"nd" * $"sxx".cast("double") - $"dx" * $"dx") *
            sqrt($"nd" * $"syy".cast("double") - $"dy" * $"dy")), 6).as("corr_qty_price"),
        round(($"sxy".cast("double") - $"dx" * $"dy" / $"nd") / $"nd" / lit(10000.0), 4)
          .as("cov_qty_price"))
      .orderBy($"l_returnflag")
  }

  /** Daily revenue with a trailing 7-day moving average. The daily
    * rollup is one map-side-combined shuffle on day; the moving window
    * then runs over the |days|-sized aggregate (single range partition
    * here; at scale the window would partition by month and carry a
    * 6-day overlap). Window sums stay in exact DECIMAL until the final
    * division.
    */
  def movingAvgRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables(s, dir, "orders")
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(dec($"o_totalprice")).as("rev"))
    val w = Window.orderBy($"day").rowsBetween(-6, 0)
    daily
      .select($"day", round($"rev", 2).cast("double").as("daily_rev"),
        round(sum($"rev").over(w).cast("double") / count(lit(1)).over(w), 4)
          .as("avg_7d"))
      .orderBy($"day")
  }

  /** LISTAGG/string_agg: each region's nations as one sorted CSV cell.
    * collect_list + array_sort keeps the result deterministic regardless
    * of shuffle arrival order — never rely on collect order.
    */
  def nationsListagg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "nation")
      .join(broadcast(Tables(s, dir, "region")),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name")
      .agg(count(lit(1)).as("n_nations"),
        array_join(array_sort(collect_list($"n_name")), ",").as("nations"))
      .orderBy($"r_name")
  }

  /** CDC diff between two snapshots keyed by `doc_id` with a content
    * fingerprint `fp`: per-key status added / removed / modified /
    * unchanged. ONE full-outer equi-join — both sides shuffle on the
    * key once, no secondary pass; at 100 TB this is the standard
    * between-crawl reconciliation and the fingerprint (not the payload)
    * is what moves through the exchange.
    */
  def snapshotDiff(a: DataFrame, b: DataFrame): DataFrame = {
    val aa = a.select(col("doc_id"), col("fp").as("fp_a"), lit(1).as("in_a"))
    val bb = b.select(col("doc_id"), col("fp").as("fp_b"), lit(1).as("in_b"))
    aa.join(bb, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("in_a").isNull, "added")
          .when(col("in_b").isNull, "removed")
          .when(col("fp_a") =!= col("fp_b"), "modified")
          .otherwise("unchanged").as("status"))
  }

  /** [[snapshotDiff]] driven end-to-end over two deterministic synthetic
    * snapshots of the documents table (the md5-bucket draw carves
    * removed-only / shared / added-only ranges; a middle bucket band is
    * "edited" via upper-casing, which also leaves CJK docs untouched —
    * genuine unchanged rows inside the modified band). Reports only the
    * changed keys, the between-crawl delta a pipeline acts on.
    */
  /** TPC-H Q7-shaped shipping volume between nation PAIRS: lineitem
    * revenue attributed to (supplier nation, customer nation, ship
    * year). Five-way join where both dimension chains (supplier→nation,
    * orders→customer→nation) broadcast and only the fact table streams
    * — at 100 TB the one big-side shuffle is the orders equi-join, and
    * AQE's broadcast thresholds keep every dimension hop map-side.
    */
  def nationVolume(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n1 = Tables(s, dir, "nation").select(
      $"n_nationkey".as("sn_key"), $"n_name".as("supp_nation"))
    val n2 = Tables(s, dir, "nation").select(
      $"n_nationkey".as("cn_key"), $"n_name".as("cust_nation"))
    Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables(s, dir, "customer")), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables(s, dir, "supplier")), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(n1), $"s_nationkey" === $"sn_key")
      .join(broadcast(n2), $"c_nationkey" === $"cn_key")
      .filter($"supp_nation" =!= $"cust_nation")
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").as("ship_year"))
      .agg(round(sum(dec($"l_extendedprice") * (lit(1) - rate($"l_discount"))), 2)
          .cast("double").as("volume"),
        count(lit(1)).as("n_items"))
      .orderBy($"supp_nation", $"cust_nation", $"ship_year")
  }

  /** TPC-H Q10-shaped returned-item reporting: revenue lost to returns
    * per customer, top 20 — the anti-join-free "who returns the most"
    * ranking; the fact-side filter (returnflag) lands at the scan before
    * any join.
    */
  def returnedItemReport(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import s.implicits._
    Tables(s, dir, "lineitem")
      .filter($"l_returnflag" === "R")
      .join(Tables(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables(s, dir, "customer")), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"c_name", $"n_name")
      .agg(round(sum(dec($"l_extendedprice") * (lit(1) - rate($"l_discount"))), 2)
          .cast("double").as("lost_revenue"),
        count(lit(1)).as("n_returned"))
      .orderBy($"lost_revenue".desc, $"c_custkey")
      .limit(k)
  }

  /** Point-in-time-correct enrichment against the SCD2 dimension — the
    * feature-store join done right: each order picks the customer
    * VERSION whose validity interval contains the order date, not the
    * current row (training-serving skew in one join condition: enriching
    * with is_current leaks future attribute values into past facts).
    * Since SCD2 validity intervals partition time per key, every fact
    * matches exactly one version; the join is a plain equi-join on the
    * key with the interval residual — versions per key are bounded, so
    * the residual never degenerates toward a range cross-product.
    */
  def pitEnrichment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = scd2Customers(s, dir)
    Tables(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey",
        $"o_orderdate".cast("date").as("o_date"))
      .join(dim, $"o_custkey" === dim("c_custkey") &&
        $"o_date" >= dim("valid_from") &&
        (dim("valid_to").isNull || $"o_date" < dim("valid_to")))
      .select($"o_orderkey", $"o_custkey", $"version", $"acctbal")
      .orderBy($"o_orderkey")
  }

  /** CDC APPLY — the write half of [[snapshotDiff]]: fold a change feed
    * (doc_id, status ∈ added|modified|removed, fp payload for upserts)
    * into a base snapshot and return the next snapshot. One anti-join
    * drops deleted and superseded rows, one union appends the upserts —
    * the MERGE-over-parquet idiom with no per-row mutation, both legs
    * broadcast-sized whenever the change feed is small relative to the
    * base (the normal CDC regime at 100 TB).
    */
  def applyCdc(base: DataFrame, changes: DataFrame): DataFrame =
    base
      .join(changes.filter(col("status").isin("removed", "modified"))
        .select(col("doc_id")), Seq("doc_id"), "left_anti")
      .unionByName(changes.filter(col("status").isin("added", "modified"))
        .select(col("doc_id"), col("fp")))

  /** Round-trip proof instance: the diff between two derived corpus
    * snapshots, applied back onto snapshot A, must REPRODUCE snapshot B
    * row-for-row — the oracle states B directly, so the equality IS the
    * correctness of the whole diff→apply cycle (detect and apply are
    * inverse by construction, not by convention).
    */
  def cdcApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables(s, dir, "documents")
      .select($"doc_id", $"text",
        TextOps.hashBucket($"doc_id", "snap:").as("bk"))
      .localCheckpoint() // both snapshots derive from it
    val snapA = d.filter($"bk" < 90)
      .select($"doc_id", md5($"text").as("fp"))
    val snapB = d.filter($"bk" >= 10)
      .select($"doc_id",
        md5(when($"bk" >= 40 && $"bk" < 60, upper($"text"))
          .otherwise($"text")).as("fp"))
    val changes = snapshotDiff(snapA, snapB)
      .filter($"status" =!= "unchanged")
      .join(snapB.select($"doc_id", $"fp"), Seq("doc_id"), "left")
      .select($"doc_id", $"status", $"fp")
    applyCdc(snapA, changes).orderBy($"doc_id")
  }

  /** Market-basket association rules over co-ordered part brands
    * (Agrawal–Srikant support/confidence plus lift): which brand in an
    * order predicts which other brand — the classic co-purchase signal
    * behind recommenders and assortment planning. The pair generator
    * is per-order and bounded by basket size squared (TPC-H baskets
    * are ≤ 7 lines, so the self-join on l_orderkey is LINEAR in the
    * fact table — never an all-pairs blowup), brands broadcast from
    * the part dimension, and the rule rollup is capped at |brands|²
    * rows. Confidence and lift are integer cross-ratios (bp / ppm
    * floor divisions both engines compute identically); ranking
    * tie-breaks through the rule key so top-k is deterministic.
    */
  def basketRules(s: SparkSession, dir: String, minSupport: Long = 20L,
                  k: Int = 30): DataFrame = {
    import s.implicits._
    // one shuffle total: baskets collapse to per-order brand SETS, and
    // both the pair generation (set × set, ≤ basket² row-local) and the
    // single counts are explodes over that frame — the membership
    // self-join form paid three 6M-row exchanges (distinct + two SMJ
    // sorts) and measured 10x slower at 10x data
    // brands ride the shuffle as dense int CODES (the part dimension is
    // broadcast both to code on the way in and to decode the ≤|brands|²
    // rollup on the way out) — strings only ever exist at dimension size
    val brandDim = Tables(s, dir, "part").select($"p_brand").distinct()
      .withColumn("bc", row_number()
        .over(Window.orderBy($"p_brand")).cast("int"))
      .localCheckpoint() // coder, both decoders
    val parts = Tables(s, dir, "part")
      .select($"p_partkey", $"p_brand".as("pb"))
      .join(brandDim, $"pb" === $"p_brand")
      .select($"p_partkey", $"bc")
    val sets = Tables(s, dir, "lineitem")
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .select($"l_orderkey".as("okey"), $"bc")
      .groupBy($"okey").agg(collect_set($"bc").as("bs"))
      .localCheckpoint() // singles, pairs, and N all read it
    val nOrders = sets.count()
    val singles = sets.select(explode($"bs").as("bc"))
      .groupBy($"bc").agg(count(lit(1)).as("n_b"))
      .localCheckpoint() // both rule sides join it
    // two codegen'd generators beat one row-local nested-lambda pair
    // expression: higher-order functions run INTERPRETED per row
    // (measured ~40% slower at 10x), explode stays in codegen
    val pairs = sets
      .select(explode($"bs").as("ac"), $"bs")
      .select($"ac", explode($"bs").as("cc"))
      .filter($"ac" =!= $"cc")
      .groupBy($"ac", $"cc")
      .agg(count(lit(1)).as("n_both"))
      .filter($"n_both" >= minSupport)
    pairs
      .join(broadcast(singles.select($"bc".as("ac"),
        $"n_b".as("n_ante"))), Seq("ac"))
      .join(broadcast(singles.select($"bc".as("cc"),
        $"n_b".as("n_cons"))), Seq("cc"))
      .join(broadcast(brandDim.select($"bc".as("ac"),
        $"p_brand".as("antecedent"))), Seq("ac"))
      .join(broadcast(brandDim.select($"bc".as("cc"),
        $"p_brand".as("consequent"))), Seq("cc"))
      .withColumn("confidence_bp",
        expr("n_both * 10000 div n_ante"))
      // numerator in DECIMAL(38,0): n_both·N·10⁶ crosses 2⁶³ around
      // sf10 for high-support pairs, where LONG would silently wrap
      // while the oracle's BIGINT multiply raises — the same
      // wide-decimal-for-near-2⁶³-products discipline as emdDrift
      .withColumn("lift_ppm",
        expr(s"CAST(CAST(n_both AS DECIMAL(38,0)) * ${nOrders}L" +
          " * 1000000 div (n_ante * n_cons) AS BIGINT)"))
      .select($"antecedent", $"consequent", $"n_both", $"n_ante",
        $"n_cons", $"confidence_bp", $"lift_ppm")
      .orderBy($"lift_ppm".desc, $"antecedent", $"consequent")
      .limit(k)
  }

  /** Classical additive seasonal decomposition of the daily-revenue
    * series (trend + weekly seasonal + remainder, the moving-average
    * STL ancestor): trend is the centered 7-day moving average in
    * floored micro-cents (full windows only — edge days are excluded,
    * not padded), the seasonal component is the per-weekday mean of
    * the detrended series, and the remainder is what neither explains
    * — the input every "is Monday really our worst day" decision
    * should see instead of raw dailies. All arithmetic is integer:
    * micro-cent fixed point with truncating division, which Spark
    * `div`, DuckDB `//`, and BigInt all perform identically, so the
    * decomposition is engine-exact; day + weekday(Mon=0) ride the
    * calendar-bounded rollup (one global-window pass, audit-sized).
    */
  def seasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = dailyCents(Tables(s, dir, "orders"), $"o_orderdate",
      $"o_totalprice")
    val w = Window.orderBy($"day").rowsBetween(-3, 3)
    val det = daily
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("sum7", sum($"cents").over(w))
      .filter($"n_win" === 7L) // centered MA defined on full weeks only
      .withColumn("trend_u", expr("sum7 * 1000000 div 7"))
      .withColumn("weekday",
        graft.functions.dates.weekdayIndex($"day").cast("long"))
      .withColumn("detrended_u", $"cents" * lit(1000000L) - $"trend_u")
      .localCheckpoint() // seasonal means and the final join read it
    val seasonal = det.groupBy($"weekday")
      .agg(sum($"detrended_u").as("sd"), count(lit(1)).as("nd"))
      .select($"weekday", expr("sd div nd").as("seasonal_u"))
    det.join(broadcast(seasonal), Seq("weekday"))
      .withColumn("remainder_u", $"detrended_u" - $"seasonal_u")
      .select($"day", $"weekday", $"cents", $"trend_u", $"seasonal_u",
        $"remainder_u")
      .orderBy($"day")
  }

  /** Seasonal/trend strength of the daily revenue series — the one-row
    * summary of [[seasonalDecompose]] (Cleveland's STL diagnostics):
    * F_s = 1 − Var(R)/Var(S+R) says how much of the detrended variance
    * the weekday pattern explains, F_t = 1 − Var(R)/Var(T+R) the same
    * for the trend — the two numbers that decide whether a forecast
    * needs [[holtWinters]] or plain [[holtLinear]]. Both are exact
    * integer variance-numerator ratios (n·Σx²−(Σx)² with the n
    * cancelling), components floored from micro back to cents first so
    * the wide products stay far inside decimal38 at any gate SF;
    * clamped at 0 per the STL convention. One decomposition pass, one
    * moment rollup.
    */
  def seasonalStrength(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val d = seasonalDecompose(s, dir)
      .select(expr("remainder_u div 1000000").as("r"),
        expr("(seasonal_u + remainder_u) div 1000000").as("sr"),
        expr("(trend_u + remainder_u) div 1000000").as("tr"))
    val m = d.agg(count(lit(1)).as("n"),
      sum($"r".cast(dec)).as("s_r"), sum($"r".cast(dec) * $"r").as("ss_r"),
      sum($"sr".cast(dec)).as("s_sr"),
      sum($"sr".cast(dec) * $"sr").as("ss_sr"),
      sum($"tr".cast(dec)).as("s_tr"),
      sum($"tr".cast(dec) * $"tr").as("ss_tr"))
    def strength(vNum: Column, name: String): Column =
      when(vNum > 0, greatest(lit(0L),
        lit(10000L) - graft.functions.num.toLongChecked(
          graft.functions.num.floorDivWide(
            expr("(n * ss_r - s_r * s_r) * 10000"), vNum), name)))
    m.withColumn("vsr", expr("n * ss_sr - s_sr * s_sr"))
      .withColumn("vtr", expr("n * ss_tr - s_tr * s_tr"))
      .select($"n",
        strength($"vsr", "fs").as("seasonal_strength_bp"),
        strength($"vtr", "ft").as("trend_strength_bp"))
  }

  /** Column-stat drift between two corpus snapshots — the data-contract
    * check that runs BEFORE a new crawl replaces the old one: per
    * column, both snapshots' row count, exact NDV, min/max and average
    * length, joined into deltas and a drifted verdict. Snapshots are
    * the [[corpusSnapshotDiff]] carve (removed band, added band, an
    * upper-cased edit band whose fingerprint column makes text edits
    * VISIBLE as NDV/min-max drift while lang/source stay stable — the
    * discriminating fixture). Same one-stacked-shuffle-per-side shape
    * as [[columnStats]]; the per-column join is |columns|-sized.
    */
  def schemaDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables(s, dir, "documents")
      .select($"doc_id", $"lang", $"source", $"n_chars", $"text",
        TextOps.hashBucket($"doc_id", "snap:").as("bk"))
      .localCheckpoint() // both snapshot scans read it
    def pad(c: org.apache.spark.sql.Column) =
      lpad(c.cast("string"), 12, "0")
    def stats(df: DataFrame, side: String): DataFrame = {
      val cols = Seq(
        "doc_id" -> pad($"doc_id"),
        "lang" -> $"lang",
        "source" -> $"source",
        "n_chars" -> pad($"n_chars"),
        "fp" -> md5($"text"))
      df.select(explode(array(cols.map { case (n, c) =>
          struct(lit(n).as("column"), c.as("v")) }: _*)).as("kv"))
        .select($"kv.column".as("column"), $"kv.v".as("v"))
        .groupBy($"column")
        .agg(count(lit(1)).as(s"n_$side"),
          countDistinct($"v").as(s"ndv_$side"),
          min($"v").as(s"min_$side"), max($"v").as(s"max_$side"),
          sum(length($"v")).as("sl"))
        .withColumn(s"len_milli_$side", expr(s"sl * 1000 div n_$side"))
        .drop("sl")
    }
    val snapA = d.filter($"bk" < 90)
    val snapB = d.filter($"bk" >= 10)
      .withColumn("text", when($"bk" >= 40 && $"bk" < 60,
        upper($"text")).otherwise($"text"))
    stats(snapA, "a").join(stats(snapB, "b"), Seq("column"))
      .withColumn("row_delta", $"n_b" - $"n_a")
      .withColumn("ndv_delta", $"ndv_b" - $"ndv_a")
      .withColumn("min_changed", $"min_a" =!= $"min_b")
      .withColumn("max_changed", $"max_a" =!= $"max_b")
      .withColumn("len_delta_milli", $"len_milli_b" - $"len_milli_a")
      .withColumn("drifted",
        $"ndv_delta" =!= 0L || $"min_changed" || $"max_changed" ||
          $"len_delta_milli" =!= 0L)
      .select($"column", $"n_a", $"n_b", $"row_delta", $"ndv_a",
        $"ndv_b", $"ndv_delta", $"min_changed", $"max_changed",
        $"len_delta_milli", $"drifted")
      .orderBy($"column")
  }

  /** SQL-text surface proof: the same engine through `spark.sql(...)`
    * over registered temp views — a user who writes ANSI SQL instead of
    * the DataFrame API gets the identical Catalyst plan, pushdowns and
    * all. The query is a windowed-over-aggregate revenue share (the
    * shape that exercises both agg and window resolution in the SQL
    * analyzer); integer cents and a bp floor division keep it
    * engine-exact. Views register idempotently per session.
    */
  def sqlRevenueShare(s: SparkSession, dir: String): DataFrame = {
    Seq("orders", "customer", "nation").foreach(t =>
      Tables(s, dir, t).createOrReplaceTempView(t))
    s.sql("""
      WITH r AS (
        SELECT n.n_name, CAST(round(o.o_totalprice * 100) AS BIGINT)
          AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey)
      SELECT n_name, sum(cents) AS revenue_cents,
        sum(cents) * 10000 div sum(sum(cents)) OVER () AS share_bp
      FROM r GROUP BY n_name
      ORDER BY revenue_cents DESC, n_name""")
  }

  /** TPC-H Q13-shaped customer distribution: how many customers placed
    * exactly k orders, INCLUDING the zero-order customers a plain join
    * silently drops — the left outer join is the whole point (the
    * reference shape counts c_count=0 as a first-class bucket, the
    * dormant-customer cohort every retention plan forgets). Two
    * aggregations, both shuffle-light: orders roll up to one row per
    * customer before the dimension join, so the big side never carries
    * more than |customers| rows into the outer join.
    */
  def custOrderHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perCust = Tables(s, dir, "orders")
      .groupBy($"o_custkey").agg(count(lit(1)).as("n"))
    Tables(s, dir, "customer").select($"c_custkey")
      .join(perCust, $"c_custkey" === $"o_custkey", "left")
      .select(coalesce($"n", lit(0L)).as("c_count"))
      .groupBy($"c_count").agg(count(lit(1)).as("n_customers"))
      .orderBy($"n_customers".desc, $"c_count".desc)
  }

  /** TPC-H Q4-shaped order-priority check: orders with at least one
    * line item shipped AFTER the order date, counted per priority —
    * the canonical EXISTS turned left-semi join (never a count-then-
    * filter: the semi join short-circuits on first match and carries
    * no lineitem payload through the shuffle). The fact-side predicate
    * needs o_orderdate, so it rides the join condition — Catalyst
    * still prunes both scans to the join keys + dates.
    */
  def priorityCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_shipdate".cast("date").as("shipd"))
    Tables(s, dir, "orders")
      .select($"o_orderkey", $"o_orderpriority",
        $"o_orderdate".cast("date").as("od"))
      .join(li, $"o_orderkey" === $"l_orderkey" && $"shipd" > $"od",
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  /** Power analysis for the order-value A/B harness: the sample size
    * per arm needed to detect a `mdeBp` relative lift of mean order
    * value at α=5% two-sided, power 80% — the number every experiment
    * plan needs BEFORE launch, computed from the data's own exact
    * moments instead of a guessed σ. n = 2σ²(z_{α/2}+z_β)²/δ² with the
    * z-sum as the fixed micro literal 2.801585; the whole chain is a
    * STAGED integer composition (floored variance in cent², floored
    * mean and δ in cents, one ceiling division at the end) that both
    * engines replicate step by step — the objective is the staged
    * formula itself, so agreement is by construction, not by float
    * luck. One aggregation pass; DECIMAL(38,0) keeps nQ−S² exact at
    * any SF.
    */
  def powerAnalysis(s: SparkSession, dir: String,
                    mdeBp: Long = 200L): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val zSumMicro = 2801585L // 1.959964 + 0.841621, fixed design literal
    Tables(s, dir, "orders")
      .select(round($"o_totalprice" * 100).cast("long").as("cents"))
      .agg(count(lit(1)).as("n_obs"), sum($"cents").as("s"),
        sum(($"cents".cast(dec) * $"cents")).as("q"))
      .withColumn("var_c2", expr(
        s"CAST((CAST(n_obs AS $dec) * q - CAST(s AS $dec) * s)" +
        s" div (CAST(n_obs AS $dec) * (n_obs - 1)) AS BIGINT)"))
      .withColumn("mean_c", expr("s div n_obs"))
      .withColumn("mde_bp", lit(mdeBp))
      .withColumn("delta_c", expr("mean_c * mde_bp div 10000"))
      .withColumn("n_required", expr(
        s"CAST((2 * CAST($zSumMicro AS $dec) * $zSumMicro * var_c2" +
        s" + CAST(delta_c AS $dec) * delta_c * 1000000000000 - 1)" +
        s" div (CAST(delta_c AS $dec) * delta_c * 1000000000000)" +
        " AS BIGINT)"))
      .select($"n_obs", $"mean_c", $"var_c2", $"mde_bp", $"delta_c",
        $"n_required")
  }

  /** ANALYZE-style column statistics over the fact table — the inputs
    * every cost-based decision in this engine quietly depends on
    * (NDV → join cardinality, min/max → zone pruning, null share →
    * anti-join sizing), shipped as checked data instead of trusted
    * folklore. One STACKED pass: each row explodes into (column,
    * value-string) pairs so the whole stats table is ONE shuffle
    * regardless of column count (per-column countDistinct would
    * expand into as many aggregates as columns); NDV is exact, not a
    * sketch — the sketch variants live in q_approx_distinct_users,
    * and this is their ground truth. min/max compare lexicographically
    * on canonical strings (numerics zero-padded to fixed width so the
    * string order IS the numeric order — both engines share it).
    */
  def columnStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables(s, dir, "lineitem")
    def pad(c: org.apache.spark.sql.Column) =
      lpad(c.cast("string"), 12, "0")
    // array-of-structs, not a map: struct fields may be null (a null
    // map value would throw), and null share is exactly what we audit
    val cols = Seq(
      "l_orderkey" -> pad($"l_orderkey"),
      "l_partkey" -> pad($"l_partkey"),
      "l_suppkey" -> pad($"l_suppkey"),
      "l_quantity" -> pad($"l_quantity".cast("long")),
      "l_cents" -> pad(round($"l_extendedprice" * 100).cast("long")),
      "l_returnflag" -> $"l_returnflag",
      "l_shipdate" -> $"l_shipdate".cast("date").cast("string"))
    val stacked = li
      .select(explode(array(cols.map { case (n, c) =>
        struct(lit(n).as("column"), c.as("v")) }: _*)).as("kv"))
      .select($"kv.column".as("column"), $"kv.v".as("v"))
    stacked
      .groupBy($"column")
      .agg(count(lit(1)).as("n_rows"),
        sum(when($"v".isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct($"v").as("ndv"),
        min($"v").as("min_v"), max($"v").as("max_v"),
        sum(length($"v")).as("sum_len"))
      .withColumn("avg_len_milli", expr("sum_len * 1000 div n_rows"))
      .drop("sum_len")
      .orderBy($"column")
  }

  /** Rolling 28-day median/MAD robust baseline over daily revenue —
    * the anomaly floor that survives what breaks every mean/stddev
    * monitor: one fat-finger day shifts a trailing mean for a month,
    * while the median shrugs and MAD replaces σ with a 50%-breakdown
    * spread. Exactness without a single division: the DOUBLED median
    * (lo+hi order statistics, the runsTest convention) and doubled MAD
    * are pure integer order statistics, and the alarm compares
    * |x−med|·2 > 3·mad2 cross-multiplied. Execution is one window
    * collect per day (the trailing array is CONSTANT-bounded — 28
    * longs — so the sort is O(1) per row and nothing shuffles beyond
    * the calendar rollup); full windows only, the honest warm-up.
    */
  def rollingMedianMad(s: SparkSession, dir: String,
                       win: Int = 28): DataFrame = {
    import s.implicits._
    rollingMedianMadCore(dailyCents(Tables(s, dir, "orders"),
      $"o_orderdate", $"o_totalprice"), win).orderBy($"day")
  }

  /** [[rollingMedianMad]] over a `(day, cents)` frame, one row per day
    * with a full window — shared with the streaming `robustBaselineSink`. */
  private[graft] def rollingMedianMadCore(daily: DataFrame,
                                          win: Int): DataFrame = {
    val w = Window.orderBy(col("day")).rowsBetween(-(win - 1), 0)
    def med2(arr: String) = // lo + hi middle order statistics, 1-indexed
      s"element_at($arr, CAST((size($arr) + 1) div 2 AS INT))" +
        s" + element_at($arr, CAST((size($arr) + 2) div 2 AS INT))"
    daily
      .withColumn("arr", array_sort(collect_list(col("cents")).over(w)))
      .filter(size(col("arr")) === win)
      .withColumn("med2", expr(med2("arr")))
      .withColumn("devs", expr(
        "array_sort(transform(arr, v -> abs(2 * v - med2)))"))
      .withColumn("mad4", expr(med2("devs"))) // devs are pre-doubled
      .withColumn("anomaly",
        abs(col("cents") * 2 - col("med2")) * 2 > col("mad4") * 3)
      .select(col("day"), col("cents"), col("med2"), col("mad4"),
        col("anomaly"))
  }

  /** Seasonality-adjusted robust anomalies: the composition the two
    * pieces exist FOR — [[seasonalDecompose]] strips the weekly
    * pattern, then the doubled-median/quadrupled-MAD 3σ-equivalent
    * rule runs on the REMAINDER, so a strong-but-normal Monday no
    * longer trips the alarm and a modest-but-unseasonal Tuesday does.
    * The remainder spread is GLOBAL (one calendar-bounded array, the
    * runsTest doubled-median discipline, zero divisions); flag
    * comparison cross-multiplied. This is the monitor rollingMedianMad
    * approximates when seasonality is weak — and the right one when
    * it is not.
    */
  def seasonalAnomalies(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = seasonalDecompose(s, dir).localCheckpoint() // spread + flag
    def m2(arr: String) =
      s"element_at($arr, CAST((size($arr) + 1) div 2 AS INT))" +
        s" + element_at($arr, CAST((size($arr) + 2) div 2 AS INT))"
    val spread = dec
      .agg(array_sort(collect_list($"remainder_u")).as("arr"))
      .withColumn("med2_u", expr(m2("arr")))
      .withColumn("devs", expr(
        "array_sort(transform(arr, v -> abs(2 * v - med2_u)))"))
      .select($"med2_u", expr(m2("devs")).as("mad4_u"))
    dec.crossJoin(broadcast(spread))
      .withColumn("anomaly",
        abs($"remainder_u" * 2 - $"med2_u") * 2 > $"mad4_u" * 3)
      .select($"day", $"cents", $"remainder_u", $"med2_u", $"mad4_u",
        $"anomaly")
      .orderBy($"day")
  }

  /** MASE forecast backtest (Hyndman–Koehler 2006): scores a trailing
    * 7-day-mean forecaster against the scaled error of the seasonal-
    * naive benchmark (y_{t−7}) over the daily-revenue series — the
    * unit-free "is this model worth shipping" number (MASE < 1 beats
    * the naive). Honest backtest discipline: the model sees ONLY rows
    * t−7..t−1 (trailing window, never centered), both error sums
    * accumulate as exact micro-cent integers, and MASE lands as one
    * truncating milli division identical in both engines. Per-day
    * win share rides the same single window pass.
    */
  def maseBacktest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = dailyCents(Tables(s, dir, "orders"), $"o_orderdate",
      $"o_totalprice")
    val w = Window.orderBy($"day")
    daily
      .withColumn("n_prev", count(lit(1)).over(w.rowsBetween(-7, -1)))
      .withColumn("fc_u",
        expr("sum(cents) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING" +
          " AND 1 PRECEDING) * 1000000 div 7"))
      .withColumn("naive", lag($"cents", 7).over(w))
      .filter($"n_prev" === 7L)
      .withColumn("e_model_u", abs($"cents" * lit(1000000L) - $"fc_u"))
      .withColumn("e_naive_u",
        abs($"cents" - $"naive") * lit(1000000L))
      .agg(count(lit(1)).as("n_eval"),
        // micro-cent error sums overflow long past ~sf1 → DECIMAL(38,0)
        sum($"e_model_u".cast("decimal(38,0)")).as("se_model_u"),
        sum($"e_naive_u".cast("decimal(38,0)")).as("se_naive_u"),
        sum(when($"e_model_u" < $"e_naive_u", 1L).otherwise(0L))
          .as("n_wins"))
      .select($"n_eval",
        expr("CAST(se_model_u div n_eval AS BIGINT)").as("mae_model_u"),
        expr("CAST(se_naive_u div n_eval AS BIGINT)").as("mae_naive_u"),
        expr("CAST(se_model_u * 1000 div se_naive_u AS BIGINT)")
          .as("mase_milli"),
        expr("n_wins * 10000 div n_eval").as("win_bp"))
  }

  /** Exact A/A permutation test on order values — the
    * distribution-function-free significance machine: the observed
    * md5 arm split (perm 0) is compared against B=199 re-randomized
    * assignments (perm 1..B), each a deterministic md5 draw, so both
    * engines enumerate the SAME null distribution and the p-value is
    * exact integer arithmetic end-to-end (no normal approximation, no
    * transcendental anywhere). The statistic is the cross-scaled mean
    * gap |n_B·S_A − n_A·S_B| in DECIMAL(38,0) (long wraps past ~sf1).
    * Since arms are content-independent hashes, a small p indicts the
    * harness, not a treatment — the logRankTest discipline, now for
    * means. Scale: one generator fan-out of B+1 rows per order (the
    * permutation axis is embarrassingly parallel), one groupBy(perm)
    * — shuffle rows = B+1, independent of the fact table.
    */
  def permutationTest(s: SparkSession, dir: String,
                      b: Int = 199): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    require(b < 239, "two md5 digests carry 240 usable assignment bits")
    // 200 independent arm draws from TWO md5 digests per order, not
    // one md5 per (perm, order): digest bits are iid uniform, so bit p
    // IS the p-th re-randomization. The digests decode to FOUR longs
    // (60 hex chars = 4 x 15-char chunks) once per ORDER; the per-
    // fan-out-row arm is pure long shift/mask — a per-row
    // conv(substring(...)) here measured 6x the whole query
    val perms = Tables(s, dir, "orders")
      .select($"o_orderkey",
        round($"o_totalprice" * 100).cast("long").as("cents"))
      // pin fan-out (r13, guide §2.5): the single-file orders scan is one
      // task, and the (b+1)-way explode below otherwise computes all
      // (b+1)·|orders| arm rows on it — repartition the narrow 16-byte
      // rows first so the fan-out and the two md5s run 32-way
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
        $"o_orderkey")
      .withColumn("h", concat(
        md5(concat(lit("perm:"), $"o_orderkey".cast("string"))),
        md5(concat(lit("perm2:"), $"o_orderkey".cast("string")))))
      .withColumn("hb", array((0 until 4).map(i => expr(
        s"CAST(conv(substring(h, ${i * 15 + 1}, 15), 16, 10) AS LONG)"))
        : _*))
      .withColumn("p", explode(sequence(lit(0), lit(b))))
      .withColumn("arm", expr(
        "shiftright(element_at(hb, CAST(p div 60 AS INT) + 1)," +
        " CAST(p % 60 AS INT)) & 1"))
      .groupBy($"p")
      // hot-path sums stay LONG (arm cent totals are < 2⁶³ through
      // sf100); the decimal cast waits for the B+1-row stat stage —
      // a DECIMAL(38) aggregation buffer on the fan-out rows measured
      // ~2x the whole query
      .agg(sum(when($"arm" === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when($"arm" === 0L, $"cents").otherwise(0L)).as("s_a"),
        sum(when($"arm" === 1L, 1L).otherwise(0L)).as("n_b"),
        sum(when($"arm" === 1L, $"cents").otherwise(0L)).as("s_b"))
      .withColumn("t_stat",
        abs($"n_b" * $"s_a".cast(dec) - $"n_a" * $"s_b".cast(dec)))
      .localCheckpoint() // observed row and null distribution read it
    val obs = perms.filter($"p" === 0)
      .select($"t_stat".as("t_obs"), $"n_a".as("n_arm_a"),
        $"n_b".as("n_arm_b"))
    perms.filter($"p" >= 1).crossJoin(broadcast(obs))
      .agg(max($"t_obs").as("t_obs"), max($"n_arm_a").as("n_arm_a"),
        max($"n_arm_b").as("n_arm_b"), count(lit(1)).as("n_perms"),
        sum(when($"t_stat" >= $"t_obs", 1L).otherwise(0L)).as("n_ge"))
      .withColumn("p_milli", expr("(1 + n_ge) * 1000 div (n_perms + 1)"))
      .select($"n_arm_a", $"n_arm_b",
        // |n_b·s_a − n_a·s_b| ≈ 8e13 at sf0.01, ~3e18 at sf1 — inside
        // int64 at gate scale; narrow loudly past it
        graft.functions.num.toLongChecked($"t_obs", "t_obs").as("t_obs"),
        $"n_perms", $"n_ge", $"p_milli")
  }

  /** Incremental view maintenance of a grouped aggregate — the engine
    * feature that makes a 100 TB materialized rollup affordable: the
    * stored view V(custkey → count, sum, min) absorbs a delta batch
    * (deletes + inserts, updates as delete+insert pairs) WITHOUT
    * rescanning the base table. count/sum are self-maintainable
    * (signed delta aggregates merged by one dimension-sized full-outer
    * join — the DBSP/ring-of-deltas kernel); MIN is not, so the merge
    * flags exactly the groups whose deleted batch could have carried
    * the stored minimum (min_del ≤ min_view) and re-probes ONLY those
    * groups against the post-delta base — the classic bounded repair,
    * cost ∝ affected groups, never ∝ base. The emitted view must equal
    * a full recompute row-for-row; the oracle states the recompute
    * directly, so the equality IS the maintenance proof.
    *
    * Delta is carved deterministically from orders by md5 bucket on
    * o_orderkey: [90,100) never loaded (arriving inserts), [85,90)
    * deleted, [80,85) re-priced +1000¢ (update = delete + insert).
    */
  def ivmAggApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = Tables(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey",
        round($"o_totalprice" * 100).cast("long").as("cents"),
        TextOps.hashBucket($"o_orderkey", "ivm:").as("bk"))
      .localCheckpoint() // base, view, and both delta legs derive from it
    val base = b.filter($"bk" < 90)
    // the materialized view (at scale: a stored table, not a recompute)
    val view = base.groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_v"), sum($"cents").as("s_v"),
        min($"cents").as("m_v"))
      .localCheckpoint()
    val deletes = base.filter($"bk" >= 80)
    val inserts = b.filter($"bk" >= 90)
      .select($"o_orderkey", $"o_custkey", $"cents")
      .unionByName(base.filter($"bk" >= 80 && $"bk" < 85)
        .select($"o_orderkey", $"o_custkey",
          ($"cents" + 1000L).as("cents")))
    val dAgg = deletes.groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_d"), sum($"cents").as("s_d"),
        min($"cents").as("m_d"))
    val iAgg = inserts.groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_i"), sum($"cents").as("s_i"),
        min($"cents").as("m_i"))
    val merged = view
      .join(dAgg, Seq("o_custkey"), "full_outer")
      .join(iAgg, Seq("o_custkey"), "full_outer")
      .withColumn("n_orders",
        coalesce($"n_v", lit(0L)) - coalesce($"n_d", lit(0L))
          + coalesce($"n_i", lit(0L)))
      .filter($"n_orders" > 0L)
      .withColumn("sum_cents",
        coalesce($"s_v", lit(0L)) - coalesce($"s_d", lit(0L))
          + coalesce($"s_i", lit(0L)))
      .withColumn("min_repaired",
        $"m_v".isNotNull && $"m_d".isNotNull && $"m_d" <= $"m_v")
      // fast-path min: view min survives (no deleted row reached it),
      // only a smaller insert can improve it; least() skips nulls
      .withColumn("min_fast", least($"m_v", $"m_i"))
      .localCheckpoint() // repair keys and the final merge both read it
    // bounded repair: re-probe ONLY flagged groups against post-base
    val repairKeys = merged.filter($"min_repaired")
      .select($"o_custkey")
    val post = base
      .join(deletes.select($"o_orderkey"), Seq("o_orderkey"), "left_anti")
      .select($"o_orderkey", $"o_custkey", $"cents")
      .unionByName(inserts)
    val repaired = post
      .join(broadcast(repairKeys), Seq("o_custkey"))
      .groupBy($"o_custkey").agg(min($"cents").as("m_r"))
    merged
      .join(repaired, Seq("o_custkey"), "left")
      .withColumn("min_cents",
        when($"min_repaired", $"m_r").otherwise($"min_fast"))
      .select($"o_custkey", $"n_orders", $"sum_cents", $"min_cents",
        $"min_repaired")
      .orderBy($"o_custkey")
  }

  def corpusSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables(s, dir, "documents")
      .select($"doc_id", $"text",
        TextOps.hashBucket($"doc_id", "snap:").as("bk"))
    val snapA = d.filter($"bk" < 90)
      .select($"doc_id", md5($"text").as("fp"))
    val snapB = d.filter($"bk" >= 10)
      .select($"doc_id",
        md5(when($"bk" >= 40 && $"bk" < 60, upper($"text"))
          .otherwise($"text")).as("fp"))
    snapshotDiff(snapA, snapB)
      .filter($"status" =!= "unchanged")
      .orderBy($"doc_id")
  }

  /** Declarative data-quality constraint audit (the Deequ /
    * Great-Expectations pattern): a fixed constraint set over the fact
    * table evaluated in ONE aggregation pass (plus one join for the
    * referential check), each emitting (constraint, metric in basis
    * points, threshold, pass). Metrics are integer cross-ratios — share
    * of rows satisfying the predicate — so verdicts are float-free.
    * This synthetic lineitem genuinely FAILS the primary-key uniqueness
    * constraint (the generator reuses (orderkey, linenumber)), so both
    * verdicts are exercised on real data.
    *
    * Scale: completeness/range/sign metrics are one scan with
    * conditional sums (map-side combined); uniqueness pays the one
    * distinct; the referential check is an equi-join on the key.
    */
  def constraintAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = Tables(s, dir, "lineitem")
    val o = Tables(s, dir, "orders").select($"o_orderkey")
    val base = l.agg(
      count(lit(1)).as("n"),
      sum(when($"l_returnflag".isNotNull, 1L).otherwise(0L)).as("c_ret"),
      sum(when($"l_quantity" >= 1 && $"l_quantity" <= 50, 1L).otherwise(0L))
        .as("c_qty"),
      sum(when($"l_discount" >= 0 && $"l_discount" <= 0.1, 1L).otherwise(0L))
        .as("c_disc"),
      sum(when($"l_extendedprice" > 0, 1L).otherwise(0L)).as("c_price"),
      countDistinct($"l_orderkey", $"l_linenumber").as("c_pk"))
    val ri = l.join(o, $"l_orderkey" === $"o_orderkey", "left")
      .agg(sum(when($"o_orderkey".isNotNull, 1L).otherwise(0L)).as("c_ri"))
    // one row; checkpointed so the six constraint projections below read
    // materialized metrics instead of re-running the scan per constraint
    val m = base.crossJoin(ri).localCheckpoint()
    def row(name: String, metricCol: String, thresholdBp: Long) =
      m.select(lit(name).as("check_name"),
        expr(s"$metricCol * 10000 div n").as("metric_bp"),
        lit(thresholdBp).as("threshold_bp"))
    Seq(
      row("completeness_returnflag", "c_ret", 10000L),
      row("pk_uniqueness", "c_pk", 10000L),
      row("range_quantity_1_50", "c_qty", 10000L),
      row("range_discount_0_01", "c_disc", 10000L),
      row("positive_price", "c_price", 10000L),
      row("ri_orderkey_in_orders", "c_ri", 10000L))
      .reduce(_ unionByName _)
      .withColumn("pass", $"metric_bp" >= $"threshold_bp")
      .orderBy($"check_name")
  }

  /** Distributed EXACT global row_number — the scale-safe replacement
    * for `row_number().over(Window.partitionBy(lit(1)).orderBy(...))`,
    * which funnels the whole input through ONE task (Spark warns
    * "No Partition Defined for Window operation" for a reason).
    *
    * Technique: range-repartition on the sort key (a distributed sort —
    * each partition holds a contiguous, disjoint key range in partition-
    * id order), rank WITHIN each partition (parallel window, partitioned
    * by `spark_partition_id`), then add each partition's start offset —
    * the running sum of earlier partitions' row counts, a tiny driver-
    * side frame joined back by id. Ranks are identical to the single-
    * partition form whenever the ordering is TOTAL (tie-break to
    * uniqueness first — with ties, rows equal on the key may straddle a
    * range boundary and tie order would be partition-dependent).
    *
    * `numParts` defaults to the session shuffle parallelism; the result
    * carries the input columns plus `rk` (1-based).
    */
  def globalRowNumber(df: DataFrame, orderCols: Seq[Column],
                      numParts: Int = 0): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val n = if (numParts > 0) numParts
            else s.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = df.repartitionByRange(n, orderCols: _*)
      .withColumn("_gp", spark_partition_id())
      .localCheckpoint() // offsets + ranked output both read it
    val offsets = ranged.groupBy($"_gp").agg(count(lit(1)).as("_n"))
      .withColumn("_off",
        coalesce(sum($"_n").over(
          Window.orderBy($"_gp").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select($"_gp", $"_off")
    // the offsets window IS single-partition — over numParts rows, not
    // the data; the data-sized window below partitions by _gp (parallel)
    val byPart = Window.partitionBy($"_gp").orderBy(orderCols: _*)
    ranged
      .withColumn("_prk", row_number().over(byPart).cast("long"))
      .join(broadcast(offsets), Seq("_gp"))
      .withColumn("rk", $"_off" + $"_prk")
      .drop("_gp", "_prk", "_off")
  }

  /** EXCLUSIVE global running sum of `valueCol` in `orderCols` order —
    * the prefix-sum twin of [[globalRowNumber]], same two-pass shape:
    * range-partition on the order key, per-partition running sums in
    * parallel, then one numParts-row offset window (audit-sized, never
    * the data) broadcast back. Appends the sum as `name`; replaces the
    * single-partition `sum().over(Window.orderBy(...))` anti-pattern
    * wherever the frame is corpus-sized.
    */
  def globalPrefixSum(df: DataFrame, orderCols: Seq[Column],
                      valueCol: Column, name: String,
                      numParts: Int = 0): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val n = if (numParts > 0) numParts
            else s.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = df.repartitionByRange(n, orderCols: _*)
      .withColumn("_gp", spark_partition_id())
      .withColumn("_v", valueCol)
      .localCheckpoint() // offsets + summed output both read it
    val offsets = ranged.groupBy($"_gp").agg(sum($"_v").as("_n"))
      .withColumn("_off",
        coalesce(sum($"_n").over(
          Window.orderBy($"_gp").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select($"_gp", $"_off")
    val byPart = Window.partitionBy($"_gp").orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged
      .withColumn("_ps", coalesce(sum($"_v").over(byPart), lit(0L)))
      .join(broadcast(offsets), Seq("_gp"))
      .withColumn(name, $"_off" + $"_ps")
      .drop("_gp", "_ps", "_off", "_v")
  }

  /** EXCLUSIVE global running sums of SEVERAL value columns at once in
    * `orderCols` order — [[globalPrefixSum]] generalized so a consumer
    * needing two cumulative series (e.g. a CDF over counts AND
    * positives) pays ONE range shuffle + one checkpoint instead of one
    * per series. Appends each `(valueCol, name)` as `name`.
    */
  def globalPrefixSums(df: DataFrame, orderCols: Seq[Column],
                       values: Seq[(Column, String)],
                       numParts: Int = 0): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val n = if (numParts > 0) numParts
            else s.conf.get("spark.sql.shuffle.partitions").toInt
    val vCols = values.zipWithIndex.map { case ((c, _), i) => (c, s"_v$i") }
    val ranged = values.zip(vCols).foldLeft(
        df.repartitionByRange(n, orderCols: _*)
          .withColumn("_gp", spark_partition_id())) {
        case (d, (_, (c, tmp))) => d.withColumn(tmp, c)
      }
      .localCheckpoint() // offsets + summed output both read it
    val offsets = ranged.groupBy($"_gp")
      .agg(vCols.map { case (_, tmp) => sum(col(tmp)).as(tmp + "s") }.head,
        vCols.map { case (_, tmp) => sum(col(tmp)).as(tmp + "s") }.tail: _*)
    val offs = vCols.foldLeft(offsets) { case (d, (_, tmp)) =>
      d.withColumn(tmp + "o",
        coalesce(sum(col(tmp + "s")).over(
          Window.orderBy($"_gp").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
    }.select($"_gp" +: vCols.map { case (_, tmp) => col(tmp + "o") }: _*)
    val byPart = Window.partitionBy($"_gp").orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val summed = values.zip(vCols).foldLeft(
        ranged.join(broadcast(offs), Seq("_gp"))) {
        case (d, ((_, name), (_, tmp))) =>
          d.withColumn(name,
            col(tmp + "o") + coalesce(sum(col(tmp)).over(byPart), lit(0L)))
      }
    summed.drop("_gp" +: vCols.flatMap { case (_, tmp) =>
      Seq(tmp, tmp + "o") }: _*)
  }

  /** Customer-revenue Lorenz curve + exact Gini — the concentration
    * readout behind "our top decile carries the business": customers
    * ranked ascending by lifetime revenue (total (revenue, custkey)
    * order, ranks via the scale-safe [[globalRowNumber]] — no
    * single-partition data window), rolled into deciles with exact
    * cumulative share bp, and the Gini from the rank identity
    * G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n as STAGED truncating micro
    * divisions in DECIMAL(38,0) (Σ i·x brushes 2⁶³ already at sf0.1).
    * Decile membership floors i·10/n — engine-exact, no ntile
    * semantics load-bearing.
    */
  def lorenzCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val perCust = Tables(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
    val ranked = globalRowNumber(perCust, Seq($"cents", $"o_custkey"))
      .localCheckpoint() // totals, gini and the decile rollup read it
    val tot = ranked.agg(count(lit(1)).as("n"),
        sum($"cents".cast(dec)).as("s"),
        sum($"rk".cast(dec) * $"cents").as("ix"))
      .withColumn("gini_u", expr(
        s"""CAST(2 * ix * 1000000 div (CAST(n AS $dec) * s)
           - CAST((n + 1) * 1000000 AS $dec) div n AS BIGINT)"""))
      .select($"n", $"s", $"gini_u")
    ranked.crossJoin(broadcast(tot))
      .withColumn("decile", expr("CAST((rk - 1) * 10 div n AS INT) + 1"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_cust"), sum($"cents").as("rev_cents"),
        max($"gini_u").as("gini_u"), max($"s").as("s"))
      .withColumn("cum_rev_cents",
        sum($"rev_cents").over(Window.orderBy($"decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_share_bp", expr(
        s"CAST(CAST(cum_rev_cents AS $dec) * 10000 div s AS BIGINT)"))
      .select($"decile", $"n_cust", $"rev_cents", $"cum_rev_cents",
        $"cum_share_bp", $"gini_u")
      .orderBy($"decile")
  }

  /** Herfindahl–Hirschman brand-concentration index per customer
    * nation — the antitrust-grade "is this market a monopoly" number,
    * here auditing supply concentration of lineitem revenue across
    * part brands within each nation's purchases: HHI = Σ share² over
    * brands, on the 0..10⁸ integer grid (shares in exact floored bp,
    * squared and summed — both engines share the floor, so the index
    * is engine-exact; 10⁸ = single-brand monopoly, 10⁸/|brands| =
    * perfect competition). One fact-side aggregation to the
    * (nation × brand) rollup, dimension joins broadcast, the HHI
    * rollup is ≤ |nations| rows.
    */
  def brandHhi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nb = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables(s, dir, "customer")
        .select($"c_custkey", $"c_nationkey")), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables(s, dir, "part")
        .select($"p_partkey", $"p_brand")), $"l_partkey" === $"p_partkey")
      .groupBy($"c_nationkey", $"p_brand")
      .agg(sum(round($"l_extendedprice" * 100).cast("long")).as("cents"))
      .localCheckpoint() // totals and shares both read it
    val tot = nb.groupBy($"c_nationkey")
      .agg(sum($"cents").as("tot_cents"))
    nb.join(broadcast(tot), Seq("c_nationkey"))
      .withColumn("share_bp", expr("cents * 10000 div tot_cents"))
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_brands"),
        max($"tot_cents").as("tot_cents"),
        sum($"share_bp" * $"share_bp").as("hhi"),
        max($"share_bp").as("top_share_bp"))
      .orderBy($"c_nationkey")
  }

  /** Newsvendor stocking decision on daily demand — the OR-classic
    * "how much to provision" made from the data's own empirical
    * distribution: with underage:overage cost 3:1 the optimal stock is
    * the ⌈n·3/4⌉-th order statistic of daily revenue (the critical
    * fractile, which provably minimizes empirical newsvendor cost over
    * ALL stock levels — so beating the stock-the-mean baseline is a
    * THEOREM the output must obey, not a hope). Everything is exact:
    * the quantile is a rank pick over the calendar-bounded rollup, both
    * cost evaluations are integer sums of cents shortfalls/overhangs,
    * and the saving ships in exact cents.
    */
  def newsvendor(s: SparkSession, dir: String, cu: Long = 3L,
                 co: Long = 1L): DataFrame = {
    import s.implicits._
    val daily = dailyCents(Tables(s, dir, "orders"), $"o_orderdate",
      $"o_totalprice")
      .localCheckpoint() // rank pick, mean and both cost scans read it
    val n = daily.count()
    val kRank = (n * cu + (cu + co) - 1) / (cu + co) // ceil(n*cu/(cu+co))
    val sStar = daily
      .withColumn("rk", row_number()
        .over(Window.orderBy($"cents", $"day")).cast("long"))
      .filter($"rk" === kRank).select($"cents".as("s_star"))
    val sMean = daily.agg(expr("sum(cents) div count(1)").as("s_mean"))
    daily.crossJoin(broadcast(sStar)).crossJoin(broadcast(sMean))
      .agg(count(lit(1)).as("n_days"),
        max($"s_star").as("s_star"), max($"s_mean").as("s_mean"),
        sum(greatest($"cents" - $"s_star", lit(0L)) * cu
          + greatest($"s_star" - $"cents", lit(0L)) * co)
          .as("cost_star"),
        sum(greatest($"cents" - $"s_mean", lit(0L)) * cu
          + greatest($"s_mean" - $"cents", lit(0L)) * co)
          .as("cost_mean"))
      .withColumn("saving_cents", $"cost_mean" - $"cost_star")
  }

  /** Benford first-digit audit of order totals — the classic forensic
    * screen for fabricated or truncated numeric columns: natural
    * multi-magnitude amounts put digit d first with probability
    * log10(1+1/d); a synthetic generator that draws uniformly does not.
    * Emits per-digit observed counts vs Benford expectation plus the
    * chi-square contribution, and the total statistic repeated per row
    * (window over 9 rows — a constant-size frame at any data scale).
    *
    * Determinism: the first digit comes from the DECIMAL string of the
    * truncated amount (no log10 near-power-of-ten ulp cliffs), and the
    * chi-square total sums per-digit contributions pre-rounded to 1e-6
    * micro-units — exact integers, order-free (the PSI discipline).
    * One scan, one 9-row rollup.
    */
  def benfordAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    benfordAuditCore(benfordDigits(Tables(s, dir, "orders"),
        $"o_totalprice"))
      .withColumn("chi2",
        round(sum($"contrib_u").over(Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)) / 1e6, 4))
      .select($"digit", $"n_obs", round($"exp_share", 4).as("exp_share"),
        round($"exp_n", 4).as("exp_n"),
        round($"contrib_u" / 1e6, 4).as("contrib"), $"chi2")
      .orderBy($"digit")
  }

  /** First-digit histogram `(digit, n_obs)` of the amounts of at least
    * 1.0 — the input of [[benfordAuditCore]], batch and streaming. */
  private[graft] def benfordDigits(rows: DataFrame,
                                   amount: Column): DataFrame =
    rows.filter(amount >= 1.0)
      .select(substring(floor(amount).cast("decimal(18,0)")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))

  /** [[benfordAudit]]'s digits 1–9 with each chi-square `contrib_u` in
    * 1e-6 micro-units — shared with the streaming `benfordMonitorSink`.
    * Needs a non-empty histogram. */
  private[graft] def benfordAuditCore(digits: DataFrame): DataFrame = {
    val tot = digits.agg(sum(col("n_obs")).as("n_tot"))
    val spine = digits.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
    spine.join(digits, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n_obs"), lit(0L)).as("n_obs"))
      .crossJoin(broadcast(tot))
      // ln-ratio on BOTH engine sides (not a native log10): log10 and
      // ln(x)/ln(10) differ in the last ulp, and exp_n multiplies the
      // share by the row count before rounding
      .withColumn("exp_share",
        log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0)))
      .withColumn("exp_n", col("n_tot") * col("exp_share"))
      .withColumn("contrib_u",
        round((col("n_obs") - col("exp_n")) * (col("n_obs") - col("exp_n"))
          / col("exp_n") * 1e6).cast("long"))
  }

  /** EWMA lag weights alpha*(1-alpha)^(k-1) for lags 1..maxLag,
    * pre-scaled to 1e-8 integers ON THE DRIVER (alpha = 2/(span+1), the
    * standard span parameterization). Both the Spark plan and the
    * oracle SQL consume these longs as literals — the rboWeightsU
    * discipline: no engine ever evaluates pow().
    */
  private[graft] def ewmaWeightsU(span: Int, maxLag: Int): Seq[Long] = {
    val alpha = 2.0 / (span + 1)
    (1 to maxLag)
      .map(k => math.round(alpha * math.pow(1 - alpha, k - 1) * 1e8))
  }

  /** EWMA revenue anomaly screen — each day's revenue against the
    * exponentially-weighted average of its PRIOR `maxLag` days (span-7
    * weights, truncated and renormalized over the lags that actually
    * exist, so early days and calendar gaps stay unbiased instead of
    * decaying toward zero). Deviation is in basis points off the EWMA,
    * alarm at +/-30% — the classic ops-dashboard "is today's number
    * believable" screen, as one declarative plan.
    *
    * Determinism: daily revenue sums exact cents-longs; weights are
    * driver-computed 1e-8 literals ([[ewmaWeightsU]]); the EWMA and the
    * deviation are integer floor-divisions of positive operands
    * (dev_bp = cents*10^4 div ewma - 10^4, shaped so no negative value
    * ever reaches a div — truncating and floor division agree).
    *
    * Shape at scale: one shuffle to daily grain (map-side combined),
    * then days x maxLag lag-join against the SAME tiny daily frame —
    * calendar-sized, not data-sized.
    */
  def ewmaAnomalies(s: SparkSession, dir: String, span: Int = 7,
                    maxLag: Int = 30, alarmBp: Long = 3000L): DataFrame = {
    import s.implicits._
    val rev = dailyCents(Tables(s, dir, "orders"), $"o_orderdate",
      $"o_totalprice")
      .localCheckpoint()
    val wDf = s.createDataFrame(
        ewmaWeightsU(span, maxLag).zipWithIndex
          .map { case (w, i) => (i + 1, w) })
      .toDF("lag", "w_u")
    rev.crossJoin(broadcast(wDf))
      .withColumn("lag_day", expr("date_sub(day, lag)"))
      .join(rev.select($"day".as("lag_day"), $"cents".as("x")),
        Seq("lag_day"))
      .groupBy($"day", $"cents")
      .agg(sum($"w_u" * $"x").as("swx"), sum($"w_u").as("sw"))
      .select($"day", $"cents",
        expr("swx div sw").as("ewma_cents"),
        (expr("cents * 10000 div (swx div sw)") - 10000).as("dev_bp"))
      .withColumn("alarm", abs($"dev_bp") >= alarmBp)
      .orderBy($"day")
  }

  /** Two-sided CUSUM level-shift detector over daily revenue — the
    * change-point complement of the [[ewmaAnomalies]] spike screen: a
    * run of small same-direction deviations that EWMA's per-day bands
    * never flag accumulates here until the cumulative sum crosses the
    * decision interval. The textbook recursion S_t = max(0,
    * S_{t−1} + d_t) is NOT computed recursively: it equals
    * P_t − min_{j≤t} P_j over the deviation prefix sum P (and the low
    * side is max_{j≤t} P_j − P_t), so both sides are two window
    * functions over the tiny daily frame — exact integer cents
    * end-to-end, no sequential state, trivially parallel at any
    * history length. Slack k = μ/20 (5% of mean daily revenue),
    * decision interval h = μ/4, both integer floor divisions.
    */
  def cusumShift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = dailyCents(Tables(s, dir, "orders"), $"o_orderdate",
      $"o_totalprice")
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    cusumShiftCore(daily
        .withColumn("scents", sum($"cents").over(all))
        .withColumn("nd", count(lit(1)).over(all)),
      expr("scents div nd"))
      .orderBy($"day")
  }

  /** [[cusumShift]] over a `(day, cents)` frame against the mean `mu`
    * (the series' own in batch, a frozen one in `cusumMonitorSink`). */
  private[graft] def cusumShiftCore(daily: DataFrame,
                                    mu: Column): DataFrame = {
    val upTo = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("mu", mu)
      .withColumn("slack", expr("mu div 20"))
      .withColumn("h", expr("mu div 4"))
      .withColumn("d_hi", col("cents") - col("mu") - col("slack"))
      .withColumn("d_lo", col("cents") - col("mu") + col("slack"))
      .withColumn("p_hi", sum(col("d_hi")).over(upTo))
      .withColumn("p_lo", sum(col("d_lo")).over(upTo))
      .withColumn("s_hi",
        col("p_hi") - least(min(col("p_hi")).over(upTo), lit(0L)))
      .withColumn("s_lo",
        greatest(max(col("p_lo")).over(upTo), lit(0L)) - col("p_lo"))
      .select(col("day"), col("cents"), col("mu"), col("h"), col("s_hi"),
        col("s_lo"), (col("s_hi") >= col("h")).as("alarm_hi"),
        (col("s_lo") >= col("h")).as("alarm_lo"))
  }

  /** Simpson's-paradox trend audit: per-nation daily-revenue OLS slope
    * sign vs the pooled slope sign — a nation whose trend REVERSES the
    * pooled one is the aggregation-bias case every "revenue is
    * growing" headline hides. Slopes ship as exact micro-cents/day
    * through the shift floor division ([[theilSenTrend]] discipline)
    * from DECIMAL(38,0) moment numerators; the reversal flag is a pure
    * integer sign comparison, no thresholds. One fact aggregation to
    * (nation, day), calendar×25-bounded rollup, broadcast pooled row.
    */
  def trendSignReversals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val daily = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey".as("o_custkey"), $"c_nationkey"), Seq("o_custkey"))
      .groupBy($"c_nationkey", $"o_orderdate".cast("date").as("day"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
      .localCheckpoint() // per-nation and pooled slopes both read it
    val t0 = daily.agg(min($"day").as("d0"))
    val d = daily.crossJoin(broadcast(t0))
      .select($"c_nationkey", datediff($"day", $"d0").cast("long").as("t"),
        $"cents")
    def slopeU(df: DataFrame, keys: Seq[Column]): DataFrame = df
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), sum($"t").as("st"),
        sum($"cents").as("sc"), sum(($"t" * $"cents").cast(dec)).as("stc"),
        sum($"t" * $"t").as("stt"))
      .withColumn("num",
        expr(s"CAST(n AS $dec) * stc - CAST(st AS $dec) * sc"))
      .withColumn("den",
        expr(s"CAST(n AS $dec) * stt - CAST(st AS $dec) * st"))
      .withColumn("slope_u", expr(
        "CAST((num * 1000000 + 2000000000000000 * den) div den" +
        " - 2000000000000000 AS BIGINT)"))
    val pooled = slopeU(
      d.groupBy($"t").agg(sum($"cents").as("cents")), Seq())
      .select($"slope_u".as("pooled_slope_u"))
    slopeU(d, Seq($"c_nationkey"))
      .crossJoin(broadcast(pooled))
      .select($"c_nationkey", $"n".as("n_days"), $"slope_u",
        $"pooled_slope_u",
        (($"slope_u" > 0L) =!= ($"pooled_slope_u" > 0L)).as("reversed"))
      .orderBy($"c_nationkey")
  }

  /** Per-brand price elasticity of demand — the ln-ln least-squares
    * slope of ordered quantity against catalog unit price across a
    * brand's parts, the classic log-log elasticity a pricing review
    * reads (≈0 inelastic, ≤−1 elastic). Exactness discipline: the
    * only transcendentals are per-part ln's of exact integer cents /
    * quantities, pre-rounded to 1e-6 fixed point (the burrowsDelta
    * convention — order-free integer sums afterward, unlike a raw
    * double Σ whose last bits depend on merge order); moments
    * accumulate in DECIMAL(38,0) and ONE double quotient per brand
    * lands pre-rounded at 4dp. One fact aggregation to parts, one
    * broadcast dim join, ≤|brands| output rows.
    */
  def priceElasticity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val parts = Tables(s, dir, "part")
      .select($"p_partkey", $"p_brand",
        round($"p_retailprice" * 100).cast("long").as("price_cents"))
    val qty = Tables(s, dir, "lineitem")
      .groupBy($"l_partkey".as("p_partkey"))
      .agg(round(sum($"l_quantity")).cast("long").as("qty"))
    qty.join(broadcast(parts), Seq("p_partkey"))
      .select($"p_brand",
        round(log($"price_cents".cast("double")) * 1e6)
          .cast("long").as("x_u"),
        round(log($"qty".cast("double")) * 1e6).cast("long").as("y_u"))
      .groupBy($"p_brand")
      .agg(count(lit(1)).cast(dec).as("n"),
        sum($"x_u").cast(dec).as("sx"), sum($"y_u").cast(dec).as("sy"),
        sum($"x_u".cast(dec) * $"y_u").as("sxy"),
        sum($"x_u".cast(dec) * $"x_u").as("sxx"))
      .select($"p_brand", $"n".cast("long").as("n_parts"),
        round(($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          ($"n" * $"sxx" - $"sx" * $"sx").cast("double"), 4)
          .as("elasticity"))
      .orderBy($"p_brand")
  }

  /** CUSUM average-run-length calibration — the alarm threshold
    * audited as data instead of trusted: under the no-shift null
    * (daily revenues in md5-seeded random order, the exact same
    * multiset), how long does [[cusumShift]]'s frozen (μ, slack, h)
    * design run before a FALSE alarm? One row per seeded permutation
    * with the first hi/lo alarm day index (null = never fired across
    * the whole series — the ideal), permutation 0 being the REAL
    * chronological order for comparison. An operating threshold whose
    * null ARL is short is a pager that cries wolf; this makes that a
    * checked number. Fully integer (the permuted walk reuses the exact
    * CUSUM recurrences; no distribution functions), B×calendar-bounded
    * frame with per-permutation windows — parallel across
    * permutations at any scale.
    */
  def cusumArl(s: SparkSession, dir: String, b: Int = 64): DataFrame = {
    import s.implicits._
    val daily = dailyCents(Tables(s, dir, "orders"), $"o_orderdate",
      $"o_totalprice")
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val design = daily
      .agg(sum($"cents").as("scents"), count(lit(1)).as("nd"))
      .select(expr("scents div nd").as("mu"))
      .select($"mu", expr("mu div 20").as("slack"),
        expr("mu div 4").as("h"))
    val perms = daily.crossJoin(broadcast(design))
      .withColumn("p", explode(sequence(lit(0), lit(b))))
      // p = 0 keeps chronology; p ≥ 1 orders by a seeded md5 of the day
      .withColumn("ok", when($"p" === 0, $"day".cast("string"))
        .otherwise(md5(concat(lit("arl:"), $"p".cast("string"), lit(":"),
          $"day".cast("string")))))
    val byP = Window.partitionBy($"p").orderBy($"ok")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perms
      .withColumn("t", row_number().over(
        Window.partitionBy($"p").orderBy($"ok")).cast("long"))
      .withColumn("d_hi", $"cents" - $"mu" - $"slack")
      .withColumn("d_lo", $"cents" - $"mu" + $"slack")
      .withColumn("p_hi", sum($"d_hi").over(byP))
      .withColumn("p_lo", sum($"d_lo").over(byP))
      .withColumn("s_hi",
        $"p_hi" - least(min($"p_hi").over(byP), lit(0L)))
      .withColumn("s_lo",
        greatest(max($"p_lo").over(byP), lit(0L)) - $"p_lo")
      .groupBy($"p")
      .agg(min(when($"s_hi" >= $"h", $"t")).as("first_hi_t"),
        min(when($"s_lo" >= $"h", $"t")).as("first_lo_t"),
        count(lit(1)).as("n_days"))
      .select($"p".cast("long").as("p"), $"n_days", $"first_hi_t",
        $"first_lo_t")
      .orderBy($"p")
  }

  /** Theil inequality index of customer revenue, decomposed between and
    * within nations: T = Σ(xᵢ/X)ln(xᵢ·n/X), the entropy-based
    * concentration measure whose selling point over Gini is EXACT
    * additive decomposability — how much revenue inequality is
    * "nations differ" vs "customers within a nation differ", which is
    * the question a market-mix review actually asks. Every term is one
    * fixed-point ln of a ratio of exact integers weighted by exact
    * cents, each component lands in ONE floor division by X, and the
    * per-customer identity ln(x·n/X) = ln(x·n_g/X_g) + ln(X_g·n/(X·n_g))
    * makes total = between + within up to ±1-micro-per-term rounding —
    * emitted as `residual_u`, so the decomposition law is audited data.
    * Weighted sums accumulate in DECIMAL(38,0).
    */
  def theilDecomposition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val cust = Tables(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("x"))
      .join(Tables(s, dir, "customer")
        .select($"c_custkey".as("o_custkey"), $"c_nationkey"), "o_custkey")
      .localCheckpoint() // totals + group totals + terms all read it
    val tot = cust.agg(sum($"x").as("xt"), count(lit(1)).as("n"))
    val grp = cust.groupBy($"c_nationkey")
      .agg(sum($"x").as("xg"), count(lit(1)).as("ng"))
    val terms = cust.join(broadcast(grp), "c_nationkey")
      .crossJoin(broadcast(tot))
      .withColumn("ln_tot_u",
        round(log(($"x" * $"n").cast("double") / $"xt".cast("double"))
          * 1e6).cast("long"))
      .withColumn("ln_win_u",
        round(log(($"x" * $"ng").cast("double") / $"xg".cast("double"))
          * 1e6).cast("long"))
    val perNation = terms.groupBy($"c_nationkey")
      .agg(max($"ng").as("n_cust"), max($"xg").as("revenue_cents"),
        sum($"x".cast(dec) * $"ln_win_u").as("win_num"),
        max($"xg".cast(dec) *
          round(log(($"xg" * $"n").cast("double") /
            ($"xt" * $"ng").cast("double")) * 1e6).cast("long"))
          .as("btw_num"))
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val totals = terms
      .agg(sum($"x".cast(dec) * $"ln_tot_u").as("tot_num"),
        max($"xt").as("xt"))
    // every division goes through the non-negative shift (sourceLangMi
    // discipline): per-nation between contributions are GENUINELY
    // negative for under-share nations, and tiny components can dip
    // below zero by term rounding — Spark div truncs, SQL // floors,
    // so the dividend must be provably nonnegative in both engines
    def shiftDiv(num: String): String =
      s"($num + 100000000 * CAST(xt AS $dec)) div xt - 100000000"
    perNation.crossJoin(broadcast(totals))
      .withColumn("within_u",
        expr(shiftDiv(s"CAST(sum(win_num) OVER (ROWS BETWEEN UNBOUNDED" +
          s" PRECEDING AND UNBOUNDED FOLLOWING) AS $dec)")))
      .withColumn("between_u",
        expr(shiftDiv(s"CAST(sum(btw_num) OVER (ROWS BETWEEN UNBOUNDED" +
          s" PRECEDING AND UNBOUNDED FOLLOWING) AS $dec)")))
      .withColumn("theil_u", expr(shiftDiv("tot_num")))
      .select($"c_nationkey", $"n_cust", $"revenue_cents",
        expr(shiftDiv("win_num")).as("within_contrib_u"),
        expr(shiftDiv("btw_num")).as("between_contrib_u"),
        $"theil_u", $"between_u", $"within_u",
        ($"theil_u" - $"between_u" - $"within_u").as("residual_u"))
      .orderBy($"c_nationkey")
  }

  /** Hill tail-index estimator over order values: α̂ = k / Σᵢ ln(xᵢ/x₍k₊₁₎)
    * on the top-k order statistics — the standard heavy-tail exponent
    * behind "do a few giant orders carry the revenue", the
    * continuous-distribution complement of the Zipf slope (ranks) and
    * Benford (digits) audits. A small α̂ (< 2) means variance is
    * effectively infinite and every mean-based dashboard is one outlier
    * from meaningless. The top-(k+1) cut is a distributed TakeOrdered;
    * each log is one fixed-point ln of a ratio of exact cent values
    * (1e-6 pre-round, order-free integer sum), and α̂ lands as one
    * integer milli-unit floor division.
    */
  def hillTail(s: SparkSession, dir: String, k: Int = 200): DataFrame = {
    import s.implicits._
    val top = Tables(s, dir, "orders")
      .select($"o_orderkey",
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .orderBy($"cents".desc, $"o_orderkey").limit(k + 1)
      .localCheckpoint()
    val thr = top.orderBy($"cents", $"o_orderkey").limit(1)
      .select($"cents".as("thr"))
    top.crossJoin(broadcast(thr))
      // the total (cents desc, orderkey) order defines the top-k; ties
      // at the threshold contribute ln(1) = 0, the textbook convention
      .withColumn("rk", row_number().over(
        Window.orderBy($"cents".desc, $"o_orderkey")))
      .filter($"rk" <= k)
      .withColumn("lnu",
        round(log($"cents".cast("double") / $"thr".cast("double")) * 1e6)
          .cast("long"))
      .agg(count(lit(1)).as("k"), max($"thr").as("threshold_cents"),
        sum($"lnu").as("lsum_u"))
      .select($"k", $"threshold_cents", $"lsum_u",
        expr("k * 1000000000 div lsum_u").as("alpha_milli"))
  }

  /** Wald–Wolfowitz runs test on daily revenue around its median: does
    * the sign sequence above/below flip like noise, or do long
    * same-sign runs betray trend/regime structure the mean-based
    * monitors assume away? The randomness precondition check for every
    * i.i.d.-flavored alarm in this suite. Median as the exact doubled
    * middle order statistic (no interpolation floats), tie days
    * dropped per the textbook, runs counted with one lag window, and
    * the normal z one fixed-shape double over the exact integers
    * (E[R]·n = n + 2n₁n₂ is integer and ships alongside).
    */
  def runsTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = dailyCents(Tables(s, dir, "orders"), $"o_orderdate",
      $"o_totalprice")
      .localCheckpoint()
    val ord = Window.orderBy($"cents", $"day")
    val n0 = daily.count()
    val medX2 = daily
      .withColumn("rk", row_number().over(ord).cast("long"))
      .filter($"rk" === (n0 + 1) / 2 || $"rk" === n0 / 2 + 1)
      .agg((sum($"cents") * when(lit(n0 % 2 == 1), 2L).otherwise(1L))
        .as("med_x2"))
    val signs = daily.crossJoin(broadcast(medX2))
      .filter($"cents" * 2 =!= $"med_x2")
      .withColumn("above", $"cents" * 2 > $"med_x2")
    val byDay = Window.orderBy($"day")
    signs
      .withColumn("flip",
        when(lag($"above", 1).over(byDay).isNull ||
          lag($"above", 1).over(byDay) =!= $"above", 1L).otherwise(0L))
      .agg(count(lit(1)).as("n_days"),
        sum(when($"above", 1L).otherwise(0L)).as("n_above"),
        sum(when(!$"above", 1L).otherwise(0L)).as("n_below"),
        sum($"flip").as("runs"))
      .withColumn("e_runs_x_n",
        $"n_days" + lit(2L) * $"n_above" * $"n_below")
      .withColumn("z", round(
        ($"runs".cast("double") -
          (lit(1.0) + lit(2.0) * $"n_above" * $"n_below" / $"n_days")) /
        sqrt((lit(2.0) * $"n_above" * $"n_below" *
          (lit(2.0) * $"n_above" * $"n_below" - $"n_days")) /
          ($"n_days".cast("double") * $"n_days" * ($"n_days" - 1L))), 4))
      .select($"n_days", $"n_above", $"n_below", $"runs",
        $"e_runs_x_n", $"z")
  }

  /** Ljung–Box serial-correlation audit of daily revenue at lags
    * 1..maxLag: the portmanteau "is this series white noise" test that
    * complements runsTest's sign-flip view with MAGNITUDE memory —
    * a calendar-driven pipeline whose daily volume autocorrelates is
    * one where yesterday predicts today and every i.i.d.-flavored
    * alarm threshold is miscalibrated. Exactness discipline: center
    * via y_t = n·x_t − S (pure integers, no float mean), lag-k
    * autocovariance numerators Σ y_t·y_{t+k} in DECIMAL(38,0), ρ_k in
    * fixed micro units through the nonnegative-shift floor division
    * (ρ can be genuinely negative), and the Ljung–Box terms
    * n(n+2)ρ_u²/((n−k)·1e9) in pure longs — safe because n is the
    * DAY count, bounded by the date span (~2.4k) at any data scale,
    * so the daily rollup and the n-row lag window stay audit-sized
    * while the orders scan underneath distributes. χ²(k) 95% critical
    * values ship as driver literals so `reject` is decided data.
    */
  def acfLjungBox(s: SparkSession, dir: String, maxLag: Int = 10): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val daily = dailyCents(Tables(s, dir, "orders"), $"o_orderdate",
      $"o_totalprice")
      .localCheckpoint()
    val st = daily.agg(count(lit(1)).as("n"), sum($"cents").as("s"))
    val w = Window.orderBy($"day")
    val y = daily.crossJoin(broadcast(st))
      .select($"day", ($"n" * $"cents" - $"s").as("y"), $"n")
    val leads = y.select(
      Seq($"y".cast(dec).as("y0"), $"n") ++
        (1 to maxLag).map(k => lead($"y", k).over(w).cast(dec).as(s"y$k")): _*)
    val aggs = Seq(max($"n").as("n"), sum($"y0" * $"y0").as("g0")) ++
      (1 to maxLag).map(k => sum($"y0" * col(s"y$k")).as(s"g$k"))
    val one = leads.agg(aggs.head, aggs.tail: _*)
    val stacked = one.select($"n", $"g0".as("g0_num"),
      expr((1 to maxLag).map(k => s"$k, g$k")
        .mkString(s"stack($maxLag, ", ", ", ") as (lag_k, gamma_num)")))
    // χ² 95% quantiles, dof 1..10 (Abramowitz–Stegun table, milli units)
    val crit = Seq(3841L, 5991L, 7815L, 9488L, 11070L, 12592L, 14067L,
      15507L, 16919L, 18307L).take(maxLag).zipWithIndex
      .map { case (c, i) => (i + 1, c) }.toDF("lag_k", "crit_milli")
    val cum = Window.orderBy($"lag_k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stacked.join(broadcast(crit), "lag_k")
      .withColumn("rho_u", expr(
        "CAST((gamma_num * 1000000 + 1000000 * g0_num) div g0_num" +
        " - 1000000 AS BIGINT)"))
      .withColumn("term_milli",
        expr("n * (n + 2) * rho_u * rho_u" +
          " div ((n - lag_k) * 1000000000)"))
      .withColumn("q_milli", sum($"term_milli").over(cum))
      .select($"lag_k".cast("long").as("lag_k"),
        // raw autocovariance numerators reach ~7e25 at sf0.01 — past
        // int64, so the output contract is STRING digits on both sides
        graft.functions.num.digits($"g0_num").as("g0_num"),
        graft.functions.num.digits($"gamma_num").as("gamma_num"),
        $"rho_u", $"q_milli", $"crit_milli",
        ($"q_milli" > $"crit_milli").as("reject"))
      .orderBy($"lag_k")
  }

  /** Partial autocorrelation of daily revenue at lags 1–3 — the
    * order-selection companion to [[acfLjungBox]]: the ACF of an AR(p)
    * series decays forever, the PACF CUTS OFF after lag p, so these
    * three numbers are how a forecaster picks the AR order. Closed-form
    * Durbin–Levinson unroll (k=3 needs no loop) over the SAME exact
    * integer autocorrelations the ACF emits (rho in ppm, so both
    * engines start the float stage from identical integers); the
    * |1−r²|-style denominators are guarded to NULL when degenerate,
    * identically on both sides. The heavy work is the one ACF moment
    * pass; the unroll is three scalars on the driver (the bounded-fold
    * dispensation).
    */
  def pacf3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rho = acfLjungBox(s, dir, 3).select($"lag_k", $"rho_u")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a day series too short to emit lags 2-3 degrades to NULL rows —
    // the same NULL contract as the degenerate phi denominators, never
    // a NoSuchElementException
    def rd(k: Long): Double =
      rho.get(k).map(_ / 1000000.0).getOrElse(Double.NaN)
    val r1 = rd(1L)
    val r2 = rd(2L)
    val r3 = rd(3L)
    // round-half-away-from-zero on the binary double — exactly DuckDB's
    // std::round(x*1000). NOT floor(t+0.5): that misrounds the doubles
    // just under .5 whose +0.5 sum rounds up in FP; t−floor(t) is exact
    // for t < 2^52, so the explicit comparison has no such edge.
    def milli(x: Double): java.lang.Long = {
      val t = math.abs(x) * 1000
      val fl = math.floor(t)
      val r = if (t - fl >= 0.5) fl + 1 else fl
      java.lang.Long.valueOf((math.signum(x) * r).toLong)
    }
    val phi11 = r1
    val den2 = 1.0 - r1 * r1
    // NaN inputs fall into the NaN branch: abs(NaN) >= eps is false
    val phi22 = if (!(math.abs(den2) >= 1e-12) || r2.isNaN) Double.NaN
      else (r2 - r1 * r1) / den2
    val phi21 = r1 - phi22 * r1
    val den3 = 1.0 - phi21 * r1 - phi22 * r2
    val phi33 = if (phi22.isNaN || !(math.abs(den3) >= 1e-12) || r3.isNaN)
      Double.NaN
      else (r3 - phi21 * r2 - phi22 * r1) / den3
    def cell(x: Double): java.lang.Long = if (x.isNaN) null else milli(x)
    def ru(k: Long): java.lang.Long =
      rho.get(k).map(java.lang.Long.valueOf).orNull
    val rows = Seq((1L, ru(1L), cell(phi11)), (2L, ru(2L), cell(phi22)),
      (3L, ru(3L), cell(phi33)))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("lag_k", LongType, false),
      StructField("rho_u", LongType, true),
      StructField("pacf_milli", LongType, true)))
    s.createDataFrame(
      s.sparkContext.parallelize(rows.map(t =>
        org.apache.spark.sql.Row(t._1, t._2, t._3)), 1), schema)
      .orderBy($"lag_k")
  }

  /** Kruskal–Wallis weekday-seasonality test on daily revenue: are the
    * seven weekday revenue distributions exchangeable, or does the
    * calendar carry a level effect? The rank-based (outlier-immune)
    * ANOVA a skewed money series actually supports — the diagnostic
    * that decides whether capacity plans and anomaly baselines may
    * pool weekdays. Exactness discipline: ties get the textbook
    * average rank kept integral by DOUBLING (dr = 2·rank + tiecount
    * − 1), per-weekday H contributions 3000·R₂ⱼ²/(nⱼ·N·(N+1)) in one
    * floor division each (the fixed-point definition both engines
    * compute bit-identically), the tie-correction denominator
    * 1 − ΣT/(N³−N) in exact ppm, and the corrected H through the
    * nonnegative-shift division. N is the day count — bounded by the
    * calendar at any data scale — so the global rank window rides an
    * audit-sized rollup while the orders scan distributes. Reject at
    * the χ²(6) 95% literal.
    */
  def kruskalWallis(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = dailyCents(Tables(s, dir, "orders"), $"o_orderdate",
      $"o_totalprice")
      .localCheckpoint()
    val st = daily.groupBy($"cents").agg(count(lit(1)).as("t"))
      .agg(sum($"t").as("n"),
        sum($"t" * $"t" * $"t" - $"t").as("tie_sum"))
    val ranked = daily
      .withColumn("wd", weekday($"day").cast("long"))
      .withColumn("rk", rank().over(Window.orderBy($"cents")).cast("long"))
      .withColumn("cnt",
        count(lit(1)).over(Window.partitionBy($"cents")).cast("long"))
      .withColumn("dr", lit(2L) * $"rk" + $"cnt" - 1L)
    val grp = ranked.groupBy($"wd")
      .agg(count(lit(1)).as("n_days"), sum($"dr").as("r2_sum"))
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    grp.crossJoin(broadcast(st))
      .withColumn("h_contrib_milli",
        expr("3000 * r2_sum * r2_sum div (n_days * n * (n + 1))"))
      .withColumn("h_milli",
        sum($"h_contrib_milli").over(all) - lit(3000L) * ($"n" + 1L))
      .withColumn("tie_denom_ppm",
        expr("1000000 - 1000000 * tie_sum div (n * n * n - n)"))
      .withColumn("h_adj_milli",
        expr("(h_milli * 1000000 + 1000000000 * tie_denom_ppm)" +
          " div tie_denom_ppm - 1000000000"))
      .select($"wd", $"n_days", $"r2_sum",
        expr("1000 * r2_sum div (2 * n_days)").as("mean_rank_milli"),
        $"h_contrib_milli", $"h_milli", $"tie_sum", $"tie_denom_ppm",
        $"h_adj_milli", ($"h_adj_milli" > 12592L).as("reject"))
      .orderBy($"wd")
  }

  /** Page–Hinkley drift monitor on daily revenue: the ADAPTIVE-mean
    * complement to cusumShift's frozen-μ gate — m_t accumulates
    * deviations from the RUNNING mean, and PH = m − min(prefix m)
    * (resp. max-prefix − m) detects a sustained level shift relative
    * to everything seen so far, no reference window to choose. The
    * canonical online drift test (Page 1954; the form stream-mining
    * uses for concept drift), here as one window pass: prefix sums →
    * running mean in exact floored micro-units → cumulative deviation
    * in DECIMAL(38,0) (first-day deviation is identically zero, so the
    * prefix extrema start well-defined) → prefix-extrema PH pair.
    * Alarm at a quarter of the current running mean, all integers.
    * The day rollup is calendar-bounded at any corpus size; the
    * orders scan underneath distributes.
    */
  def pageHinkley(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pageHinkleyCore(dailyCents(Tables(s, dir, "orders"), $"o_orderdate",
      $"o_totalprice")).orderBy($"day")
  }

  /** [[pageHinkley]] over a `(day, cents)` frame — shared with the
    * streaming `pageHinkleySink`. */
  private[graft] def pageHinkleyCore(daily: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val ord = Window.orderBy(col("day"))
    val w = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("t", row_number().over(ord).cast("long"))
      .withColumn("s_cum", sum(col("cents")).over(w))
      .withColumn("mbar_u",
        expr(s"CAST(s_cum AS $dec) * 1000000 div t").cast("long"))
      .withColumn("dev",
        (col("cents").cast(dec) * lit(1000000L)) - col("mbar_u"))
      .withColumn("m_cum", sum(col("dev")).over(w))
      .withColumn("ph_hi", col("m_cum") - min(col("m_cum")).over(w))
      .withColumn("ph_lo", max(col("m_cum")).over(w) - col("m_cum"))
      .select(col("day"), col("cents"), col("t"), col("mbar_u"),
        // cumulative deviations fit int64 at gate scale (~2e17 at
        // sf0.01); narrow loudly so both engines fail identically if a
        // scale-up breaks the bound
        graft.functions.num.toLongChecked(col("m_cum"), "m_cum").as("m_cum"),
        graft.functions.num.toLongChecked(col("ph_hi"), "ph_hi").as("ph_hi"),
        graft.functions.num.toLongChecked(col("ph_lo"), "ph_lo").as("ph_lo"),
        (col("ph_hi") >= expr("mbar_u div 4")).as("alarm_hi"),
        (col("ph_lo") >= expr("mbar_u div 4")).as("alarm_lo"))
  }

  /** V-optimal histogram of the daily-revenue series (B buckets):
    * the PLANNER-GRADE summary — bucket boundaries chosen to minimize
    * total within-bucket squared error (Jagadish et al., VLDB'98), not
    * equi-width convenience — computed by the exact O(B·n²) dynamic
    * program as B−1 relational levels: dp_b(i) = min_j dp_{b−1}(j) +
    * sse(j+1..i), each level one (j<i) broadcast join + groupBy-min
    * over the calendar-bounded day rollup. Exactness: sse from integer
    * prefix sums with ONE floored decimal division per range (the
    * fixed objective both engines minimize identically), argmins
    * tie-break to the earliest j via min-then-min (no engine arg_min
    * semantics load-bearing), and the backtrack walks the collected
    * audit-sized argmin tables. Output: the B chosen buckets with
    * exact day spans, revenue and SSE — what a cost model would
    * actually store.
    */
  def vOptimalHistogram(s: SparkSession, dir: String,
                        b: Int = 6): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val daily = dailyCents(Tables(s, dir, "orders"), $"o_orderdate",
      $"o_totalprice")
    val w = Window.orderBy($"day")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = daily
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("cs", sum($"cents").over(cum))
      .withColumn("cs2", sum(($"cents".cast(dec) * $"cents")).over(cum))
      .select($"i", $"day", $"cs", $"cs2")
      .localCheckpoint() // every DP level joins it twice
    val n = pre.count()
    // zero row so sse(1..i) is the same expression as sse(j+1..i)
    val p0 = pre.select($"i", $"cs", $"cs2")
      .union(Seq((0L, 0L, BigDecimal(0))).toDF("i", "cs", "cs2")
        .select($"i", $"cs", $"cs2".cast(dec)))
      .localCheckpoint()
    // floor(D²/m) via D² = (q·m + r)·D: Spark's `div` returns LONG and
    // silently wraps past 2⁶³ (the raw quotient reaches ~9e18 already at
    // sf0.01) — so split into q·D (exact DECIMAL product) + floor(r·D/m)
    // with r < m ≤ n_days keeping r·D long-safe at any revenue scale
    def sseExpr = expr(
      s"(cs2 - cs2j) - (CAST((cs - csj) div (i - j) AS $dec) * (cs - csj)" +
      s" + ((cs - csj) % (i - j)) * (cs - csj) div (i - j))")
    val lo = p0.select($"i".as("j"), $"cs".as("csj"), $"cs2".as("cs2j"))
    // min(struct(cost, j)) = min cost with earliest-j tie-break in ONE
    // partial-aggregatable pass — a second consumer of the candidate
    // frame (the min-then-filter form) trips Spark's self-join attribute
    // dedup into mis-binding the i<j condition (observed DIVIDE_BY_ZERO)
    val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
    // r13 (guide §1.2: don't recompute what you throw away): the n²/2
    // (j, i, sse) table is IDENTICAL across every DP level, but each
    // level's plan used to re-fan-out and re-evaluate the DECIMAL(38)
    // sse expression — b−1 recomputations of the query's dominant
    // stage. Materialize it once, pinned to shuffle width BEFORE the
    // fan-out (the zero-row union checkpoints single-partition
    // otherwise, guide §2.5), and every level is then one broadcast
    // join + partial-aggregated min over the stored rows.
    val ssePre = lo
      .repartition(nPart, $"j")
      .join(broadcast(pre.select($"i", $"cs", $"cs2")), $"j" < $"i")
      .withColumn("sse", sseExpr)
      .select($"j", $"i", $"sse")
      .localCheckpoint()
    // each level = exactly ONE distributed job: the stored sse rows
    // stream in parallel, the n-row (v, argmin) result collects to the
    // driver (audit-sized: the DP state IS calendar-bounded), and the
    // next level rebuilds the tiny dp frame from the collected rows —
    // no per-level checkpoint job, no lineage growth
    def level(dpPrev: DataFrame): Array[org.apache.spark.sql.Row] =
      ssePre
        .join(broadcast(dpPrev), Seq("j"))
        .withColumn("cost", $"vj" + $"sse")
        .groupBy($"i")
        .agg(min(struct($"cost", $"j")).as("m"))
        .select($"i", $"m.cost".as("v"), $"m.j".as("am"))
        .collect()
    // explicit Row/schema round-trip: the tuple encoder would force
    // DECIMAL(38,18), overflowing these ~1e22 SSE sums
    val dpSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("j",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("vj",
        org.apache.spark.sql.types.DecimalType(38, 0))))
    var dpRows: Array[org.apache.spark.sql.Row] =
      ssePre.filter($"j" === 0L)
        .select($"i", $"sse".as("v"))
        .collect()
    val argTables = scala.collection.mutable.ArrayBuffer[Map[Long, Long]]()
    for (_ <- 2 to b) {
      val dpDf = s.createDataFrame(
        java.util.Arrays.asList(dpRows.map(r => org.apache.spark.sql.Row(
          r.getLong(0), r.getDecimal(1))): _*), dpSchema)
      val nxt = level(dpDf)
      argTables += nxt.map(r => r.getLong(0) -> r.getLong(2)).toMap
      dpRows = nxt
    }
    // backtrack from (b, n) through the collected argmin tables
    val bounds = new Array[Long](b + 1)
    bounds(b) = n
    for (l <- b - 1 to 1 by -1)
      bounds(l) = argTables(l - 1)(bounds(l + 1))
    bounds(0) = 0L
    val cuts = (1 to b).map(l => (l, bounds(l - 1), bounds(l))).toDF(
      "bucket", "j", "i")
    cuts
      .join(lo, Seq("j"))
      .join(pre.select($"i", $"cs", $"cs2", $"day".as("day_end")), Seq("i"))
      .join(pre.select($"i".as("start_i"), $"day".as("day_start")),
        $"start_i" === $"j" + 1L)
      .withColumn("n_days", $"i" - $"j")
      .withColumn("sum_cents", $"cs" - $"csj")
      .withColumn("sse_u", sseExpr)
      .select($"bucket", $"day_start", $"day_end", $"n_days",
        $"sum_cents",
        // per-bucket SSE is ~5e18 at sf0.01 but 4.6e19 at the BENCH
        // sf0.1 — genuinely past int64 at operating scale, so the
        // output contract is STRING digits on both sides
        graft.functions.num.digits($"sse_u").as("sse_u"))
      .orderBy($"bucket")
  }

  /** Matrix profile of the daily-revenue series (window m = 7): for
    * every week-shaped window, the exact squared Euclidean distance to
    * its nearest non-overlapping neighbor — the time-series primitive
    * behind MOTIF discovery (the smallest profile entries are the two
    * most-repeated weeks) and DISCORD detection (the largest entry is
    * the week least like any other, the strongest anomaly claim that
    * needs no model, threshold, or distribution assumption). Exact
    * throughout: windows are lead-column tuples of integer cents,
    * pair distances are Σ(Δcents)² in DECIMAL(38,0) (a single daily
    * delta can reach ~2e9, its square 4e18, times m overflows longs),
    * the argmin tie-breaks to the earliest neighbor via a two-step
    * min-then-min(j) (no reliance on either engine's arg_min tie
    * behavior), and discord_rank orders the profile descending. The
    * trivial-match exclusion zone |i−j| ≥ m is the standard one.
    * Scale: the pair frame is n_days² — calendar-bounded at any
    * corpus size — via broadcast nested loop; the orders scan
    * underneath distributes.
    */
  def matrixProfile(s: SparkSession, dir: String, m: Int = 7): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val daily = dailyCents(Tables(s, dir, "orders"), $"o_orderdate",
      $"o_totalprice")
    val t0 = daily.agg(min($"day").as("d0"))
    val w = Window.orderBy($"t")
    val wins = daily.crossJoin(broadcast(t0))
      .select(datediff($"day", $"d0").cast("long").as("t"), $"cents")
      .select(Seq($"t", $"cents".as("y0")) ++
        (1 until m).map(k => lead($"cents", k).over(w).as(s"y$k")): _*)
      .filter(col(s"y${m - 1}").isNotNull) // complete windows only
      .localCheckpoint() // both sides of the pair join read it
    // pin fan-out: wins inherits the global window's single partition,
    // and the n² pair join below is the compute (7 DECIMAL(38) mult-adds
    // per pair) — without the repartition ONE task does all of it
    val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
    val a = wins.select(Seq($"t".as("ti")) ++
      (0 until m).map(k => col(s"y$k").as(s"a$k")): _*)
      .repartition(nPart, $"ti")
    val b = wins.select(Seq($"t".as("tj")) ++
      (0 until m).map(k => col(s"y$k").as(s"b$k")): _*)
    val dist2 = (0 until m).map(k =>
        (col(s"a$k") - col(s"b$k")).cast(dec) *
          (col(s"a$k") - col(s"b$k"))).reduce(_ + _)
    // min(struct(d2, tj)) = nearest distance with earliest-tj tie-break
    // in ONE partial-aggregatable pass — the min-then-filter form would
    // evaluate the n² pair frame twice
    val prof = a.join(broadcast(b), abs($"ti" - $"tj") >= m)
      .select($"ti", $"tj", dist2.as("d2"))
      .groupBy($"ti")
      .agg(min(struct($"d2", $"tj")).as("mn"))
      .select($"ti", $"mn.d2".as("dist2"), $"mn.tj".as("nn_t"))
    prof
      .withColumn("discord_rank", row_number()
        .over(Window.orderBy($"dist2".desc, $"ti")).cast("long"))
      .select($"ti".as("t"), $"nn_t",
        // squared cents distances top out ~1e17 — inside int64; narrow
        // loudly (DECIMAL(38,0) is internal-accumulation-only)
        graft.functions.num.toLongChecked($"dist2", "dist2").as("dist2"),
        $"discord_rank")
      .orderBy($"t")
  }

  /** Durbin–Watson test on the residuals of the daily-revenue OLS
    * trend — the regression-resident complement to acfLjungBox: after
    * the linear trend is removed, do adjacent days still co-move
    * (DW → 0/4) or flip like noise (DW ≈ 2)? Every trend-line
    * confidence interval assumes the latter; this is the check.
    * Exactness discipline: the OLS slope and intercept are FLOOR
    * fixed-point micro-cents (the theilSenTrend shift-division), the
    * residuals e_u = y·10⁶ − a_u − b_u·t are therefore exact integers
    * both engines compute identically, and the two quadratic sums
    * accumulate in DECIMAL(38,0) (e_u can reach ~2e15, its square
    * ~4e30 — far past longs, comfortably inside 38 digits at any
    * calendar length). DW in milli is one decimal division; ρ̂ ≈
    * 1 − DW/2 ships in milli alongside. Day count is
    * calendar-bounded; the orders scan distributes.
    */
  def durbinWatson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val daily = dailyCents(Tables(s, dir, "orders"), $"o_orderdate",
      $"o_totalprice")
    val t0 = daily.agg(min($"day").as("d0"))
    val d = daily.crossJoin(broadcast(t0))
      .select(datediff($"day", $"d0").cast("long").as("t"), $"cents")
      .localCheckpoint() // OLS aggregate and residual pass both read it
    val ols = d.agg(count(lit(1)).as("n"), sum($"t").as("st"),
        sum($"cents").as("sc"), sum(($"t" * $"cents").cast(dec)).as("stc"),
        sum($"t" * $"t").as("stt"))
      .withColumn("num",
        expr(s"CAST(n AS $dec) * stc - CAST(st AS $dec) * sc"))
      .withColumn("den",
        expr(s"CAST(n AS $dec) * stt - CAST(st AS $dec) * st"))
      .withColumn("b_u", expr(
        "CAST((num * 1000000 + 2000000000000000 * den) div den" +
        " - 2000000000000000 AS BIGINT)"))
      .withColumn("a_u", expr(
        "CAST((CAST(sc AS decimal(38,0)) * 1000000 - CAST(b_u AS" +
        " decimal(38,0)) * st + 2000000000000000 * CAST(n AS" +
        " decimal(38,0))) div n - 2000000000000000 AS BIGINT)"))
      .select($"n", $"b_u", $"a_u")
    val w = Window.orderBy($"t")
    val res = d.crossJoin(broadcast(ols))
      .withColumn("e_u",
        ($"cents".cast(dec) * 1000000L) - $"a_u" - $"b_u".cast(dec) * $"t")
      .withColumn("de", $"e_u" - lag($"e_u", 1).over(w))
    res.agg(max($"n").as("n_days"), max($"b_u").as("b_u"),
        max($"a_u").as("a_u"),
        sum($"e_u" * $"e_u").as("sse"),
        sum($"de" * $"de").as("ssd"))
      .withColumn("dw_milli",
        expr("CAST(1000 * ssd div sse AS BIGINT)"))
      .withColumn("rho_milli", lit(1000L) - expr("dw_milli div 2"))
      .select($"n_days", $"b_u", $"a_u",
        // quadratic sums reach ~1e34 — past int64, so the output
        // contract is STRING digits on both sides
        graft.functions.num.digits($"sse").as("sse"),
        graft.functions.num.digits($"ssd").as("ssd"),
        $"dw_milli", $"rho_milli")
  }

  /** RFM quintile segmentation of the customer base — recency /
    * frequency / monetary scored 1..5 by exact rank-based ntile
    * (1 = best on every axis, deterministic custkey tie-breaks so the
    * buckets are engine-identical), rolled up to the ≤125 (r,f,m)
    * cells with the classic marketing labels decided by CASE over the
    * scores — champions, loyal, at-risk-high-value, hibernating. This
    * is the segmentation a retention budget is actually allocated
    * against; shipping it as decided data keeps the label logic out
    * of N dashboards. Scale: each axis ranks through
    * [[globalRowNumber]]'s range-partitioned two-pass (billions of
    * customers at fact scale — no single-partition ntile window
    * anywhere), then the quintile falls out of pure rank arithmetic:
    * ntile(5) over n rows is a CLOSED FORM of (rank, n) — the first
    * n mod 5 buckets hold ⌈n/5⌉ rows, the rest ⌊n/5⌋ — so the
    * distributed buckets are bit-identical to the window form (the
    * custkey tie-break makes every ordering total). Revenue sums are
    * exact cents, mean recency is one floor division per cell.
    */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables(s, dir, "orders")
      .select($"o_custkey", $"o_orderdate".cast("date").as("day"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
    val mx = o.agg(max($"day").as("dmax"))
    val per = o.groupBy($"o_custkey")
      .agg(max($"day").as("last_day"), count(lit(1)).as("frequency"),
        sum($"cents").as("monetary_cents"))
      .crossJoin(broadcast(mx))
      .withColumn("recency_days",
        datediff($"dmax", $"last_day").cast("long"))
    val cnt = per.agg(count(lit(1)).as("n_cust"))
    // ntile(5) closed form over a 1-based total-order rank
    def quintile(rkCol: String): Column = expr(
      s"CASE WHEN $rkCol <= (n_cust % 5) * ((n_cust div 5) + 1) " +
      s"THEN ($rkCol - 1) div ((n_cust div 5) + 1) + 1 " +
      s"ELSE (n_cust % 5) + ($rkCol - 1 - (n_cust % 5) * ((n_cust div 5) + 1))" +
      s" div (n_cust div 5) + 1 END").cast("long")
    val ranked = {
      val g1 = globalRowNumber(per, Seq($"recency_days", $"o_custkey"))
        .withColumnRenamed("rk", "r_rk")
      val g2 = globalRowNumber(g1, Seq($"frequency".desc, $"o_custkey"))
        .withColumnRenamed("rk", "f_rk")
      globalRowNumber(g2, Seq($"monetary_cents".desc, $"o_custkey"))
        .withColumnRenamed("rk", "m_rk")
    }
    val scored = ranked.crossJoin(broadcast(cnt))
      .withColumn("r_q", quintile("r_rk"))
      .withColumn("f_q", quintile("f_rk"))
      .withColumn("m_q", quintile("m_rk"))
      .withColumn("segment",
        when($"r_q" === 1L && $"f_q" <= 2L && $"m_q" <= 2L, "champion")
          .when($"r_q" <= 2L && $"f_q" <= 2L, "loyal")
          .when($"r_q" >= 4L && $"m_q" <= 2L, "at_risk_high_value")
          .when($"r_q" >= 4L, "hibernating")
          .otherwise("regular"))
    scored.groupBy($"segment", $"r_q", $"f_q", $"m_q")
      .agg(count(lit(1)).as("n_customers"),
        sum($"monetary_cents").as("revenue_cents"),
        sum($"frequency").as("n_orders"),
        sum($"recency_days").as("rec_sum"))
      .withColumn("mean_recency_days",
        expr("rec_sum div n_customers"))
      .select($"segment", $"r_q", $"f_q", $"m_q", $"n_customers",
        $"n_orders", $"revenue_cents", $"mean_recency_days")
      .orderBy($"r_q", $"f_q", $"m_q")
  }

  /** Theil–Sen robust trend of daily revenue — the median of all
    * pairwise slopes (cents/day), the estimator that shrugs off the
    * outlier days that drag OLS (up to 29% contamination tolerance),
    * reported side by side with the exact OLS slope so "how much do
    * outliers bend the fitted trend" is one subtraction in the
    * output. Exactness: slopes are TRUNCATED fixed-point
    * micro-cents/day — Spark's `div` and DuckDB's BIGINT `//` both
    * round toward zero, so the raw division is already engine-exact
    * for negative numerators; the median is the doubled
    * middle order statistic (runsTest convention, no interpolation
    * floats); OLS numerators run in DECIMAL(38,0) with the
    * nonnegative-shift division. Scale: the pair space is n_days² with
    * n_days CALENDAR-bounded (~2.4k at any corpus size → ~3M pairs),
    * generated by a broadcast nested loop, never a corpus-sized
    * cartesian; the orders scan underneath distributes.
    */
  def theilSenTrend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val daily = dailyCents(Tables(s, dir, "orders"), $"o_orderdate",
      $"o_totalprice")
    val t0 = daily.agg(min($"day").as("d0"))
    val d = daily.crossJoin(broadcast(t0))
      .select(datediff($"day", $"d0").cast("long").as("t"), $"cents")
      // pin fan-out (r13, guide §2.5): the day rollup AQE-coalesces to
      // ONE partition, and the n²/2-row pair self-join below streams out
      // of this checkpoint — un-pinned, every slope ran on a single task
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt, $"t")
      .localCheckpoint() // pair self-join both sides + OLS read it
    val slopes = d.select($"t".as("ti"), $"cents".as("ci"))
      .join(broadcast(d.select($"t".as("tj"), $"cents".as("cj"))),
        $"ti" < $"tj")
      .withColumn("dy", ($"cj" - $"ci") * 1000000L)
      .withColumn("dt", $"tj" - $"ti")
      // TRUNCATING fixed-point division on both engines: Spark's `div`
      // and DuckDB's BIGINT `//` both round toward zero (DuckDB floors
      // only the nonneg-shifted forms used elsewhere; measured -7//2
      // = -3), so no mod adjustment — identical is what matters
      .select(expr("dy div dt").as("slope_u"))
      .localCheckpoint() // count and median rank both read it
    val np = slopes.count()
    // rank on the bare value: ties order arbitrarily but the VALUES at
    // the two middle ranks are the order statistics either way.
    // (r13: routing this through globalRowNumber measured 2.7s → 4.9s —
    // the two-pass machinery costs more than one 32-bit×n²/2 sort at
    // bench SF; the single-partition window stays, pair count is the
    // bounded |days|²/2, not corpus-sized)
    val med = slopes
      .withColumn("rk",
        row_number().over(Window.orderBy($"slope_u")).cast("long"))
      .filter($"rk" === (np + 1) / 2 || $"rk" === np / 2 + 1)
      .agg((sum($"slope_u") * when(lit(np % 2 == 1), 2L).otherwise(1L))
        .as("slope_med_x2_u"))
    val ols = d.agg(count(lit(1)).as("n"), sum($"t").as("st"),
        sum($"cents").as("sc"),
        sum(($"t" * $"cents").cast(dec)).as("stc"),
        sum($"t" * $"t").as("stt"))
      .withColumn("ols_num",
        expr(s"CAST(n AS $dec) * stc - CAST(st AS $dec) * sc"))
      .withColumn("ols_den",
        expr(s"CAST(n AS $dec) * stt - CAST(st AS $dec) * st"))
      .withColumn("ols_slope_u", expr(
        "CAST((ols_num * 1000000 + 2000000000000000 * ols_den)" +
        " div ols_den - 2000000000000000 AS BIGINT)"))
    med.crossJoin(broadcast(ols))
      .select($"n".as("n_days"), lit(np).as("n_pairs"),
        $"slope_med_x2_u", $"ols_slope_u",
        ($"slope_med_x2_u" - lit(2L) * $"ols_slope_u")
          .as("robust_minus_ols_x2_u"))
  }

  /** AMS/CMS join-size estimation: predict |orders ⋈ events| on the
    * customer key from two count-min sketches' inner product — the
    * planner-style cardinality estimate a pipeline computes in one
    * cheap pass per side BEFORE committing to a shuffle join, with the
    * exact join size alongside so the sketch's one-sided error is
    * measured, not assumed (the cmsAudit discipline). Each depth row d
    * gives Σ_j cntA_d[j]·cntB_d[j] ≥ true size (every true key pair
    * lands in a shared bucket; collisions only ADD), so the min over
    * rows is the estimate and `sound` is a theorem the data must obey.
    * All counts and products are exact longs; the sketches are
    * depth×width integer tables — mergeable, broadcastable, constant
    * size at any scale.
    */
  def joinSizeEst(s: SparkSession, dir: String, depth: Int = 4,
                  width: Int = 32): DataFrame = {
    import s.implicits._
    def sketch(keys: DataFrame, salt: String): DataFrame =
      keys.toDF("k")
        .select($"k", explode(sequence(lit(0), lit(depth - 1))).as("r"))
        .select($"r", pmod(conv(substring(md5(
          concat($"r".cast("string"), lit(salt), $"k".cast("string"))),
          1, 15), 16, 10).cast("long"), lit(width.toLong)).as("b"))
        .groupBy($"r", $"b").agg(count(lit(1)).as("c"))
    val a = Tables(s, dir, "orders").select($"o_custkey")
    val b = Tables(s, dir, "events").select($"user_id")
    val perRow = sketch(a, ":js:").join(
        sketch(b, ":js:").select($"r", $"b", $"c".as("c2")), Seq("r", "b"))
      .groupBy($"r").agg(sum($"c" * $"c2").as("est"))
    val fa = a.groupBy($"o_custkey").agg(count(lit(1)).as("fa"))
    val fb = b.groupBy($"user_id").agg(count(lit(1)).as("fb"))
    val exact = fa.join(fb, fa("o_custkey") === fb("user_id"))
      .agg(coalesce(sum($"fa" * $"fb"), lit(0L)).as("exact_size"))
    val sizes = a.agg(count(lit(1)).as("n_a"))
      .crossJoin(b.agg(count(lit(1)).as("n_b")))
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    perRow.crossJoin(broadcast(exact)).crossJoin(broadcast(sizes))
      .withColumn("cms_est", min($"est").over(all))
      .select($"r".cast("long").as("r"), $"est", $"exact_size", $"n_a",
        $"n_b", ($"est" - $"exact_size").as("overestimate"),
        ($"est" >= $"exact_size").as("sound"), $"cms_est")
      .orderBy($"r")
  }

  /** Single-changepoint locator over daily revenue (binary segmentation,
    * level 1): the day t* maximizing the scaled mean-shift statistic
    * |n·P_t − t·P_n| — where the CUSUM detector ([[cusumShift]]) says
    * WHETHER a level shift happened, this says WHEN, which is the first
    * question an incident review asks. The statistic is a pure integer
    * cross-product over the daily prefix sums (exact cents, no mean,
    * no division until display); the argmax tie-breaks on the earliest
    * day, so the location is total-ordered and engine-exact. One window
    * pass over the calendar-sized daily frame.
    */
  def changepoint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = dailyCents(Tables(s, dir, "orders"), $"o_orderdate",
      $"o_totalprice")
    val ord = Window.orderBy($"day")
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    daily
      .withColumn("t", row_number().over(ord).cast("long"))
      .withColumn("p", sum($"cents").over(ord.rowsBetween(
        Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("pn", sum($"cents").over(all))
      .filter($"t" < $"n") // a split needs both sides nonempty
      .withColumn("g", abs($"n" * $"p" - $"t" * $"pn"))
      .withColumn("gmax", max($"g").over(all))
      .filter($"g" === $"gmax")
      .withColumn("pick", row_number().over(Window.orderBy($"day")))
      .filter($"pick" === 1)
      .select($"day".as("split_day"), $"t".as("n_before"),
        ($"n" - $"t").as("n_after"),
        expr("p div t").as("mean_before_cents"),
        expr("(pn - p) div (n - t)").as("mean_after_cents"),
        $"g".as("g_stat"),
        (expr("(pn - p) div (n - t)") - expr("p div t"))
          .as("shift_cents"))
  }

  /** Differentially-private count release (ε = ln 2 discrete Laplace):
    * per-source document counts with two-sided geometric noise — the
    * mechanism a data owner applies before publishing per-provider
    * statistics whose exact values would leak membership. At α = e^−ε =
    * 1/2 every probability in the noise distribution is a dyadic
    * rational, so the inverse-CDF is EXACT integer arithmetic: the
    * 60-bit md5 uniform u is compared against thresholds
    * 3·F(k)·2⁶⁰ ∈ {2⁶¹⁺ᵏ (k<0), 3·2⁶⁰ − 2⁶⁰⁻ᵏ (k≥0)} — shift-left
    * literals both engines compute identically, no float anywhere. The
    * noise is SEEDED (md5 of the source name): reproducible releases
    * for pipeline testing; a production release would draw fresh
    * randomness, which this corpus-audit surface deliberately does not.
    */
  def dpCounts(s: SparkSession, dir: String, maxK: Int = 30): DataFrame = {
    import s.implicits._
    val thresholds = ((-maxK) to maxK).map { k =>
      // top bucket absorbs the 2^-maxK tail so every u matches a row
      val t3 = if (k == maxK) Long.MaxValue
        else if (k < 0) 1L << (61 + k)
        else 3L * (1L << 60) - (1L << (60 - k))
      (k.toLong, t3)
    }.toDF("k", "t3")
    Tables(s, dir, "documents")
      .groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .withColumn("u3",
        lit(3L) * conv(substring(md5(concat(lit("dp:"), $"source")), 1, 15),
          16, 10).cast("long"))
      .join(broadcast(thresholds), $"u3" < $"t3")
      .groupBy($"source", $"n_docs").agg(min($"k").as("noise"))
      .select($"source", $"n_docs", $"noise",
        greatest($"n_docs" + $"noise", lit(0L)).as("released"))
      .orderBy($"source")
  }

  /** k-anonymity / l-diversity audit of the customer table before it is
    * shared as training data: group by the quasi-identifier pair
    * (nation, market segment) — the columns an adversary can link from
    * public context — and report each equivalence class's size k and its
    * count l of distinct sensitive values (the account-balance band).
    * A class with k below the threshold re-identifies its members; a
    * class with l = 1 leaks the sensitive value even at safe k
    * (homogeneity attack). Global k_min and the basis-point share of
    * rows in risky classes are repeated per row (the splitBalance
    * shape). Everything is exact counts over one shuffle; at 100 TB the
    * class rollup is tiny (|nations|×|segments|) and the window runs
    * over it, not the rows.
    */
  /** Dominant-period detector on daily revenue: exact integer
    * autocorrelation over lags 1..maxLag of the n-scaled centered
    * series (the [[acfLjungBox]] numerators, normalized to exact ppm
    * rho BEFORE any comparison so every compared value fits int64),
    * with the winning lag = argmax rho (smallest-lag tie-break via
    * min(struct)). The seasonality PROBE that precedes any seasonal
    * model choice: [[seasonalDecompose]] ASSUMES a 7-day period — this
    * measures whether 7 actually dominates, as one distributed scan +
    * a calendar-bounded lead-column rollup.
    */
  def dominantPeriod(s: SparkSession, dir: String,
                     maxLag: Int = 30): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val daily = dailyCents(Tables(s, dir, "orders"), $"o_orderdate",
      $"o_totalprice")
      .localCheckpoint()
    val st = daily.agg(count(lit(1)).as("n"), sum($"cents").as("s"))
    val w = Window.orderBy($"day")
    val y = daily.crossJoin(broadcast(st))
      .select($"day", ($"n" * $"cents" - $"s").as("y"))
    val leads = y.select(
      Seq($"y".cast(dec).as("y0")) ++
        (1 to maxLag).map(k => lead($"y", k).over(w).cast(dec).as(s"y$k")): _*)
    val aggs = Seq(sum($"y0" * $"y0").as("g0")) ++
      (1 to maxLag).map(k => sum($"y0" * col(s"y$k")).as(s"g$k"))
    val one = leads.agg(aggs.head, aggs.tail: _*)
    val stacked = one.select($"g0",
      expr((1 to maxLag).map(k => s"$k, g$k")
        .mkString(s"stack($maxLag, ", ", ", ") as (lag_k, gamma)")))
      // exact ppm rho through the nonnegative-shift floor division —
      // the only numbers that leave the wide-decimal stage
      .withColumn("rho_u", expr(
        "CAST((gamma * 1000000 + 1000000 * g0) div g0" +
        " - 1000000 AS BIGINT)"))
      .select($"lag_k".cast("long").as("lag_k"), $"rho_u")
      .localCheckpoint() // rho table and the argmax both read it
    val best = stacked
      .agg(min(struct((-$"rho_u").as("neg"), $"lag_k".as("lg"))).as("m"))
      .select($"m.lg".as("best_lag"))
    stacked.crossJoin(broadcast(best))
      .select($"lag_k", $"rho_u",
        ($"lag_k" === $"best_lag").as("dominant"))
      .orderBy($"lag_k")
  }

  /** Haar discrete-wavelet energy decomposition of the daily order-count
    * series — the multi-resolution twin of [[dominantPeriod]]: detail
    * energy at level ℓ measures variance at the 2^ℓ-day scale, so a
    * weekly cycle loads levels 2–3 and a quarterly drift loads 6–7.
    * Unnormalized integer Haar (pair sums s=a+b and differences d=a−b,
    * no √2) keeps every coefficient an exact BIGINT both engines
    * reproduce; the series is the first 2^levels calendar days from the
    * first order date, missing days as zeros (calendar-zero-fill, the
    * [[seasonalDecompose]] convention).
    *
    * Scale shape: the day rollup is one distributed scan +
    * map-side-combined count (calendar-bounded output at any corpus
    * size); each of the `levels` cascade steps is a groupBy over an
    * already ≤2^levels-row frame — the transform itself is
    * fully parallel per level, so no driver fold is needed, unlike the
    * inherently-sequential [[holtLinear]] recursion.
    */
  def haarEnergy(s: SparkSession, dir: String, levels: Int = 10): DataFrame = {
    import s.implicits._
    val n = 1 << levels
    val dc = Tables(s, dir, "orders")
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(count(lit(1)).as("c"))
    val mn = dc.agg(min($"day").as("d0"))
    // the day rollup above is the distributed part; the zero-filled
    // series is 2^levels rows — audit-bounded — so the cascade runs on
    // ONE partition instead of `levels` × shuffle-partitions micro-tasks
    var cur = s.range(n).select($"id".as("idx"))
      .crossJoin(broadcast(mn))
      .select($"idx", date_add($"d0", $"idx".cast("int")).as("day"))
      .join(dc, Seq("day"), "left")
      .select($"idx", coalesce($"c", lit(0L)).as("v"))
      .repartition(1)
      .localCheckpoint()
    val perLevel = (1 to levels).map { l =>
      // each group holds exactly one even and one odd index, so the
      // null-skipping sums recover the ordered (a, b) pair without a sort
      val g = cur.groupBy(expr("idx div 2").as("gidx"))
        .agg(sum(when($"idx" % 2 === 0, $"v")).as("ev"),
             sum(when($"idx" % 2 === 1, $"v")).as("od"))
        .select($"gidx".as("idx"), ($"ev" + $"od").as("v"),
          ($"ev" - $"od").as("d"))
        .localCheckpoint()
      cur = g.select($"idx", $"v")
      g.agg(count(lit(1)).as("n_coeffs"),
          sum($"d" * $"d").as("energy"))
        .select(lit(l).as("level"), $"n_coeffs", $"energy")
    }
    perLevel.reduce(_ unionByName _).orderBy($"level")
  }

  /** Holt linear-trend smoothing of daily revenue (double exponential —
    * the trend-aware upgrade of the EWMA monitor) with DYADIC-rational
    * gains α=1/4, β=1/8 so the whole recursion is exact integer
    * micro-cents under truncating division: l_t = (y_t·10⁶ + 3(l+b)) / 4,
    * b_t = ((l_t − l) + 7b) div 8, plus the one-step-ahead forecast
    * l+b and its signed error — the backtest column a capacity
    * forecast is judged on. The recursion is inherently sequential;
    * the day rollup is CALENDAR-BOUNDED at any corpus size, so the
    * fold runs driver-side over the collected rollup (the
    * [[vOptimalHistogram]] audit-bounded-state precedent) while the
    * orders scan underneath distributes. The oracle states the same
    * recursion as a recursive CTE — engine-exact by integer identity.
    */
  def holtLinear(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // day rides as ISO string through the driver fold (date-object
    // decode trips the java8-API seam; the string is unambiguous)
    val daily = dailyCents(Tables(s, dir, "orders"), $"o_orderdate",
      $"o_totalprice")
      .select($"day".cast("string").as("day"), $"cents")
      .orderBy($"day")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val rows = daily.zip(holtSteps(daily.map(_._2).toSeq)).map {
      case ((day, cents), h) =>
        (day, cents, h.level, h.trend, h.forecast, h.err)
    }
    s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1))
      .toDF("day", "cents", "level_u", "trend_u", "forecast_u", "err_u")
      .select(to_date($"day").as("day"), $"cents", $"level_u",
        $"trend_u", $"forecast_u", $"err_u")
      .orderBy($"day")
  }

  /** Holt–Winters additive triple smoothing (weekly season) of daily
    * revenue — [[holtLinear]] plus a learned 7-slot seasonal state, the
    * forecaster that stops calling every Saturday dip an anomaly.
    * Dyadic gains (α=1/4, β=1/8, γ=1/8) with truncating integer
    * division, zero-seasonal initialization (l₀=y₀, b₀=0, s≡0 — γ
    * learns the profile within a few weeks), so the whole trajectory is
    * an exact integer recursion both engines replay bit-for-bit (the
    * oracle as a recursive CTE carrying the rotating 7-slot state).
    * Forecast and error use the PRE-update state — the honest one-step-
    * ahead residual. Driver cost is calendar-bounded (one row per day).
    */
  def holtWinters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = dailyCents(Tables(s, dir, "orders"), $"o_orderdate",
      $"o_totalprice")
      .select($"day".cast("string").as("day"), $"cents")
      .orderBy($"day")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val rows = daily.zip(holtWintersSteps(daily.map(_._2).toSeq)).map {
      case ((day, cents), h) =>
        (day, cents, h.level, h.trend, h.season, h.forecast, h.err)
    }
    s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1))
      .toDF("day", "cents", "level_u", "trend_u", "season_u",
        "forecast_u", "err_u")
      .select(to_date($"day").as("day"), $"cents", $"level_u",
        $"trend_u", $"season_u", $"forecast_u", $"err_u")
      .orderBy($"day")
  }

  /** Mann–Kendall trend test on daily revenue — the nonparametric
    * companion to [[theilSenTrend]]'s slope: S = Σ_{i<j} sign(xⱼ−xᵢ)
    * counts concordant minus discordant day pairs, with the exact
    * tie-corrected variance (×18 to stay integer) and the
    * continuity-corrected z in milli (the one fixed-shape sqrt).
    * Monotone drift shows up here even when outliers wreck OLS and
    * nonlinearity wrecks a single slope. The pair space is calendar² —
    * bounded regardless of data size; the day rollup is the only
    * fact-sized work.
    */
  def mannKendall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = dailyCents(Tables(s, dir, "orders"), $"o_orderdate",
      $"o_totalprice")
      .localCheckpoint() // pair join (both sides) + tie rollup read it
    val a = daily.select($"day".as("di"), $"cents".as("xi"))
    val b = daily.select($"day".as("dj"), $"cents".as("xj"))
    val sStat = a.join(broadcast(b), $"di" < $"dj")
      .agg(sum(signum(($"xj" - $"xi").cast("double")).cast("long"))
        .as("s_stat"), count(lit(1)).as("n_pairs"))
    val ties = daily.groupBy($"cents").agg(count(lit(1)).as("t"))
      .agg(sum($"t" * ($"t" - 1L) * ($"t" * 2L + 5L)).as("tie_term"),
        sum($"t").as("n_days"))
    sStat.crossJoin(broadcast(ties))
      .withColumn("var18", expr(
        "n_days * (n_days - 1) * (2 * n_days + 5) - tie_term"))
      .withColumn("z_milli", when($"var18" > 0, round(
        (($"s_stat".cast("double") - signum($"s_stat".cast("double"))) /
          sqrt($"var18".cast("double") / 18.0)) * 1000).cast("long")))
      .select($"n_days", $"n_pairs", $"s_stat", $"tie_term", $"var18",
        $"z_milli")
  }

  /** Pettitt changepoint test on daily revenue — the rank-based single
    * changepoint detector (Pettitt 1979): Uₜ = Σ_{i≤t,j>t} sign(xᵢ−xⱼ)
    * via the exact recurrence Uₜ = Uₜ₋₁ + Σ_{j≠t} sign(xₜ−xⱼ), the
    * change day is the |U| argmax (earliest-day tie-break), and the
    * standard significance approximation 2·exp(−6K²/(n³+n²)) is
    * reported in milli (one fixed-shape exp). Unlike the CUSUM family
    * it needs no scale parameter — pure ranks. The day×day compare and
    * the cumulative window are calendar²/calendar bounded.
    */
  def pettittChangepoint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = dailyCents(Tables(s, dir, "orders"), $"o_orderdate",
      $"o_totalprice")
      .localCheckpoint() // both sides of the day-pair compare read it
    val b = daily.select($"cents".as("xj"))
    val v = daily.crossJoin(broadcast(b))
      .groupBy($"day")
      .agg((sum(signum(($"cents" - $"xj").cast("double"))).cast("long"))
        .as("v_t"))
    // calendar-bounded frames: the running U and the argmax scan
    val byDay = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val u = v.withColumn("u_t", sum($"v_t").over(byDay))
      .withColumn("n_days", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    u.orderBy(abs($"u_t").desc, $"day").limit(1)
      .select($"day".as("change_day"), abs($"u_t").as("k_stat"),
        $"u_t".as("u_at_change"), $"n_days",
        round(lit(2.0) * exp(lit(-6.0) *
          ($"u_t" * $"u_t").cast("double") /
          ($"n_days" * $"n_days" * $"n_days" + $"n_days" * $"n_days")
            .cast("double")) * 1000).cast("long").as("p_approx_milli"))
  }

  /** t-closeness audit (Li et al., ICDE'07) — the distributional
    * sequel to [[kAnonymity]]'s k/l checks: a quasi-identifier class
    * can be k-anonymous AND l-diverse yet still leak if its sensitive-
    * attribute DISTRIBUTION differs sharply from the corpus's. t is
    * the EMD between the class's account-band distribution and the
    * global one over the ordered bands (debt < low < high): with
    * ordered categories EMD = Σ|cumulative difference| / (m−1) —
    * Li et al.'s 1/(m−1) normalization keeps t in [0,1] for any band
    * count — here in exact basis points via cross-multiplied integer
    * cumulatives (no per-class float division; the ×(m−1) rides the
    * denominator of the single floor division). One row per class
    * plus the flag against the conventional t = 0.2 bar; scale is one
    * groupBy over the customer dim and a 3-band broadcast.
    */
  def tCloseness(s: SparkSession, dir: String,
                 tBarBp: Long = 2000L): DataFrame = {
    import s.implicits._
    val banded = Tables(s, dir, "customer")
      .select($"c_nationkey", $"c_mktsegment",
        when($"c_acctbal" < 0, 0L).when($"c_acctbal" < 5000, 1L)
          .otherwise(2L).as("band"))
      .localCheckpoint() // class rollup and global rollup read it
    val global = banded.groupBy($"band").agg(count(lit(1)).as("g"))
      .crossJoin(broadcast(banded.agg(count(lit(1)).as("n_tot"))))
    val classes = banded.groupBy($"c_nationkey", $"c_mktsegment", $"band")
      .agg(count(lit(1)).as("c"))
    // dense band grid per class (absent band = 0) so cumulatives align
    val grid = classes.select($"c_nationkey", $"c_mktsegment").distinct()
      .crossJoin(broadcast(global))
      .join(classes, Seq("c_nationkey", "c_mktsegment", "band"), "left")
      .na.fill(0L, Seq("c"))
    val byClass = Window.partitionBy($"c_nationkey", $"c_mktsegment")
      .orderBy($"band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("n_class", sum($"c").over(
        Window.partitionBy($"c_nationkey", $"c_mktsegment")))
      .withColumn("cum_c", sum($"c").over(byClass))
      .withColumn("cum_g", sum($"g").over(byClass))
      // |F_class − F_global| cross-multiplied: exact, denominator-free;
      // sum the gaps first, ONE floor division per class (wide decimal
      // for the ×10⁴ product — it brushes 2⁶³ around sf1000)
      .withColumn("gap", abs($"cum_c" * $"n_tot" - $"cum_g" * $"n_class"))
      .groupBy($"c_nationkey", $"c_mktsegment")
      .agg(max($"n_class").as("class_size"), max($"n_tot").as("n_tot"),
        sum($"gap").as("gap_sum"))
      // (m−1) = 2 for the 3-band grid: the ordered-EMD normalizer
      .withColumn("t_bp", expr(
        "CAST(CAST(gap_sum AS DECIMAL(38,0)) * 10000" +
        " div (class_size * n_tot * 2) AS BIGINT)"))
      .select($"c_nationkey", $"c_mktsegment", $"class_size", $"t_bp",
        ($"t_bp" > tBarBp).as("t_risky"))
      .orderBy($"c_nationkey", $"c_mktsegment")
  }

  def kAnonymity(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import s.implicits._
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    Tables(s, dir, "customer")
      .select($"c_nationkey", $"c_mktsegment",
        when($"c_acctbal" < 0, "debt")
          .when($"c_acctbal" < 5000, "low").otherwise("high").as("band"))
      .groupBy($"c_nationkey", $"c_mktsegment")
      .agg(count(lit(1)).as("class_size"),
        countDistinct($"band").as("l_diversity"))
      .withColumn("k_risky", $"class_size" < k)
      .withColumn("l_risky", $"l_diversity" <= 1)
      .withColumn("k_min", min($"class_size").over(all))
      .withColumn("risky_rows",
        sum(when($"k_risky" || $"l_risky", $"class_size").otherwise(0L))
          .over(all))
      .withColumn("n_rows", sum($"class_size").over(all))
      .select($"c_nationkey", $"c_mktsegment", $"class_size",
        $"l_diversity", $"k_risky", $"l_risky", $"k_min",
        expr("risky_rows * 10000 div n_rows").as("risky_share_bp"))
      .orderBy($"c_nationkey", $"c_mktsegment")
  }

  /** Entropy l-diversity per quasi-identifier class — the strict member
    * of the privacy triad ([[kAnonymity]] counts, [[tCloseness]]
    * distributions, this one concentrations): distinct-l says a class
    * with bands {99% low, 1% high} is 2-diverse; entropy-l sees the
    * 99% concentration. H = Σ (c/n)·ln(n/c) per class, effective
    * l = e^H, both from exact band counts: each band contributes ONE
    * fixed-shape ln term rounded to an integer (so the cross-band sum
    * is order-independent), the class divide is an exact floor, and
    * e^H is one fixed-shape exp of that integer. Flagged against
    * l ≥ 2 (entropy form). One groupBy over the customer dim.
    */
  def entropyLDiversity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = Tables(s, dir, "customer")
      .select($"c_nationkey", $"c_mktsegment",
        when($"c_acctbal" < 0, "debt")
          .when($"c_acctbal" < 5000, "low").otherwise("high").as("band"))
      .groupBy($"c_nationkey", $"c_mktsegment", $"band")
      .agg(count(lit(1)).as("cnt"))
    val tots = cells.groupBy($"c_nationkey", $"c_mktsegment")
      .agg(sum($"cnt").as("n"), count(lit(1)).as("l_distinct"))
    cells.join(tots, Seq("c_nationkey", "c_mktsegment"))
      .withColumn("term_u",
        round($"cnt".cast("double") *
          log($"n".cast("double") / $"cnt".cast("double")) * 1000000)
          .cast("long"))
      .groupBy($"c_nationkey", $"c_mktsegment")
      .agg(max($"n").as("class_size"), max($"l_distinct").as("l_distinct"),
        sum($"term_u").as("h_sum_u"))
      .withColumn("h_micro", expr("h_sum_u div class_size"))
      .withColumn("l_eff_milli",
        round(exp($"h_micro".cast("double") / lit(1000000.0)) * 1000)
          .cast("long"))
      .select($"c_nationkey", $"c_mktsegment", $"class_size",
        $"l_distinct", $"h_micro", $"l_eff_milli",
        ($"l_eff_milli" < 2000L).as("l2_risky"))
      .orderBy($"c_nationkey", $"c_mktsegment")
  }

  /** Tukey median polish of the nation × weekday revenue grid — the
    * robust two-way decomposition (value = row effect + column effect +
    * residual, all medians, no means): where a mean-based profile lets
    * one outlier day smear the whole nation's weekday shape, medians
    * localize it in ONE residual cell, which is what makes the residual
    * grid the right anomaly surface for a two-way rollup. Two full
    * row/col sweeps (the conventional stopping point), medians exact:
    * each row/column is a bounded list (≤7 / ≤|nations| values), sorted
    * and indexed at (n+1)/2 — the same lower-middle element DuckDB's
    * quantile_disc(0.5) picks, so integers stay integers end to end.
    * By construction cell = row_eff + col_eff + resid EXACTLY. The fact
    * scan is one groupBy; every sweep runs on the dimension-bounded
    * grid.
    */
  def medianPolish(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def medOdd = (c: Column) => element_at(array_sort(collect_list(c)),
      ((count(lit(1)) + 1L) / 2L).cast("int"))
    val cells = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey".as("o_custkey"), $"c_nationkey"), Seq("o_custkey"))
      .groupBy($"c_nationkey",
        graft.functions.dates.weekdayIndex($"o_orderdate".cast("date"))
          .cast("long").as("wd"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("v"))
    val g0 = cells.select($"c_nationkey").distinct()
      .crossJoin(cells.select($"wd").distinct())
      .join(cells, Seq("c_nationkey", "wd"), "left")
      .na.fill(0L, Seq("v"))
      .localCheckpoint() // four sweeps + the final join read it
    def rowSweep(g: DataFrame, name: String) = {
      val rm = g.groupBy($"c_nationkey").agg(medOdd($"v").as(name))
      (g.join(broadcast(rm), Seq("c_nationkey"))
        .select($"c_nationkey", $"wd", ($"v" - col(name)).as("v")), rm)
    }
    def colSweep(g: DataFrame, name: String) = {
      val cm = g.groupBy($"wd").agg(medOdd($"v").as(name))
      (g.join(broadcast(cm), Seq("wd"))
        .select($"c_nationkey", $"wd", ($"v" - col(name)).as("v")), cm)
    }
    val (g1, rm1) = rowSweep(g0, "rm1")
    val (g2, cm1) = colSweep(g1, "cm1")
    val (g3, rm2) = rowSweep(g2, "rm2")
    val (g4, cm2) = colSweep(g3, "cm2")
    g0.select($"c_nationkey", $"wd", $"v".as("cell_cents"))
      .join(broadcast(rm1), Seq("c_nationkey"))
      .join(broadcast(rm2), Seq("c_nationkey"))
      .join(broadcast(cm1), Seq("wd"))
      .join(broadcast(cm2), Seq("wd"))
      .join(g4.select($"c_nationkey", $"wd", $"v".as("resid_cents")),
        Seq("c_nationkey", "wd"))
      .select($"c_nationkey", $"wd", $"cell_cents",
        ($"rm1" + $"rm2").as("row_eff_cents"),
        ($"cm1" + $"cm2").as("col_eff_cents"), $"resid_cents")
      .orderBy($"c_nationkey", $"wd")
  }

  /** Difference-in-differences over the order history — the causal
    * workhorse for "did the thing we changed move the metric": treated
    * segment vs the rest, before vs after the calendar midpoint, the
    * 2×2 cell means in exact floor-divided cents and the DiD estimate
    * (treated post−pre minus control post−pre) that nets out both the
    * segment's level and the common time trend. A parallel-trends
    * caveat belongs next to any use; the PLACEBO row re-runs the same
    * contrast entirely inside the pre period (split at its own
    * midpoint), where a nonzero "effect" exposes trend divergence the
    * design would misattribute. All integer: cents sums, one floor per
    * cell mean; scale is one fact scan into a 4-cell (8 with placebo)
    * rollup.
    */
  def didOrders(s: SparkSession, dir: String,
                segment: String = "BUILDING"): DataFrame = {
    import s.implicits._
    val o = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey".as("o_custkey"), $"c_mktsegment"), Seq("o_custkey"))
      .select(($"c_mktsegment" === segment).as("treated"),
        $"o_orderdate".cast("date").as("day"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .localCheckpoint() // bounds + both contrasts read it
    val bounds = o.agg(min($"day").as("d0"), max($"day").as("d1"))
      .withColumn("mid", expr("date_add(d0, CAST(datediff(d1, d0) div 2 AS INT))"))
      .withColumn("pre_mid",
        expr("date_add(d0, CAST(datediff(mid, d0) div 2 AS INT))"))
    def contrast(tag: String, winStart: Column, cutoff: Column,
                 winEnd: Column): DataFrame =
      o.crossJoin(broadcast(bounds))
        .filter($"day" >= winStart && $"day" <= winEnd)
        .groupBy($"treated", ($"day" > cutoff).as("post"))
        .agg(count(lit(1)).as("n"), sum($"cents").as("sc"))
        .withColumn("mean_cents", expr("sc div n"))
        .groupBy()
        .agg(
          sum(when($"treated" && $"post", $"mean_cents")).as("t_post"),
          sum(when($"treated" && !$"post", $"mean_cents")).as("t_pre"),
          sum(when(!$"treated" && $"post", $"mean_cents")).as("c_post"),
          sum(when(!$"treated" && !$"post", $"mean_cents")).as("c_pre"),
          sum($"n").as("n_orders"))
        .select(lit(tag).as("design"), $"n_orders", $"t_pre", $"t_post",
          $"c_pre", $"c_post",
          (($"t_post" - $"t_pre") - ($"c_post" - $"c_pre")).as("did_cents"))
    contrast("actual", $"d0", $"mid", $"d1")
      .unionAll(contrast("placebo_pre_only", $"d0", $"pre_mid", $"mid"))
      .orderBy($"design")
  }

  /** Fisher ideal price index between the first and last order years —
    * the bilateral index a revenue dashboard needs before calling a
    * revenue change "growth" vs "inflation": Laspeyres (base-quantity
    * weights) overstates, Paasche (current weights) understates, Fisher
    * is their geometric mean. Unit prices are floor-divided
    * milli-cents from exact revenue/quantity sums per (part, period);
    * index numerators/denominators are DECIMAL sums of price×quantity
    * over parts traded in BOTH periods; the only float is Fisher's one
    * sqrt of the L·P product. Scale: two filtered fact scans into
    * part-grain rollups, one part-keyed join, then a scalar.
    */
  def fisherPriceIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = "DECIMAL(38,0)"
    val li = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders").select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .select($"l_partkey", year($"o_orderdate").as("yr"),
        round($"l_extendedprice" * 100).cast("long").as("rev_cents"),
        round($"l_quantity").cast("long").as("qty"))
      .localCheckpoint() // year bounds + both period rollups read it
    val yrs = li.agg(min($"yr").as("y0"), max($"yr").as("y1"))
    def period(sel: Column => Column) = li.crossJoin(broadcast(yrs))
      .filter(sel($"yr"))
      .groupBy($"l_partkey")
      .agg(sum($"rev_cents").as("rev"), sum($"qty").as("q"))
      .filter($"q" > 0)
      .withColumn("p_milli", expr("rev * 10 div q"))
    val base = period(y => y === $"y0")
      .select($"l_partkey", $"p_milli".as("p0"), $"q".as("q0"))
    val cur = period(y => y === $"y1")
      .select($"l_partkey", $"p_milli".as("p1"), $"q".as("q1"))
    base.join(cur, Seq("l_partkey"))
      .agg(count(lit(1)).as("n_parts_matched"),
        sum($"p1".cast(dec) * $"q0").as("l_num"),
        sum($"p0".cast(dec) * $"q0").as("l_den"),
        sum($"p1".cast(dec) * $"q1").as("p_num"),
        sum($"p0".cast(dec) * $"q1").as("p_den"))
      .select($"n_parts_matched",
        expr("CAST(l_num * 10000 div l_den AS BIGINT)").as("laspeyres_bp"),
        expr("CAST(p_num * 10000 div p_den AS BIGINT)").as("paasche_bp"))
      .withColumn("fisher_bp", round(sqrt(
        ($"laspeyres_bp" * $"paasche_bp").cast("double"))).cast("long"))
  }

  /** ABC inventory classification of parts by revenue — the 70/90
    * cumulative-share cut every ops team runs (A: the head that earns
    * 70% of revenue, B: to 90%, C: the tail): parts rank through
    * [[globalRowNumber]] (revenue desc, partkey — total order) and the
    * cumulative revenue rides [[globalPrefixSum]]'s range-partitioned
    * two-pass, so the classification survives a parts dimension of any
    * size with NO single-partition window. Class bounds compare
    * cross-multiplied integers (cum·10 vs total·7/9). Output is the
    * 3-row class rollup with exact revenue shares.
    */
  def abcClassification(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perPart = Tables(s, dir, "lineitem")
      .groupBy($"l_partkey")
      .agg(sum(round($"l_extendedprice" * 100).cast("long")).as("rev"))
      .localCheckpoint() // prefix sum + grand total read it
    val tot = perPart.agg(sum($"rev").as("total"))
    globalPrefixSum(perPart, Seq($"rev".desc, $"l_partkey"),
        $"rev", "cum_excl")
      .withColumn("cum", $"cum_excl" + $"rev")
      .crossJoin(broadcast(tot))
      .withColumn("abc_class",
        when($"cum" * 10 <= $"total" * 7, "A")
          .when($"cum" * 10 <= $"total" * 9, "B")
          .otherwise("C"))
      .groupBy($"abc_class")
      .agg(count(lit(1)).as("n_parts"), sum($"rev").as("revenue_cents"),
        max($"total").as("total"))
      .select($"abc_class", $"n_parts", $"revenue_cents",
        expr("revenue_cents * 10000 div total").as("share_bp"))
      .orderBy($"abc_class")
  }

  /** ABC × XYZ inventory segmentation matrix — the two-axis view every
    * supply planner actually uses: revenue concentration (A ≤70% of
    * cumulative revenue, B ≤90%, C tail — the [[abcClassification]]
    * convention, per part via the distributed prefix sum) crossed with
    * demand VARIABILITY (weekly-demand coefficient of variation:
    * X < 0.5, Y < 1.0, Z above or undefined — a single active week has
    * no variance and lands in Z, the honest bucket for "can't
    * forecast"). A-X cells are forecast-and-automate; A-Z cells are the
    * expensive surprises. Weeks are epoch-day÷7 (engine-portable, no
    * ISO week edge cases); CV from exact weekly moment sums, one
    * fixed-shape sqrt per part. Two fact groupBys + the part-level
    * prefix sum; the matrix rollup is ≤9 rows.
    */
  def xyzClassification(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables(s, dir, "lineitem")
    val perPart = li.groupBy($"l_partkey")
      .agg(sum(round($"l_extendedprice" * 100).cast("long")).as("rev"))
      .localCheckpoint() // prefix sum + grand total read it
    val tot = perPart.agg(sum($"rev").as("total"))
    val abc = globalPrefixSum(perPart, Seq($"rev".desc, $"l_partkey"),
        $"rev", "cum_excl")
      .withColumn("cum", $"cum_excl" + $"rev")
      .crossJoin(broadcast(tot))
      .withColumn("abc_class",
        when($"cum" * 10 <= $"total" * 7, "A")
          .when($"cum" * 10 <= $"total" * 9, "B")
          .otherwise("C"))
      .select($"l_partkey", $"rev", $"total", $"abc_class")
    val weekly = li
      .groupBy($"l_partkey",
        expr("datediff(CAST(l_shipdate AS DATE), DATE'1970-01-01') div 7")
          .as("week"))
      .agg(sum(round($"l_quantity").cast("long")).as("q"))
    val cv = weekly.groupBy($"l_partkey")
      .agg(count(lit(1)).as("n"), sum($"q").as("sq"),
        sum($"q" * $"q").as("ssq"))
      .withColumn("cv_bp", when($"n" > 1L, round(
        sqrt(($"n".cast("double") * $"ssq".cast("double") -
          $"sq".cast("double") * $"sq".cast("double")) /
          ($"n".cast("double") * ($"n".cast("double") - lit(1.0)))) /
          ($"sq".cast("double") / $"n".cast("double")) * 10000)
        .cast("long")))
      .withColumn("xyz_class",
        when($"cv_bp".isNull, "Z").when($"cv_bp" < 5000L, "X")
          .when($"cv_bp" < 10000L, "Y").otherwise("Z"))
      .select($"l_partkey", $"xyz_class")
    abc.join(cv, Seq("l_partkey"))
      .groupBy($"abc_class", $"xyz_class")
      .agg(count(lit(1)).as("n_parts"), sum($"rev").as("revenue_cents"),
        max($"total").as("total"))
      .select($"abc_class", $"xyz_class", $"n_parts", $"revenue_cents",
        expr("revenue_cents * 10000 div total").as("share_bp"))
      .orderBy($"abc_class", $"xyz_class")
  }

  /** Croston's method on an intermittent demand series — the forecast
    * the EWMA/Holt family gets WRONG for sparse demand (smoothing the
    * zeros drives the level to zero right before the next spike):
    * smooth the nonzero demand SIZES and the inter-demand INTERVALS
    * separately (α = 1/8 each, integer micro fold), forecast =
    * size/interval per day. The series is the sparsest natural one in
    * the schema — the single lowest-keyed part's daily shipped
    * quantity (deterministic pick, documented; any part id could be
    * parameterized in). State is one (size, interval) pair over at most
    * calendar-many demand events — the same bounded driver fold as
    * [[holtWinters]], with the recursion over DEMAND EVENTS only, so
    * sparsity makes it cheaper, not longer.
    */
  def croston(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables(s, dir, "lineitem")
    val pk = li.agg(min($"l_partkey")).collect().head.getLong(0)
    val events = li.filter($"l_partkey" === pk)
      .groupBy($"l_shipdate".cast("date").as("day"))
      .agg(sum(round($"l_quantity").cast("long")).as("q"))
      .select($"day".cast("string").as("day"), $"q")
      .orderBy($"day")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var z = events.head._2 * 1000000L
    var p = 1000000L // first interval: 1 day by convention
    var prevDay = java.time.LocalDate.parse(events.head._1)
    val rows = events.zipWithIndex.map { case ((day, q), i) =>
      val dd = java.time.LocalDate.parse(day)
      val gap = if (i == 0) 1L
        else java.time.temporal.ChronoUnit.DAYS.between(prevDay, dd)
      prevDay = dd
      if (i > 0) {
        z = (q * 1000000L + 7L * z) / 8L
        p = (gap * 1000000L + 7L * p) / 8L
      }
      // widen the ×10⁶ for the ratio: a heavy-demand part would push
      // z·10⁶ past int64 long before z itself (oracle uses HUGEINT)
      (day, q, gap, z, p, (BigInt(z) * 1000000 / BigInt(p)).toLong)
    }
    s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1))
      .toDF("day", "q", "gap", "z_u", "p_u", "f_u")
      .select(to_date($"day").as("day"), $"q", $"gap", $"z_u", $"p_u",
        $"f_u")
      .orderBy($"day")
  }

  /** Percent-of-parent hierarchy rollup — the region→nation drill-down
    * every OLAP cube renders: exact order-revenue cents per nation with
    * its share of the parent region and of the grand total in basis
    * points. Shares are cross-multiplied integer floors (one division
    * per row, no per-level float drift); parent totals come from
    * re-aggregating the nation rollup (dimension-bounded), never a
    * second fact scan. Fact join shape: orders ⋈ broadcast(customer dim
    * chain) — one shuffle for the nation groupBy at any scale.
    */
  def regionNationShare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nat = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", $"c_nationkey"), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables(s, dir, "nation")),
        $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables(s, dir, "region")),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"),
        count(lit(1)).as("n_orders"))
      .localCheckpoint() // parent + grand totals re-aggregate it
    val reg = nat.groupBy($"r_name").agg(sum($"cents").as("r_cents"))
    val tot = nat.agg(sum($"cents").as("t_cents"))
    nat.join(broadcast(reg), Seq("r_name")).crossJoin(broadcast(tot))
      .select($"r_name", $"n_name", $"n_orders", $"cents",
        expr("cents * 10000 div r_cents").as("share_of_region_bp"),
        expr("cents * 10000 div t_cents").as("share_of_total_bp"))
      .orderBy($"r_name", $"n_name")
  }

  /** Benjamini–Hochberg FDR over a 25-hypothesis family — the
    * multiple-testing control every per-segment dashboard needs once it
    * tests 25 nations at once (at α=0.10, 2-3 nominally-significant
    * segments are EXPECTED under the null; BH is what separates a real
    * effect from that). Per nation: a permutation test of its daily
    * revenue mass against the others' — statistic |s_n·N − S·c_n| (the
    * cross-multiplied mean gap, constant-denominator exact), observed
    * (perm 0, identity) vs `perms` seeded md5 re-assignments of the
    * day-cell values across nations (cell counts per nation fixed, so
    * only s_n varies — the [[cusumArl]] determinism trick), p =
    * (1+#{perm ≥ obs})/(perms+1) in milli. Then the BH step-up: sort p
    * ascending, reject ranks ≤ k* = max{k : p_k·m ≤ k·α} via
    * cross-multiplied integers. Scale: cells are nation×calendar
    * bounded (constant in data size), so every window here runs on a
    * bounded frame; the heavy part — the day rollup — is one
    * map-side-combined groupBy over the fact join.
    */
  def fdrBhNations(s: SparkSession, dir: String, perms: Int = 64,
                   alphaPct: Int = 10): DataFrame = {
    import s.implicits._
    val dec = "DECIMAL(38,0)"
    val cells = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey".as("o_custkey"), $"c_nationkey"), Seq("o_custkey"))
      .groupBy($"c_nationkey", $"o_orderdate".cast("date").as("day"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
      .withColumn("cell_key", concat(
        lpad($"c_nationkey".cast("string"), 4, "0"), lit(":"),
        $"day".cast("string")))
      // pin fan-out (r13, guide §2.5 / round-12 checkpoint-fanout rule):
      // the day rollup AQE-coalesces to ONE partition (a few MB), and the
      // (perms+1)-way crossJoin + md5 below fans out of the checkpoint —
      // un-pinned, all (perms+1)·n_cells hash rows ran on a single task
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
        $"cell_key")
      .localCheckpoint() // value ranks, perm grid, totals all read it
    val totals = cells.agg(count(lit(1)).as("n_cells"),
      sum($"cents").as("s_all"))
    val vals = cells
      .withColumn("rb", row_number().over(Window.orderBy($"cell_key"))
        .cast("long"))
      .select($"rb", $"cents".as("pcents"))
    val ps = s.range(perms + 1).toDF("p")
    // r13 optimization (guide §2.3/§2.4, plans/r13/q_fdr_bh_*):
    //  - project to (p, c_nationkey, ok) BEFORE the rank window's
    //    exchange — cell_key only exists to derive ok, and carrying it
    //    through the sort shuffled ~25% more bytes for nothing
    //  - broadcast the n_cells-row rank→value table: the rank join was
    //    a SortMergeJoin that re-shuffled all (perms+1)·n_cells rows
    //  - localCheckpoint the (perms+1)·|nations| t_stat grid: obs and
    //    pvals both read it, and un-materialized the whole permutation
    //    pipeline (md5 + rank sort + join + rollup) executed TWICE
    val permed = cells.select($"c_nationkey", $"cell_key").crossJoin(ps)
      .withColumn("ok", when($"p" === 0, $"cell_key")
        .otherwise(md5(concat(lit("fdr:"), $"p".cast("string"), lit(":"),
          $"cell_key"))))
      .select($"p", $"c_nationkey", $"ok")
      .withColumn("rp", row_number().over(
        Window.partitionBy($"p").orderBy($"ok")).cast("long"))
      .join(broadcast(vals), $"rp" === $"rb")
      .groupBy($"p", $"c_nationkey")
      .agg(sum($"pcents").as("s_n"), count(lit(1)).as("c_n"))
      .crossJoin(broadcast(totals))
      .withColumn("t_stat", abs($"s_n".cast(dec) * $"n_cells" -
        $"s_all".cast(dec) * $"c_n"))
      .localCheckpoint()
    val obs = permed.filter($"p" === 0)
      .select($"c_nationkey", $"c_n".as("n_days"), $"t_stat".as("t_obs"))
    val pvals = permed.filter($"p" >= 1)
      .join(broadcast(obs), Seq("c_nationkey"))
      .groupBy($"c_nationkey")
      .agg(max($"n_days").as("n_days"), max($"t_obs").as("t_obs"),
        sum(when($"t_stat" >= $"t_obs", 1L).otherwise(0L)).as("n_ge"))
      .withColumn("p_milli",
        expr(s"(1 + n_ge) * 1000 div ${perms + 1}"))
    // BH step-up over the m=|nations| family: bounded 25-row windows
    val asc = Window.orderBy($"p_milli", $"c_nationkey")
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    pvals
      .withColumn("m", count(lit(1)).over(all))
      .withColumn("rk", row_number().over(asc).cast("long"))
      .withColumn("pass", $"p_milli" * $"m" <= $"rk" * (alphaPct * 10L))
      .withColumn("k_star", max(when($"pass", $"rk").otherwise(0L)).over(all))
      .select($"c_nationkey", $"n_days",
        graft.functions.num.toLongChecked($"t_obs", "t_obs").as("t_obs"),
        $"n_ge", $"p_milli", $"rk", $"k_star",
        ($"rk" <= $"k_star").as("rejected"))
      .orderBy($"c_nationkey")
  }
}
