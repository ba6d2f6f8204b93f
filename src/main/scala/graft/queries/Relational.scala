package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Artifact, Ioops, Tables}
import graft.ops.{Aggs, Exprs, Joins}
import Exprs.{r2, r4}

/** Demo queries for the relational operator inventory (SURVEY.md §2.1–2.8,
  * mapped per §7.3) over the testdata star schema, each paired with an
  * ANSI-SQL oracle executed by DuckDB on the same Parquet files.
  *
  * Determinism rules (SURVEY.md §7.5): every implicit pandas ordering
  * (tail/head/idxmin/drop_duplicates keep-first) is an explicit total
  * order with tie-breaks; doubles are rounded at emission (X11); pivots
  * use explicit value lists.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // S1+P1+P2: scan → conjunctive filter → project → agg (TPC-H Q6 shape;
    // reference scan+filter main.py:21-27, datasets.py:14-29).
    "s1_scan_filter_agg" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.04, 0.07) && col("l_quantity") < 24)
        .agg(r2(Exprs.sumExact(col("l_extendedprice") * col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_rows"))
    }),

    // A-family headline group-agg (TPC-H Q1 shape; reference group-aggs §2.4).
    "a0_groupagg_wide" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          r2(Exprs.sumExact(col("l_quantity"))).as("sum_qty"),
          r2(Exprs.sumExact(col("l_extendedprice"))).as("sum_base_price"),
          r2(Exprs.sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price"),
          r4(Exprs.avgExact(col("l_quantity"))).as("avg_qty"),
          r4(Exprs.avgExact(col("l_discount"))).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // S1-CSV + S2 + S6: schema'd CSV scan, CSV sink, fail-fast column
    // check — proven by a lossless roundtrip (parquet customer → CSV
    // with header → typed read-back); the oracle reads the original
    // parquet table, so any loss in the sink or the scan mismatches
    // (datasets.py:14-47, plays.py:67-72).
    "csv_scan_schema" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val tmp = System.getProperty("java.io.tmpdir") +
        s"/graft_csv_${d.replaceAll("[^A-Za-z0-9]", "_")}/customer"
      Ioops.writeCsv(Tables.customer(s, d), tmp)
      val schema = StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType)))
      Ioops.readCsv(s, schema, tmp, Seq("c_custkey", "c_name", "c_acctbal"))
    }),

    // S1-JSONL + S2: schema'd JSON-lines roundtrip (same oracle shape as
    // csv_scan_schema — the original parquet table must hash-match the
    // sink→scan roundtrip, including shortest-repr doubles).
    "json_scan_schema" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val tmp = System.getProperty("java.io.tmpdir") +
        s"/graft_jsonl_${d.replaceAll("[^A-Za-z0-9]", "_")}/supplier"
      Ioops.writeJsonl(Tables.supplier(s, d), tmp)
      val schema = StructType(Seq(
        StructField("s_suppkey", LongType), StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType)))
      Ioops.readJsonl(s, schema, tmp)
    }),

    // S3: multi-file partitioned scan — write orders week-style
    // (partitionBy status), read the directory back, filter on the
    // partition column; the filter prunes directories at file-listing
    // time (PartitionFilters in the scan, asserted in IoopsSpec), the
    // Spark shape of the reference's per-week file loop
    // (tracking.py:467-481, create_datasets.py:86-91).
    "s3_partitioned_scan" -> ((s, d) => {
      val tmp = Artifact.path("orders_by_status", d,
        Ioops.sourceStamp(s, s"$d/orders.parquet"))
      // repartition on the partition column before a partitionBy write:
      // otherwise every task writes a file into every partition dir —
      // tasks × partitions small files, the classic 100-TB lake killer.
      // The write is lake SETUP, not the operator under test (the pruned
      // scan is) — write once per source generation and reuse, like a
      // real lake table ([[Artifact]]: the source stamp in the path
      // routes an in-place regeneration to a fresh copy).
      // explicit schema (the writer's own), not footer inference: an
      // EMPTY source writes a zero-part-file lake whose read would die
      // with UNABLE_TO_INFER_SCHEMA (degenerate-cardinality sweep,
      // r10) — and a real lake read is catalog-schema'd anyway.
      // Partition pruning is unaffected (PlanSpec-pinned).
      val schema = Tables.orders(s, d).schema
      Artifact.ensure(s, tmp)(Artifact.readIf(s, s"$tmp/_SUCCESS")(
        s.read.schema(schema).parquet(tmp)))(out =>
        Tables.orders(s, d).repartition(col("o_orderstatus"))
          .write.mode("overwrite")
          .partitionBy("o_orderstatus").parquet(out))
        .filter(col("o_orderstatus") === "F")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          r2(Exprs.sumExact(col("o_totalprice"))).as("sum_price"))
    }),

    // S7 (extension surface): ORC roundtrip — Spark's second native
    // columnar format, same predicate-pushdown/column-pruning contract
    // as parquet. The write is sink SETUP (once per source dir, like
    // s3's lake copy); the operator under test is the ORC scan with a
    // pushed filter. The oracle reads the SAME parquet source — the
    // roundtrip must be value-preserving, which is exactly what gets
    // hash-checked.
    "s7_orc_roundtrip" -> ((s, d) => {
      val tmp = Artifact.path("supplier_orc", d,
        Ioops.sourceStamp(s, s"$d/supplier.parquet"))
      Artifact.ensure(s, tmp)(Artifact.readIf(s, s"$tmp/_SUCCESS")(s.read.orc(tmp)))(
        out => Tables.supplier(s, d).write.mode("overwrite").orc(out))
        .filter(col("s_acctbal") > 0)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
          r2(Exprs.sumExact(col("s_acctbal"))).as("sum_bal"))
    }),

    // P1: fixed-list projection (plays.py:74, tracking.py:45).
    "p1_project" -> ((s, d) =>
      Tables.part(s, d).select(col("p_partkey"), col("p_name"), col("p_size"))),

    // P3: IN-list predicate (plays.py:96-98).
    "p3_in_list" -> ((s, d) =>
      Tables.nation(s, d)
        .filter(col("n_name").isin("NATION_3", "NATION_7", "NATION_12"))
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),

    // P5: dedup-by-key with pandas keep-*first* semantics made explicit
    // via a total order (plays.py:74-76; SURVEY §2.2 P5 semantic note).
    "p5_dedup_first_row" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_quantity"))
      // (l_orderkey, l_linenumber) is not unique in the testdata — extend
      // the order to a total order over the emitted columns. min_by hash
      // aggregate: partial map-side combine, no per-partition sort.
      Aggs.argminSelect(li, Seq(col("l_orderkey")),
        Seq(col("l_linenumber"), col("l_partkey"), col("l_quantity")),
        Seq("l_partkey", "l_quantity"))
    }),

    // P6: disjunctive predicate (tracking.py:377-381).
    "p6_disjunctive_filter" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_discount") >= 0.09 || col("l_tax") >= 0.07)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_discount"), col("l_tax"))),

    // P7: null-fill after left join against an aggregate (tracking.py:305-306).
    "p7_null_fill" -> ((s, d) => {
      val counts = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"))
      Tables.customer(s, d)
        .join(counts, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), coalesce(col("n"), lit(0L)).as("n_orders"))
    }),

    // J1: inner equi-join (plays.py:156).
    "j1_inner_join" -> ((s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"), "inner")
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))),

    // J2/J3: left join a key-unique dim with broadcast hint (tracking.py:77-121).
    "j2_left_join_dim" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
      li.join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"), "left")
        .filter(col("s_suppkey").isNotNull)
        .select(col("l_orderkey"), col("l_linenumber"), col("s_name"))
    }),

    // J4+X7: left join then CASE compute, join payload dropped
    // (tracking.py:141-165 team resolution).
    "j4_join_case_resolve" -> ((s, d) =>
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"),
          when(col("o_orderstatus") === "F", col("c_mktsegment"))
            .when(col("o_orderstatus") === "O", lit("OPEN"))
            .otherwise(lit("OTHER")).as("resolved_segment"))),

    // J5: left-semi existence filter (tracking.py:204-266, plays.py:280-293).
    "j5_left_semi" -> ((s, d) =>
      Joins.semiFilter(Tables.customer(s, d),
        Tables.orders(s, d).select(col("o_custkey").as("c_custkey")), Seq("c_custkey"))
        .select(col("c_custkey"), col("c_name"))),

    // J5-complement: anti join (SURVEY §2.7 — dropped-rows accounting).
    // Filtered to high-price orders so absences are guaranteed at every
    // sf (every customer has SOME order in this data — an unfiltered
    // anti join returns 0 rows and proves nothing).
    "j5_left_anti" -> ((s, d) =>
      Joins.antiFilter(Tables.customer(s, d),
        Tables.orders(s, d).filter(col("o_totalprice") > 300000)
          .select(col("o_custkey").as("c_custkey")), Seq("c_custkey"))
        .select(col("c_custkey"), col("c_name"))),

    // J6: self-join of two branches of one scan with renamed payload
    // (tracking.py:400-413 defenders × receiver coords).
    "j6_self_join_rename" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val first = li.filter(col("l_linenumber") === 1)
        .select(col("l_orderkey").as("fk"), col("l_quantity").as("first_qty"),
          col("l_extendedprice").as("first_price"))
      // try_divide, not `/`: a first line with a zero price is data,
      // not a bug — under ANSI a bare division would fail the whole
      // job; the pinned contract is ratio-with-zero-denominator = NULL
      // (oracle: nullif), identical to `/` on every nonzero row.
      li.join(first, col("l_orderkey") === col("fk"), "inner")
        .select(col("l_orderkey"), col("l_linenumber"),
          r2(col("l_quantity") - col("first_qty")).as("qty_delta"),
          r4(try_divide(col("l_extendedprice"), col("first_price"))).as("price_ratio"))
    }),

    // J7: result-assembly left join of two aggregates (compute_scores.py:22-36).
    "j7_assembly_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val avgs = ev.groupBy(col("user_id")).agg(r4(Exprs.avgExact(col("value"))).as("avg_value"))
      val errs = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      avgs.join(errs, Seq("user_id"), "left")
        .select(col("user_id"), col("avg_value"), coalesce(col("n"), lit(0L)).as("n_errors"))
    }),

    // A1: fused per-group count-distincts — one shuffle where the
    // reference runs two aggs + two joins (tracking.py:282-303; §4 rewrite).
    "a1_count_distinct" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy(col("l_orderkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
          countDistinct(col("l_partkey")).as("n_parts"))),

    // A2/A3: per-group mean and max (tracking.py:420-424, 332-334).
    "a2_a3_avg_max" -> ((s, d) =>
      Tables.events(s, d).groupBy(col("user_id"))
        .agg(r4(Exprs.avgExact(col("value"))).as("avg_value"),
          max(col("value")).as("max_value"),
          max(col("event_id")).as("last_event_id"))),

    // A4 (flagship): argmin-per-group with explicit tie-break + broadcast
    // dim join (closest-defender idxmin, tracking.py:426-437). min_by
    // hash aggregate instead of window+sort: shuffle traffic drops to
    // one candidate row per (mapper, group) and nothing is sorted.
    "a4_argmin_per_group" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_linenumber"))
      val best = Aggs.argminSelect(li, Seq(col("l_orderkey")),
        Seq(col("l_extendedprice"), col("l_linenumber"), col("l_suppkey")),
        Seq("l_suppkey", "l_extendedprice"))
      best.join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"), "inner")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice").as("min_price"), col("s_name"))
    }),

    // A12: top-N (N>1) per group with rank kept (quadrant.ipynb cell 4
    // nlargest(5) per quadrant).
    "a12_topn_per_group" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      Aggs.topNPerGroup(o, Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        .select(col("o_custkey"), col("rank"), col("o_orderkey"), col("o_totalprice"))
    }),

    // A5: last-row-per-group with explicit ordering (pandas tail(1),
    // create_datasets.py:16-25, deception.py:8-15).
    "a5_last_row_per_group" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      Aggs.argmaxSelect(o, Seq(col("o_custkey")),
        Seq(col("o_orderdate"), col("o_orderkey")),
        Seq("o_orderkey", "o_orderdate"))
    }),

    // A6: grouped-filter by group size via window count (quadrant.ipynb
    // cell 2 `len(g) >= N`).
    "a6_group_size_filter" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"))
      Aggs.groupSizeFilter(o, Seq(col("o_custkey")), 12L)
    }),

    // A7: grouped-filter by distinct-count transform (tracking.py:523-528
    // `nunique(player_role) == 3`).
    "a7_distinct_count_filter" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
      Aggs.distinctCountFilter(li, Seq(col("l_orderkey")), col("l_suppkey"), 1)
        .select(col("l_orderkey"), col("l_linenumber"))
    }),

    // A8: entity-level means over a broadcast dim join (quadrant.ipynb cell 3).
    "a8_entity_means" -> ((s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(r2(Exprs.avgExact(col("c_acctbal"))).as("avg_acctbal"), count(lit(1)).as("n_customers"))),

    // A9: value_counts — group count + desc sort with tie-break (main.py:15).
    "a9_value_counts" -> ((s, d) =>
      Tables.events(s, d).groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("event_type").asc)),

    // A10: pivot long→wide with explicit values — no extra distinct job
    // (tracking.py:339-358 pivot_table).
    "a10_pivot" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("O", "F"))
        .agg(r2(sum(col("l_quantity"))))
        .withColumnRenamed("O", "qty_o").withColumnRenamed("F", "qty_f")),

    // A11: full-row distinct (tracking.py:77).
    "a11_distinct" -> ((s, d) =>
      Tables.lineitem(s, d).select(col("l_returnflag"), col("l_linestatus")).distinct()),

    // A13 (extension surface, SURVEY §2.4 note): exact multi-quantile
    // per group — one pass, no sort-per-group; continuous interpolation
    // matches DuckDB quantile_cont.
    "a13_percentile_exact" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          r4(percentile(col("l_extendedprice"), lit(0.25))).as("p25"),
          r4(percentile(col("l_extendedprice"), lit(0.5))).as("p50"),
          r4(percentile(col("l_extendedprice"), lit(0.75))).as("p75"))),

    // A14 (extension surface): sketch aggregates for 100-TB cardinality /
    // quantile estimation — HLL++ count-distinct and approximate
    // quantiles. Fixed-size sketch state merges associatively, so the
    // aggregate stays one partial+final pass at any scale where exact
    // countDistinct would shuffle every distinct key. The raw sketch
    // values are engine-specific (DuckDB's HLL differs), so the query
    // surfaces what IS oracle-checkable: the exact cardinality plus
    // per-group error-bound bits (HLL within 2.5σ of its rsd=0.02; the
    // approx median inside the [p49, p51] exact rank window, 10× the
    // 1/accuracy rank-error bound). A sketch regression flips a bit and
    // the scoreboard hash goes red; SketchSpec pins the tighter bounds.
    "a14_approx_sketches" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_orderkey")).as("orders_exact"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("__hll"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("__p50a"),
          percentile(col("l_extendedprice"), lit(0.49)).as("__p49"),
          percentile(col("l_extendedprice"), lit(0.51)).as("__p51"))
        .select(col("l_returnflag"), col("orders_exact"),
          (abs(col("__hll") - col("orders_exact")) <=
            col("orders_exact") * 0.05).cast("int").as("hll_within_5pct"),
          col("__p50a").between(col("__p49"), col("__p51"))
            .cast("int").as("p50_in_rank_window"))),

    // X19 (extension surface, functions/ZOrderKey.scala): Morton
    // z-order key — the multi-dimensional clustering primitive behind
    // OPTIMIZE ZORDER BY. Dimensions mapped into 16-bit domains so the
    // per-bit SQL oracle is exact.
    "x19_zorder_key" -> ((s, d) =>
      Tables.orders(s, d).select(col("o_orderkey"),
        graft.functions.ZOrderKey.zkey(
          pmod(col("o_custkey"), lit(65536L)),
          pmod(floor(col("o_totalprice")).cast("long"), lit(65536L))).as("zkey"))),

    // A16 (extension surface): MERGEABLE sketch re-aggregation — the
    // 100-TB rollup pattern a14's direct sketch misses: per-(flag,
    // status) HLL sketches (DataSketches binary state) merge via
    // hll_union_agg up to flag level WITHOUT touching raw rows again —
    // precompute fine-grained sketches once, answer any coarser
    // distinct-count rollup from sketch bytes. Estimates are
    // engine-specific, so the query surfaces the oracle-checkable
    // exact cardinality plus a bound bit: the re-aggregated estimate
    // within 5% of exact (HLL lgK=12 rsd ≈ 1.6%, 3σ ≈ 5%).
    "a16_hll_reagg" -> ((s, d) => {
      val fine = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(hll_sketch_agg(col("l_orderkey"), lit(12)).as("sk"))
      val exact = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("orders_exact"))
      // null-safe rejoin: a NULL l_returnflag is a GROUP in both
      // halves; a plain equi-join would silently drop it (hostile
      // sweep, r10 — the a7 contract applied to the sketch re-agg)
      val coarse = fine.groupBy(col("l_returnflag"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("__est"))
        .withColumnRenamed("l_returnflag", "__flag")
      coarse.join(exact, col("__flag") <=> col("l_returnflag"))
        .select(col("l_returnflag"), col("orders_exact"),
          (abs(col("__est") - col("orders_exact")) <=
            col("orders_exact") * 0.05).cast("int").as("reagg_within_5pct"))
    }),

    // U2 (extension surface): set operations — INTERSECT/EXCEPT compile
    // to hash-partitioned semi/anti joins over distinct rows (one
    // shuffle each), tagged and unioned into one result.
    "u2_set_ops" -> ((s, d) => {
      val building = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val withOrders = Tables.orders(s, d)
        .select(col("o_custkey").as("c_custkey"))
      building.intersect(withOrders)
        .select(lit("both").as("tag"), col("c_custkey"))
        .unionByName(building.except(withOrders)
          .select(lit("no_orders").as("tag"), col("c_custkey")))
    }),

    // U3 (§2.7, bag semantics): INTERSECT ALL / EXCEPT ALL — duplicate
    // COUNTS carry meaning (min of multiplicities / count difference),
    // planned as a count-aggregate + generate rather than a join on
    // distinct rows. Input: order-priority tags per clerk bucket on the
    // two order-status populations, where duplicates are plentiful.
    "u3_set_ops_all" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select((col("o_custkey") % 50).as("bucket"), col("o_orderpriority"))
      val fulfilled = o.filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      val open = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "O")
        .select((col("o_custkey") % 50).as("bucket"), col("o_orderpriority"))
      fulfilled.intersectAll(open)
        .select(lit("in_both_bag").as("tag"), col("bucket"), col("o_orderpriority"))
        .unionByName(fulfilled.exceptAll(open)
          .select(lit("only_left_bag").as("tag"), col("bucket"), col("o_orderpriority")))
    }),

    // A15 (extension surface): ROLLUP — the multi-level subtotal
    // aggregate (per (flag, status), per flag, grand total) in ONE pass:
    // Spark expands the grouping sets map-side, so the cube lattice
    // costs one shuffle, not one job per level. grouping_id
    // disambiguates a NULL dimension value from a subtotal row.
    "a15_rollup" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          r2(Exprs.sumExact(col("l_quantity"))).as("sum_qty"),
          grouping_id().cast("long").as("gid"))),

    // J-skew (extension surface, ops/Skew.scala): salted fact⋈dim join —
    // the hot-key scatter for joins AQE's runtime skew split can't fix
    // (e.g. broadcast-ineligible dims with one dominant key). Result is
    // identical to the plain join, which is exactly what the oracle
    // checks; SkewSpec pins the scatter mechanics.
    "j10_salted_join" -> ((s, d) =>
      graft.ops.Skew.saltedJoin(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        Tables.customer(s, d).select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        Seq("o_custkey"), salt = 8)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("c_mktsegment"))),

    // O1/O2: multi-column mixed asc/desc sort (tracking.py:443-451).
    "o2_mixed_sort" -> ((s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_custkey").asc, col("o_orderdate").desc, col("o_orderkey").asc)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))),

    // O3: top-k by metric with total-order tie-break → TakeOrderedAndProject
    // (receivers.ipynb sort+head).
    "o3_topk" -> ((s, d) =>
      Tables.customer(s, d)
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .limit(10)),

    // U1: by-name union of two filtered branches (plays.py:152,
    // tracking.py:439-441; pandas concat aligns by name).
    "u1_union_by_name" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val high = o.filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey"), col("o_totalprice"), lit("high_value").as("tag"))
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(lit("urgent").as("tag"), col("o_totalprice"), col("o_orderkey"))
      high.unionByName(urgent)
    }),

    // X1/X3/X4/X5/X6/X8: geometry & kinematics expression sweep as pure
    // codegen'd column math (features.py:11-111).
    "x1_geometry_exprs" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val x1 = col("l_quantity"); val y1 = col("l_tax") * 100
      val x2 = col("l_discount") * 100; val y2 = col("l_linenumber").cast("double")
      val brg = Exprs.bearing(y2 - y1, x2 - x1)
      li.select(col("l_orderkey"), col("l_linenumber"),
        r2(Exprs.dist(x1, y1, x2, y2)).as("dist"),
        r4(brg).as("bearing"),
        r4(Exprs.angleDiff(brg, lit(45.0))).as("angle_diff"),
        r4(Exprs.unitX(brg)).as("unit_x"),
        r4(Exprs.unitY(brg)).as("unit_y"),
        r2(Exprs.boundaryDist(x1, y1)).as("boundary_dist"),
        r2(Exprs.clampMin(x2 - x1, 0.01)).as("clamped_gap"))
    }),

    // X2: conditional field-flip standardization (tracking.py:168-201).
    "x2_flip_standardize" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val isLeft = col("l_returnflag") === "R"
      li.select(col("l_orderkey"), col("l_linenumber"),
        Exprs.flipCoord(isLeft, col("l_quantity"), 120.0).as("x_std"),
        Exprs.flipCoord(isLeft, col("l_tax") * 100, 53.3).as("y_std"),
        Exprs.flipAngle(isLeft, col("l_discount") * 3600).as("dir_std"))
    }),

    // X9/X10: boolean→int flags and binary target (features.py:137-140,
    // create_datasets.py:28-43).
    "x10_binary_flags" -> ((s, d) =>
      Tables.orders(s, d).select(col("o_orderkey"),
        Exprs.flag(col("o_orderstatus") =!= "F").as("is_open_target"),
        Exprs.flag(col("o_orderpriority") === "1-URGENT").as("is_urgent"),
        Exprs.flag(col("o_totalprice") > 200000).as("is_large"))),

    // X12: piecewise outcome-weighted score (recovery.py:33-62).
    "x12_piecewise_score" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val mapped = when(col("l_returnflag") === "A", "C")
        .when(col("l_returnflag") === "R", "I").otherwise("IN")
      val p = col("l_discount") * 10
      li.select(col("l_orderkey"), col("l_linenumber"),
        mapped.as("pass_result"),
        r4(Exprs.recoveryScore(mapped, p)).as("recovery_score"))
    }),

    // X16: modular arithmetic on ids (visualization/play.py:303
    // jersey = nfl_id % 100).
    "x16_jersey_mod" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_custkey"),
        pmod(col("c_custkey"), lit(100L)).as("jersey"))),

    // X17: templated path resolution as a per-row expression
    // (settings.py:57-58,163 "input_2023_w{week:02d}.csv").
    "x17_path_template" -> ((s, d) =>
      Tables.nation(s, d).select(col("n_nationkey").as("week"),
        Ioops.weeklyFileCol("input_2023", col("n_nationkey")).as("file_name"))),

    // X15: linear-interpolation sequence via sequence + explode
    // (visualization/play.py:148-162 np.linspace).
    "x15_interp_sequence" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          explode(sequence(lit(0), lit(4))).as("i"))
        .select(col("l_orderkey"), col("l_linenumber"), col("i").cast("long").as("i"),
          r2(col("l_quantity") * col("i") / 4.0).as("interp"))),

    // K1: per-group conditional-aggregation featurizer — the reference's
    // per-group Python loop (features.py:63-150) relationalized into one
    // hash aggregate; groups missing a "role" drop out via null filter.
    "k1_featurize_condagg" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      def roleVal(ln: Int, c: org.apache.spark.sql.Column) = max(when(col("l_linenumber") === ln, c))
      val agged = li.groupBy(col("l_orderkey")).agg(
        roleVal(1, col("l_quantity")).as("qb_x"),
        roleVal(1, col("l_tax") * 100).as("qb_y"),
        roleVal(2, col("l_quantity")).as("rec_x"),
        roleVal(2, col("l_tax") * 100).as("rec_y"),
        roleVal(3, col("l_quantity")).as("def_x"),
        roleVal(3, col("l_tax") * 100).as("def_y"),
        roleVal(3, col("l_discount") * 100).as("def_s"),
        roleVal(3, col("l_extendedprice") % 360).as("def_dir"))
      agged
        .filter(col("qb_x").isNotNull && col("rec_x").isNotNull && col("def_x").isNotNull)
        .select(col("l_orderkey"),
          r2(Exprs.dist(col("rec_x"), col("rec_y"), col("def_x"), col("def_y"))).as("separation"),
          r2(Exprs.dist(col("qb_x"), col("qb_y"), col("rec_x"), col("rec_y"))).as("qb_to_rec_dist"),
          r2(Exprs.closingSpeed(col("def_x"), col("def_y"), col("def_s"), col("def_dir"),
            col("rec_x"), col("rec_y"))).as("closing_speed"),
          r2(pow(Exprs.dist(col("rec_x"), col("rec_y"), col("def_x"), col("def_y")), 2)).as("separation_sq"))
    }),

    // K6: probabilistic eval metrics as aggregates (evaluate.py:44-48):
    // log-loss + Brier.
    "k6_logloss_brier" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val eps = 1e-6
      val p = greatest(least(col("l_discount") * 10, lit(1 - eps)), lit(eps))
      val y = Exprs.flag(col("l_returnflag") === "R").cast("double")
      li.agg(
        r4(Exprs.avgExact(-(y * log(p) + (lit(1.0) - y) * log(lit(1.0) - p)))).as("logloss"),
        r4(Exprs.avgExact(pow(p - y, 2))).as("brier"),
        count(lit(1)).as("n"))
    }),

    // K6: calibration bins (evaluate.py calibration curve, 10 bins).
    "k6_calibration_bins" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val p = col("l_discount") * 10
      val y = Exprs.flag(col("l_returnflag") === "R").cast("double")
      li.select(least(floor(p * 10), lit(9L)).as("bin"), p.as("p"), y.as("y"))
        .groupBy(col("bin"))
        .agg(r4(Exprs.avgExact(col("p"))).as("avg_p"), r4(Exprs.avgExact(col("y"))).as("avg_y"),
          count(lit(1)).as("n"))
    }),

    // Extension: tumbling-window time aggregation over the events table
    // (Structured-Streaming-shaped; SURVEY.md §2.10 labeled extension).
    "w1_tumbling_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"), r2(Exprs.sumExact(col("value"))).as("sum_value"))
        .select(col("w.start").as("hour_start"), col("n"), col("sum_value"))),

    // Extension: SLIDING window aggregation (1h windows every 15min —
    // each event lands in exactly 4 windows; identical code path under
    // readStream with a watermark). The oracle derives the same 4
    // window starts per event from integer microsecond arithmetic.
    "w4_sliding_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"), r2(Exprs.sumExact(col("value"))).as("sum_value"))
        .select(col("w.start").as("window_start"), col("n"), col("sum_value"))),

    // Extension: per-user session windows over event time (built-in
    // session_window; identical code path batch or readStream —
    // StreamingSpec runs the same transform on a MemoryStream).
    "w2_session_window" -> ((s, d) =>
      graft.streaming.Streaming.sessionAgg(
        Tables.events(s, d).select(col("user_id"), col("ts"), col("value")),
        "6 hours")),

    // Extension: stream-stream interval join (clicks⋈views within 10
    // minutes per user) — the SAME code path StreamingSpec drives with
    // two MemoryStreams; in batch the watermarks are no-ops and the
    // interval predicate is an ordinary range-join condition.
    "w3_interval_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      graft.streaming.Streaming.intervalJoinStreams(clicks, views, "user_id",
        "click_ts", "view_ts", watermark = "0 seconds", interval = "10 minutes")
    }),

    // w3's left-outer form — "which clicks never converted inside the
    // window?": unmatched clicks survive with nulled view columns (in
    // streaming they emit once the left watermark passes the interval
    // end; in batch the outer join answers directly).
    "w5_interval_left_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      graft.streaming.Streaming.intervalJoinStreams(clicks, views, "user_id",
        "click_ts", "view_ts", watermark = "0 seconds", interval = "10 minutes",
        joinType = "left_outer")
    }),

    // Extension: JSON extraction from events.props (testdata carrier for
    // get_json_object; SURVEY.md §2.8 note).
    "j8_json_extract" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))),

    // J11: the 32-row teams metadata dim (teams.py:43-76) broadcast-
    // joined against a fact via a deterministic surrogate key — the
    // canonical tiny-dim join; the oracle's VALUES list is generated
    // from the same Teams.All, so dim and oracle cannot drift.
    "j11_teams_dim" -> ((s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"), pmod(col("c_custkey"), lit(32L)).cast("int").as("team_id"))
        .join(graft.domain.Teams.dim(s), Seq("team_id"))
        .groupBy(col("abbr"), col("team_name"), col("primary_color"))
        .agg(count(lit(1)).as("n_customers"))),

    // J12 (extension): as-of join — enrich each non-purchase event with
    // the user's LATEST purchase value at-or-before its timestamp. One
    // shuffle + one window pass (union + last-non-null), no join
    // operator at all; the DuckDB oracle is a native ASOF LEFT JOIN,
    // so the semantics are pinned engine-to-engine.
    "j12_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val facts = ev.filter(col("event_type") =!= "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val versions = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pvalue"))
      graft.ops.AsOf.asOfJoin(facts, versions, "user_id", "ts", Seq("pvalue"))
    }),

    // J13 (extension surface, ops/Merge.scala): CDC / SCD-1 merge —
    // apply an upsert+delete change stream (derived from orders: the
    // latest order per customer updates the balance; a latest 'F'
    // status deletes the customer) to the customer snapshot. Join-free:
    // union + one max_by hash aggregate (see Merge scaladoc).
    "j13_merge_upsert" -> ((s, d) => {
      val base = Tables.customer(s, d).select(col("c_custkey"), col("c_name"),
        col("c_acctbal"), col("c_mktsegment"),
        to_date(lit("1990-01-01")).as("__ts"), lit(0L).as("__tie"),
        lit(false).as("__del"))
      val changes = Tables.orders(s, d).select(col("o_custkey").as("c_custkey"),
        lit("cdc_update").as("c_name"), col("o_totalprice").as("c_acctbal"),
        lit("CDC").as("c_mktsegment"), col("o_orderdate").as("__ts"),
        col("o_orderkey").as("__tie"), (col("o_orderstatus") === "F").as("__del"))
      // order extended past (__ts, __tie) to a TOTAL order over the
      // payload: a base snapshot with duplicate keys (or two changes
      // sharing one (ts, tie)) must resolve deterministically — the P5
      // lesson applied to CDC merge (hostile sweep, r10)
      graft.ops.Merge.applyChanges(base, changes, Seq("c_custkey"),
        Seq("__ts", "__tie"), "__del",
        tieBreakCols = Seq("c_name", "c_acctbal", "c_mktsegment"))
    }),

    // X18: animation frame stitching (play.py:130-133) — shift the
    // "after" segment's frame counter past max(before) and union; the
    // max is a broadcast 1-row aggregate, not a driver-side scalar.
    "x18_frame_offset_union" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("event_id"), col("value"))
      graft.domain.Animation.frameOffsetUnion(
        ev.filter(col("user_id") % 2 === 0),
        ev.filter(col("user_id") % 2 =!= 0), "event_id")
    }),

    // J14 (extension surface, ops/RangeJoin.scala): point-in-interval
    // range join with NO equi key — overlapping value bands matched to
    // event values via bin equalization (grid key + residual), a hash
    // join where the naive plan is a nested-loop cross product. The
    // oracle states the pure inequality-join semantics; RangeJoinSpec
    // pins plan shape (no BroadcastNestedLoopJoin) and brute-force
    // equality.
    "j14_range_join" -> ((s, d) => {
      import s.implicits._
      val bands = Seq(
        (1L, 0.0, 50.0), (2L, 25.0, 100.0), (3L, 50.0, 150.0),
        (4L, 100.0, 300.0), (5L, 200.0, 1000.0), (6L, 0.0, 1000.0))
        .toDF("band_id", "lo", "hi")
      val pts = Tables.events(s, d).select(col("event_id"), col("value"))
      graft.ops.RangeJoin.pointInInterval(pts, "value", bands, "lo", "hi", binWidth = 50.0)
        .groupBy(col("band_id"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n_events"), r2(Exprs.sumExact(col("value"))).as("sum_value"))
    }),

    // J15 (S2 bucketed sink, exercised end-to-end): orders⋈customer on
    // pre-bucketed tables — the pay-shuffle-once-at-write layout; the
    // merge hint keeps the join on the bucketed SMJ path (broadcast
    // would also be exchange-free but wouldn't exercise the layout).
    // Values must equal the plain parquet join, which is what the
    // oracle checks; BucketingSpec asserts the no-exchange/no-sort plan.
    "j15_bucketed_join" -> ((s, d) => {
      val (ot, ct) = Ioops.ensureBucketedPair(s, d)
      val o = s.table(ot).select(col("o_custkey"), col("o_totalprice"))
      val c = s.table(ct).select(col("c_custkey"), col("c_mktsegment"))
      o.hint("merge").join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), r2(Exprs.sumExact(col("o_totalprice"))).as("sum_price"))
    }),

    // X20 (extension surface, ops/Sessionize.scala): batch
    // sessionization (gaps-and-islands) — the historical-backfill twin
    // of w2's streaming session window: lag marks 6-hour gaps, a
    // running sum numbers sessions, one shuffle total (the session
    // aggregate reuses the window's user_id partitioning).
    "x20_sessionize" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("event_id"), col("ts"), col("value"))
      graft.ops.Sessionize.sessionize(ev, col("user_id"), col("ts"),
          gapSeconds = 6L * 3600, tieBreak = col("event_id"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"), r2(Exprs.sumExact(col("value"))).as("sum_value"))
    }),

    // A17: fixed-width histogram with empty-bin densification — the
    // data-profiling shape (distribution of a measure at a glance):
    // one hash aggregate over the computed (clamped) bin key, then a
    // left join from the tiny generated bin axis so empty bins surface
    // as zeros. Bins 0–23 cover [0, 600); bin 24 is the open-ended
    // OVERFLOW bucket (null hi) and negatives clamp into bin 0 — a
    // histogram must never silently drop out-of-range rows, and the
    // value domain grows with scale factor.
    "a17_histogram" -> ((s, d) => {
      val w = 25.0
      val nb = 24
      val bins = s.range(nb + 1).select(col("id").as("bin"))
      val counts = Tables.events(s, d)
        .select(least(greatest(floor(col("value") / w), lit(0.0)), lit(nb.toDouble))
          .cast("long").as("bin"), col("value"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_events"), r2(Exprs.sumExact(col("value"))).as("sum_value"))
      bins.join(counts, Seq("bin"), "left")
        .select(col("bin"), (col("bin") * w).as("lo"),
          when(col("bin") < nb, (col("bin") + 1) * w).as("hi"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
    }),

    // A18: CUBE — all four grouping-set combinations (cell, row margin,
    // column margin, grand total) in ONE shuffle with grouping_id
    // disambiguating real NULLs from subtotal rows (completes the
    // multi-level-aggregate family next to a15's ROLLUP).
    "a18_cube" -> ((s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          r2(Exprs.sumExact(col("l_quantity"))).as("sum_qty"),
          grouping_id().cast("long").as("gid"))),

    // A19 (§2.5 window family): NTILE equi-depth profile — quartile
    // boundaries and occupancy per event_type (the profiling twin of
    // a17's fixed-width histogram: equal-count bins instead of
    // equal-width). Deterministic because the window order is total
    // (value, then event_id).
    "a19_ntile_profile" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      Tables.events(s, d).select(col("event_type"), col("event_id"), col("value"))
        .withColumn("tile", ntile(4).over(w).cast("long"))
        .groupBy(col("event_type"), col("tile"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("lo"),
          max(col("value")).as("hi"))
    }),

    // X21 (§2.5 window family, range frame): trailing-24h rolling
    // count/sum per user — the rolling-feature shape of a training
    // pipeline ("events in the last day at each event"). The frame is
    // a RANGE over exact int64 microseconds, so membership is a pure
    // function of the timestamps (no row-order dependence even under
    // ties); the rolling sum routes through the same decimal-exact
    // path as sumExact.
    "x21_rolling_window" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-86400000000L, 0L)
      Tables.events(s, d).select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("n_24h", count(lit(1)).over(w))
        .withColumn("sum_24h", r2(
          sum(floor(col("value") * 1e7 + 0.5).cast("decimal(19,0)")).over(w)
            .cast("double") / 1e7))
        .drop("value")
    }),

    // Contiguous surrogate ids (ops/Ids.scala): the distributed two-pass
    // zipWithIndex scheme — range-partition by the total order, count
    // per partition, prefix-sum offsets on the driver, number each
    // partition independently. The un-partitioned row_number window the
    // oracle uses is exactly the single-task cliff this operator
    // replaces (fine for DuckDB, fatal at 100 TB).
    "x22_contiguous_ids" -> ((s, d) =>
      graft.ops.Ids.contiguousIds(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        "row_id", Seq(col("o_orderkey")))),

    // Dynamic partition overwrite (Ioops.overwritePartitions): rebuild
    // ONE partition of a partitioned lake table; siblings must survive
    // untouched (static overwrite truncates the whole table — the
    // classic lost-data surprise). Value-checked end-to-end: the final
    // table content is read back and hashed against the oracle's
    // predicted merge of untouched + rewritten slices. Per-run temp dir
    // (nation is tiny); the region-1 slice is rewritten with renamed
    // rows and one row dropped, so survival of the OTHER regions and
    // the exact new slice are both asserted.
    "x23_partition_overwrite" -> ((s, d) => {
      // deterministic per-source path (the ivfQuantizerPath convention),
      // NOT a fresh createTempDirectory: repeated Bench/Verify runs
      // overwrite one copy instead of leaking a nation clone per
      // execution. Both writes below run every time — the overwrite IS
      // the operator under test; same single-JVM-at-a-time caveat as
      // ensureBucketedPair for concurrent pipelines.
      val tmp = System.getProperty("java.io.tmpdir") +
        s"/graft_dynover_${d.replaceAll("[^A-Za-z0-9]", "_")}/nation"
      Tables.nation(s, d).write.mode("overwrite")
        .partitionBy("n_regionkey").parquet(tmp)
      val updates = Tables.nation(s, d)
        .filter(col("n_regionkey") === 1 && col("n_nationkey") % 7 =!= 0)
        .withColumn("n_name", concat(col("n_name"), lit("_V2")))
      Ioops.overwritePartitions(updates, tmp, Seq("n_regionkey"))
      // explicit schema: an empty nation writes a zero-part-file lake
      // whose read can't infer (see s3_partitioned_scan note)
      s.read.schema(Tables.nation(s, d).schema).parquet(tmp)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    }),

    // Per-key OLS trend (ops/Trend.scala): closed-form slope/intercept
    // of each user's value sequence against its event index — "is this
    // entity drifting, how fast". One shuffle (window partitioning
    // reused by the aggregate); integer sums exact, double sums
    // decimal-routed; the oracle restates the closed form verbatim.
    "x24_group_trend" -> ((s, d) =>
      graft.ops.Trend.fitLine(Tables.events(s, d), "user_id",
        Seq(col("ts"), col("event_id")), "value")),

    // Per-group robust scaling (ops/Scaling.scala): winsorize to the
    // in-group 5/95 percentile fences + z-score from decimal-exact
    // moments — the numeric-normalization step of a feature pipeline.
    // One stats aggregation (exact one-pass percentiles) joined back
    // on the group key; the oracle restates fences and moments
    // verbatim (percentile ↔ quantile_cont parity proven by a13).
    "x25_robust_scale" -> ((s, d) =>
      graft.ops.Scaling.robustScale(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_extendedprice")),
        "l_returnflag", "l_extendedprice")),

    // ECDF calibration (Scaling.referencePercentile): bucket every
    // event's value into the percentile grid of the REFERENCE cohort
    // (view events) — score calibration against a stable baseline.
    // The reference collapses to one broadcast row of 99 exact
    // percentile boundaries; assignment is a fixed-size array fold in
    // the scan projection (zero shuffle on the scored side).
    "x26_ref_percentile" -> ((s, d) =>
      graft.ops.Scaling.referencePercentile(
        Tables.events(s, d).select(col("event_id"), col("user_id"), col("value")),
        "value",
        Tables.events(s, d).filter(col("event_type") === "view"), "value")),

    // X27 (extension surface, ops/Funnel.scala): ordered funnel depth —
    // how far each user progressed through signup → view → purchase,
    // with out-of-order events not counting. One shuffle: chained
    // same-spec window columns + a partition-reusing aggregate; the
    // oracle replays the running-max gates window for window.
    "x27_funnel" -> ((s, d) =>
      graft.ops.Funnel.stageDepth(
        Tables.events(s, d).select(col("event_id"), col("user_id"),
          col("ts"), col("event_type")),
        col("user_id"), Seq(col("ts"), col("event_id")),
        Seq(col("event_type") === "signup", col("event_type") === "view",
          col("event_type") === "purchase"))),

    // X28 (extension surface, ops/Sweep.scala): sweep-line peak
    // concurrency — max simultaneously in-flight order→ship intervals
    // per supplier. Intervals explode to ±1 deltas in the scan
    // projection; one window shuffle; half-open semantics pinned by
    // the (boundary, delta) sort.
    "x28_concurrency" -> ((s, d) => {
      val iv = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
      graft.ops.Sweep.maxConcurrent(iv, col("l_suppkey"),
        col("o_orderdate"), col("l_shipdate"))
        .withColumnRenamed("key", "l_suppkey")
    }),

    // X29: cohort retention — users bucketed by their first-activity
    // week (integer epoch-week: micros div week-micros, exact and
    // engine-portable; no locale week definitions), counted active per
    // week offset. The funnel's companion analytic and the "data
    // freshness curve" of a corpus. Cohort agg and activity distinct
    // both key on user; the offset aggregate is cohort-cardinality.
    "x29_retention" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("wk"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("w0"))
      ev.distinct().join(cohort, "user_id")
        .groupBy(col("w0").as("cohort_week"),
          (col("wk") - col("w0")).as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
    }),

    // X30: event-transition counts — per-user consecutive event-type
    // pairs (the first-order Markov statistics sequence models and
    // next-event recommenders train on). One window shuffle on user
    // (total order (ts, event_id) pins ties), one pair-keyed count.
    "x30_transitions" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("src", lag(col("event_type"), 1).over(w))
        .filter(col("src").isNotNull)
        .groupBy(col("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("n"))
    }),

    // X31: interval-union coverage (ops/Sweep.coveredDuration) — per
    // supplier, total time with at least ONE order in transit
    // (x28's intervals, the other sweep measure: peak counts overlap
    // depth, coverage counts overlapped time once). Boundaries to
    // integer micros BEFORE the sweep — gap sums are exact int64.
    "x31_interval_coverage" -> ((s, d) => {
      val iv = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
      // Parquet dates land as TIMESTAMP_NTZ; the session is pinned
      // UTC, so the NTZ→LTZ cast is the same instant DuckDB's
      // epoch_us reads off the naive value.
      graft.ops.Sweep.coveredDuration(iv, col("l_suppkey"),
        unix_micros(col("o_orderdate").cast("timestamp")),
        unix_micros(col("l_shipdate").cast("timestamp")))
        .withColumnRenamed("key", "l_suppkey")
        .withColumnRenamed("covered", "covered_micros")
    }),

    // X32: fixed-iteration PageRank (ops/PageRank) — link authority
    // over the undirected supplier↔customer transaction graph (node
    // ids disambiguated by parity: supplier 2k, customer 2k+1). Three
    // exact-arithmetic iterations; the oracle unrolls the same three
    // rounds as CTEs with the identical fixed-point quantization.
    "x32_pagerank" -> ((s, d) => {
      val e0 = Tables.lineitem(s, d)
        .select(col("l_orderkey"), (col("l_suppkey") * 2).as("src"))
        .join(Tables.orders(s, d)
          .select(col("o_orderkey"), (col("o_custkey") * 2 + 1).as("dst")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("src"), col("dst"))
      val und = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      graft.ops.PageRank.pagerank(und, col("src"), col("dst"),
        iterations = 3, damping = 0.85)
        .select(col("node"), Exprs.r4(col("rank")).as("rank"))
    }),

    // A22: weighted median per group (ops/Aggs.weightedMedian) —
    // median unit price weighted by quantity: the robust center of a
    // frequency-weighted distribution (a13's exact percentile treats
    // every row as weight 1). Fixed-point cumulative weights make the
    // half-total verdict an exact integer comparison on both engines.
    "a22_weighted_median" -> ((s, d) =>
      graft.ops.Aggs.weightedMedian(Tables.lineitem(s, d),
        col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
        .withColumnRenamed("key", "l_returnflag")),

    // J19 (extension surface, ops/AsOf.scala): FORWARD as-of join —
    // each non-purchase event picks the user's NEXT purchase value
    // at-or-after its timestamp (the label-join direction: features at
    // t, outcome from the first following event). Same union+window
    // one-shuffle plan as j12, mirrored; DuckDB's native ASOF with
    // f.ts <= v.ts pins the semantics engine-to-engine.
    "j19_asof_forward" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val facts = ev.filter(col("event_type") =!= "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val versions = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pvalue"))
      graft.ops.AsOf.asOfJoinForward(facts, versions, "user_id", "ts",
        Seq("pvalue"))
    }),

    // QC (extension surface, ops/Expect.scala): expectation gate —
    // named row-level rules evaluated in ONE codegen'd projection;
    // violating rows quarantine with the list of rules they broke.
    // The scoreboard row surfaces the audit: per-rule violation counts
    // plus the passed/quarantined totals.
    "qc_expectations" -> ((s, d) => {
      val rules = Seq(
        "qty_in_range" -> col("l_quantity").between(1, 45),
        "discount_bounded" -> (col("l_discount") <= 0.08),
        "price_bounded" -> (col("l_extendedprice") <= 80000.0))
      // Expect.checkAudit (r19): the former check+audit+two-counts
      // composition planned THREE lineitem scans (the audit explode,
      // the clean count, the quarantine count); the one-scan audit
      // computes the same rows — every configured rule reports (n=0
      // included), plus the passed/quarantined totals — as conditional
      // aggregates over one violations projection. Values and the
      // oracle's UNION ALL shape are unchanged (ExpectSpec pins the
      // one-scan == composed equality).
      graft.ops.Expect.checkAudit(Tables.lineitem(s, d), rules)
    }),

    // J17 (extension surface, Merge.scd2History): SCD-2 — the full
    // history table from a change stream with validity intervals and a
    // current flag (where j13 keeps only the latest state). One window
    // pass per key; the intervals feed an as-of (j12) or range (j14)
    // join downstream.
    "j17_scd2_history" -> ((s, d) =>
      graft.ops.Merge.scd2History(
        Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice")),
        Seq(col("o_custkey")), col("o_orderdate"), col("o_orderkey"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("valid_from"), col("valid_to"), col("is_current"))),

    // A20: arbitrary GROUPING SETS — margins for two INDEPENDENT
    // dimensions in ONE shuffle (no cells, no grand total: the shape
    // ROLLUP/CUBE can't express), completing the multi-level aggregate
    // trio with a15/a18.
    "a20_grouping_sets" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          r2(Exprs.sumExact(col("l_quantity"))).as("sum_qty"),
          grouping_id().cast("long").as("gid"))),

    // A21: mode (most frequent value) per group, deterministic tie-break
    // by value — the categorical-summary idiom value_counts (a9) builds
    // toward. Two-level aggregate: the (group, value) count shuffles
    // once with map-side partials; the argmax over values rides
    // min_by(struct(-cnt, value)) — map-side combinable, no window sort
    // over the value domain — and the mode's count is simply max(cnt).
    "a21_mode_per_group" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("user_id"))
        .agg(
          min_by(col("event_type"),
            struct((-col("cnt")).as("nc"), col("event_type"))).as("mode_event"),
          max(col("cnt")).as("mode_n"))),

    // J18: point-in-time join — the consumption side of j17's SCD-2
    // history: each lineitem's ship date probes the order-history
    // interval of the OWNING customer ("which order version was in
    // effect when this item shipped"). The history key carries the
    // join, so this is an ordinary equi-join with the half-open
    // interval as a residual — each probe matches exactly ONE interval
    // by construction (the chained valid_from/valid_to), no binning
    // needed (contrast j14, where no equi key exists).
    "j18_pit_join" -> ((s, d) => {
      val hist = graft.ops.Merge.scd2History(
        Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice")),
        Seq(col("o_custkey")), col("o_orderdate"), col("o_orderkey"))
        .select(col("o_custkey").as("h_custkey"), col("o_orderkey").as("h_orderkey"),
          col("o_totalprice").as("h_price"), col("valid_from"), col("valid_to"))
      val probes = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
      probes.join(hist, col("o_custkey") === col("h_custkey") &&
          col("l_shipdate") >= col("valid_from") &&
          (col("valid_to").isNull || col("l_shipdate") < col("valid_to")))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
          col("h_orderkey"), r2(col("h_price")).as("h_price"))
    }),

    // J16 (extension surface, ops/Diff.scala): snapshot diff — recover
    // the added/deleted/changed change stream from two keyed table
    // versions (the inverse of j13's merge). Both versions are derived
    // deterministically from customer so the oracle can restate them;
    // classification rides the full-outer join's null pattern.
    "j16_snapshot_diff" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      val older = cust.filter(col("c_custkey") % 97 =!= 0)
      val newer = cust.filter(col("c_custkey") % 89 =!= 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 5 === 0, col("c_acctbal") + lit(10.0))
            .otherwise(col("c_acctbal")).as("c_acctbal"),
          col("c_mktsegment"))
      graft.ops.Diff.snapshotDiff(older, newer,
        Seq("c_custkey"), Seq("c_acctbal", "c_mktsegment"))
    })
  )

  val oracles: Map[String, String] = Map(
    "s1_scan_filter_agg" ->
      """SELECT floor((CAST(sum(CAST(floor((l_extendedprice * l_discount) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0) * 100.0 + 0.5) / 100.0 AS revenue, count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.04 AND 0.07 AND l_quantity < 24""".stripMargin,
    "a0_groupagg_wide" ->
      """SELECT l_returnflag, l_linestatus,
        |  floor((CAST(sum(CAST(floor((l_quantity) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0) * 100.0 + 0.5) / 100.0 AS sum_qty,
        |  floor((CAST(sum(CAST(floor((l_extendedprice) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0) * 100.0 + 0.5) / 100.0 AS sum_base_price,
        |  floor((CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0) * 100.0 + 0.5) / 100.0 AS sum_disc_price,
        |  floor((CAST(sum(CAST(floor((l_quantity) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0 / count(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
        |  floor((CAST(sum(CAST(floor((l_discount) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0 / count(l_discount)) * 10000.0 + 0.5) / 10000.0 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "csv_scan_schema" ->
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
    "json_scan_schema" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    "s3_partitioned_scan" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  floor((CAST(sum(CAST(floor((o_totalprice) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0) * 100.0 + 0.5) / 100.0 AS sum_price
        |FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderstatus""".stripMargin,
    // x19: per-bit interleave generated from the same kernel contract
    // (ZOrderKey.oracleSql) — exact for 16-bit dimension domains.
    "x19_zorder_key" ->
      s"""WITH dims AS (
         |  SELECT o_orderkey,
         |    o_custkey % 65536 AS zx,
         |    CAST(floor(o_totalprice) AS BIGINT) % 65536 AS zy
         |  FROM orders)
         |SELECT o_orderkey,
         |  ${graft.functions.ZOrderKey.oracleSql("zx", "zy")} AS zkey
         |FROM dims""".stripMargin,

    // a16: oracle pins the exact rollup and the all-bits-1 invariant
    // (the engine asserts its own sketch-merge error bound per group).
    "a16_hll_reagg" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS orders_exact,
        |  CAST(1 AS INTEGER) AS reagg_within_5pct
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "u2_set_ops" ->
      """SELECT 'both' AS tag, c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'no_orders' AS tag, c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT SELECT o_custkey FROM orders)""".stripMargin,
    "u3_set_ops_all" ->
      """WITH fulfilled AS (
        |  SELECT o_custkey % 50 AS bucket, o_orderpriority FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
        |open_o AS (
        |  SELECT o_custkey % 50 AS bucket, o_orderpriority FROM orders
        |  WHERE o_orderstatus = 'O')
        |SELECT 'in_both_bag' AS tag, bucket, o_orderpriority FROM (
        |  SELECT * FROM fulfilled INTERSECT ALL SELECT * FROM open_o)
        |UNION ALL
        |SELECT 'only_left_bag' AS tag, bucket, o_orderpriority FROM (
        |  SELECT * FROM fulfilled EXCEPT ALL SELECT * FROM open_o)""".stripMargin,
    "a15_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  floor((CAST(sum(CAST(floor((l_quantity) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0) * 100.0 + 0.5) / 100.0 AS sum_qty,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |HAVING count(*) > 0""".stripMargin,
    // ^ HAVING count(*) > 0 in BOTH rollup/cube oracles: a no-op on any
    // non-empty input (every group, grand total included, has >= 1
    // row) that pins the cross-engine empty-input contract — Spark's
    // rollup/cube emit NO rows over an empty relation, while ANSI/
    // DuckDB emit the () grand-total row (count 0, NULL aggregates).
    // Degenerate-cardinality sweep, r10.
    "a18_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  floor((CAST(sum(CAST(floor((l_quantity) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0) * 100.0 + 0.5) / 100.0 AS sum_qty,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |HAVING count(*) > 0""".stripMargin,
    "j14_range_join" ->
      """WITH bands(band_id, lo, hi) AS (VALUES
        |  (CAST(1 AS BIGINT), CAST(0.0 AS DOUBLE), CAST(50.0 AS DOUBLE)),
        |  (2, 25.0, 100.0), (3, 50.0, 150.0), (4, 100.0, 300.0),
        |  (5, 200.0, 1000.0), (6, 0.0, 1000.0))
        |SELECT band_id, lo, hi, count(*) AS n_events,
        |  floor((CAST(sum(CAST(floor((value) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0) * 100.0 + 0.5) / 100.0 AS sum_value
        |FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
        |GROUP BY band_id, lo, hi""".stripMargin,
    "j15_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  floor((CAST(sum(CAST(floor((o_totalprice) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0) * 100.0 + 0.5) / 100.0 AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "w4_sliding_window" ->
      """WITH e AS (SELECT epoch_us(ts) AS t, value FROM events WHERE ts IS NOT NULL),
        |x AS (SELECT t, value, unnest([0, 1, 2, 3]) AS k FROM e),
        |s AS (SELECT make_timestamp((t // 900000000 - k) * 900000000) AS window_start,
        |  value FROM x)
        |SELECT window_start, count(*) AS n,
        |  floor((CAST(sum(CAST(floor((value) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0) * 100.0 + 0.5) / 100.0 AS sum_value
        |FROM s GROUP BY window_start""".stripMargin,
    "x20_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 21600000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events,
        |  floor((CAST(sum(CAST(floor((value) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0) * 100.0 + 0.5) / 100.0 AS sum_value
        |FROM sess GROUP BY user_id, session_id""".stripMargin,
    "a19_ntile_profile" ->
      """SELECT event_type, tile, count(*) AS n, min(value) AS lo, max(value) AS hi
        |FROM (
        |  SELECT event_type, value,
        |    CAST(ntile(4) OVER (PARTITION BY event_type
        |      ORDER BY value NULLS FIRST, event_id) AS BIGINT) AS tile
        |  FROM events)
        |GROUP BY event_type, tile""".stripMargin,
    "x21_rolling_window" ->
      """SELECT user_id, event_id, ts, count(*) OVER w AS n_24h,
        |  floor((CAST(sum(CAST(floor(value * 10000000.0 + 0.5) AS HUGEINT)) OVER w AS DOUBLE) / 10000000.0) * 100.0 + 0.5) / 100.0 AS sum_24h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    // NULLS FIRST pins the engine contract (Spark ASC sorts nulls
    // first; DuckDB's default is nulls last).
    "x22_contiguous_ids" ->
      """SELECT o_orderkey, o_custkey,
        |  row_number() OVER (ORDER BY o_orderkey NULLS FIRST) - 1 AS row_id
        |FROM orders""".stripMargin,
    // untouched regions survive; region 1 is exactly the rewritten slice
    "x23_partition_overwrite" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_regionkey <> 1 OR n_regionkey IS NULL
        |UNION ALL
        |SELECT n_nationkey, n_name || '_V2' AS n_name, n_regionkey FROM nation
        |WHERE n_regionkey = 1 AND n_nationkey % 7 <> 0""".stripMargin,
    "x24_group_trend" ->
      """WITH xy AS (
        |  SELECT user_id,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts NULLS FIRST, event_id) AS BIGINT) AS x,
        |    value AS y
        |  FROM events WHERE value IS NOT NULL),
        |agg AS (
        |  SELECT user_id, count(*) AS n_points, sum(x) AS sx, sum(x * x) AS sxx,
        |    CAST(sum(CAST(floor(y * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE)
        |      / 10000000.0 AS sy,
        |    CAST(sum(CAST(floor((CAST(x AS DOUBLE) * y) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE)
        |      / 10000000.0 AS sxy
        |  FROM xy GROUP BY user_id)
        |SELECT user_id, n_points,
        |  floor(((CAST(n_points AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |      / (CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |    * 10000.0 + 0.5) / 10000.0 AS slope,
        |  floor(((sy - (CAST(n_points AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |      / (CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * CAST(sx AS DOUBLE)) / CAST(n_points AS DOUBLE))
        |    * 10000.0 + 0.5) / 10000.0 AS intercept
        |FROM agg WHERE n_points >= 2""".stripMargin,
    "x25_robust_scale" ->
      """WITH stats AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(floor(l_extendedprice * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE)
        |      / 10000000.0 AS s,
        |    CAST(sum(CAST(floor((l_extendedprice * l_extendedprice) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE)
        |      / 10000000.0 AS s2,
        |    quantile_cont(l_extendedprice, 0.05) AS lo,
        |    quantile_cont(l_extendedprice, 0.95) AS hi
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |  GROUP BY l_returnflag)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_extendedprice,
        |  floor(least(greatest(l.l_extendedprice, st.lo), st.hi) * 10000.0 + 0.5) / 10000.0
        |    AS winsorized,
        |  CASE WHEN sqrt(greatest((st.s2 - st.s * st.s / CAST(st.n AS DOUBLE))
        |        / (CAST(st.n AS DOUBLE) - 1.0), 0.0)) > 0.0
        |    THEN floor(((l.l_extendedprice - st.s / CAST(st.n AS DOUBLE))
        |      / sqrt(greatest((st.s2 - st.s * st.s / CAST(st.n AS DOUBLE))
        |        / (CAST(st.n AS DOUBLE) - 1.0), 0.0)))
        |      * 10000.0 + 0.5) / 10000.0
        |    ELSE 0.0 END AS zscore
        |FROM lineitem l JOIN stats st USING (l_returnflag)
        |WHERE l.l_extendedprice IS NOT NULL""".stripMargin,
    "x26_ref_percentile" ->
      """WITH b AS (
        |  SELECT quantile_cont(value,
        |    list_transform(generate_series(1, 99), i -> CAST(i AS DOUBLE) / 100.0)) AS bounds
        |  FROM events WHERE event_type = 'view' AND value IS NOT NULL)
        |SELECT event_id, user_id, value,
        |  CAST(len(list_filter(
        |    list_transform(b.bounds, x -> floor(x * 10000.0 + 0.5) / 10000.0),
        |    x -> x <= value)) AS INTEGER) AS ref_bucket
        |FROM events, b WHERE value IS NOT NULL""".stripMargin,
    // The same strictly-preceding running-max gates, window for window;
    // the (ts, event_id) total order pins stage attribution at ties.
    "x27_funnel" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS s0,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS p1,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p2
        |  FROM events),
        |w1 AS (
        |  SELECT *, COALESCE(max(s0) OVER pre, 0) AS r0 FROM e
        |  WINDOW pre AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |w2 AS (SELECT *, p1 * r0 AS s1 FROM w1),
        |w3 AS (
        |  SELECT *, COALESCE(max(s1) OVER pre, 0) AS r1 FROM w2
        |  WINDOW pre AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |w4 AS (SELECT *, p2 * r1 AS s2 FROM w3)
        |SELECT user_id,
        |  CAST(COALESCE(max(s0), 0) + COALESCE(max(s1), 0)
        |    + COALESCE(max(s2), 0) AS INTEGER) AS funnel_depth
        |FROM w4 GROUP BY user_id""".stripMargin,
    // Same ±1 delta explosion and (boundary, delta) sweep order —
    // closes before opens at a shared boundary = half-open intervals.
    "x28_concurrency" ->
      """WITH iv AS (
        |  SELECT l.l_suppkey, o.o_orderdate AS s, l.l_shipdate AS e
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderdate IS NOT NULL AND l.l_shipdate IS NOT NULL
        |    AND l.l_shipdate > o.o_orderdate),
        |d AS (
        |  SELECT l_suppkey, s AS b, 1 AS dd FROM iv
        |  UNION ALL
        |  SELECT l_suppkey, e AS b, -1 AS dd FROM iv),
        |c AS (
        |  SELECT l_suppkey, CAST(sum(dd) OVER (PARTITION BY l_suppkey
        |    ORDER BY b, dd ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS open
        |  FROM d)
        |SELECT l_suppkey, max(open) AS max_open FROM c GROUP BY l_suppkey""".stripMargin,
    // Same integer epoch-week bucketing (micros floor-div) — no
    // engine week-of-year semantics anywhere near the cohort key.
    "x29_retention" ->
      """WITH ev AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk
        |  FROM events),
        |c AS (SELECT user_id, min(wk) AS w0 FROM ev GROUP BY user_id)
        |SELECT c.w0 AS cohort_week, ev.wk - c.w0 AS week_offset,
        |  count(*) AS n_active
        |FROM ev JOIN c ON ev.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin,
    // lag over the identical (ts, event_id) total order.
    "x30_transitions" ->
      """WITH t AS (
        |  SELECT event_type AS dst, lag(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) AS src
        |  FROM events)
        |SELECT src, dst, count(*) AS n FROM t
        |WHERE src IS NOT NULL GROUP BY 1, 2""".stripMargin,
    // Same ±1 sweep as x28 plus the coverage gap: lead(boundary) minus
    // boundary where the running open-count is positive. Gap sums are
    // int64-exact; cast back to BIGINT (DuckDB sums to HUGEINT).
    "x31_interval_coverage" ->
      """WITH iv AS (
        |  SELECT l.l_suppkey, epoch_us(o.o_orderdate) AS s,
        |    epoch_us(l.l_shipdate) AS e
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderdate IS NOT NULL AND l.l_shipdate IS NOT NULL
        |    AND epoch_us(l.l_shipdate) > epoch_us(o.o_orderdate)),
        |d AS (
        |  SELECT l_suppkey, s AS b, 1 AS dd FROM iv
        |  UNION ALL
        |  SELECT l_suppkey, e AS b, -1 AS dd FROM iv),
        |c AS (
        |  SELECT l_suppkey, b,
        |    sum(dd) OVER (PARTITION BY l_suppkey ORDER BY b, dd
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open,
        |    lead(b) OVER (PARTITION BY l_suppkey ORDER BY b, dd) AS nb
        |  FROM d)
        |SELECT l_suppkey,
        |  CAST(sum(CASE WHEN open > 0 AND nb IS NOT NULL
        |    THEN nb - b ELSE 0 END) AS BIGINT) AS covered_micros
        |FROM c GROUP BY l_suppkey""".stripMargin,
    // Three unrolled PageRank rounds with the engine's exact
    // arithmetic: contributions quantized floor((r/outdeg)·1e7 + 0.5)
    // and summed as HUGEINT (= sumExact), damping constants spelled as
    // the same IEEE ops (CAST(1.0)−CAST(0.85) ≠ decimal 0.15).
    // null endpoints excluded: the engine cleans NULL/duplicate edges
    // before the degree count (PageRank.pagerank contract)
    "x32_pagerank" ->
      """WITH e0 AS (
        |  SELECT DISTINCT l.l_suppkey * 2 AS src, o.o_custkey * 2 + 1 AS dst
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_suppkey IS NOT NULL AND o.o_custkey IS NOT NULL),
        |e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM e0
        |    UNION ALL SELECT dst AS src, src AS dst FROM e0)),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |ed AS (SELECT e.src, e.dst, deg.outdeg
        |       FROM e JOIN deg ON e.src = deg.src),
        |n AS (SELECT DISTINCT node FROM (
        |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS r FROM n),
        |s1 AS (SELECT ed.dst,
        |    CAST(sum(CAST(floor((r0.r / ed.outdeg) * 1e7 + 0.5) AS HUGEINT))
        |      AS DOUBLE) / 1e7 AS s
        |  FROM ed JOIN r0 ON ed.src = r0.node GROUP BY ed.dst),
        |r1 AS (SELECT n.node,
        |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
        |      + CAST(0.85 AS DOUBLE) * coalesce(s1.s, CAST(0.0 AS DOUBLE)) AS r
        |  FROM n LEFT JOIN s1 ON n.node = s1.dst),
        |s2 AS (SELECT ed.dst,
        |    CAST(sum(CAST(floor((r1.r / ed.outdeg) * 1e7 + 0.5) AS HUGEINT))
        |      AS DOUBLE) / 1e7 AS s
        |  FROM ed JOIN r1 ON ed.src = r1.node GROUP BY ed.dst),
        |r2 AS (SELECT n.node,
        |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
        |      + CAST(0.85 AS DOUBLE) * coalesce(s2.s, CAST(0.0 AS DOUBLE)) AS r
        |  FROM n LEFT JOIN s2 ON n.node = s2.dst),
        |s3 AS (SELECT ed.dst,
        |    CAST(sum(CAST(floor((r2.r / ed.outdeg) * 1e7 + 0.5) AS HUGEINT))
        |      AS DOUBLE) / 1e7 AS s
        |  FROM ed JOIN r2 ON ed.src = r2.node GROUP BY ed.dst),
        |r3 AS (SELECT n.node,
        |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
        |      + CAST(0.85 AS DOUBLE) * coalesce(s3.s, CAST(0.0 AS DOUBLE)) AS r
        |  FROM n LEFT JOIN s3 ON n.node = s3.dst)
        |SELECT node, floor(r * 10000.0 + 0.5) / 10000.0 AS rank
        |FROM r3""".stripMargin,
    // Verbatim fixed-point cumulative weights: DECIMAL(19,0) per-row
    // quanta, RANGE frame includes tied values, exact 2·cum ≥ total.
    "a22_weighted_median" ->
      """WITH r AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v,
        |    CAST(floor(l_quantity * 1e7 + 0.5) AS DECIMAL(19,0)) AS wq
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |    AND l_quantity > 0),
        |c AS (
        |  SELECT g, v,
        |    sum(wq) OVER (PARTITION BY g ORDER BY v
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(wq) OVER (PARTITION BY g) AS tot
        |  FROM r)
        |SELECT g AS l_returnflag, min(v) AS w_median
        |FROM c WHERE cum * 2 >= tot GROUP BY g""".stripMargin,
    // Mirror of j12's native ASOF oracle with the inequality flipped:
    // nearest version at-or-after the fact.
    "j19_asof_forward" ->
      """WITH v AS (
        |  SELECT user_id, ts, max(value) AS pvalue
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |f AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type <> 'purchase')
        |SELECT f.event_id, f.user_id, f.ts, v.pvalue AS asof_pvalue
        |FROM f ASOF LEFT JOIN v ON f.user_id = v.user_id AND f.ts <= v.ts""".stripMargin,
    "qc_expectations" ->
      """WITH checked AS (
        |  SELECT coalesce(l_quantity BETWEEN 1 AND 45, FALSE) AS r1,
        |    coalesce(l_discount <= 0.08, FALSE) AS r2,
        |    coalesce(l_extendedprice <= 80000.0, FALSE) AS r3
        |  FROM lineitem)
        |SELECT 'qty_in_range' AS rule, count(*) AS n FROM checked WHERE NOT r1
        |UNION ALL
        |SELECT 'discount_bounded', count(*) FROM checked WHERE NOT r2
        |UNION ALL
        |SELECT 'price_bounded', count(*) FROM checked WHERE NOT r3
        |UNION ALL
        |SELECT 'rows_passed', count(*) FROM checked WHERE r1 AND r2 AND r3
        |UNION ALL
        |SELECT 'rows_quarantined', count(*) FROM checked
        |WHERE NOT (r1 AND r2 AND r3)""".stripMargin,
    "a20_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  floor((CAST(sum(CAST(floor((l_quantity) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0) * 100.0 + 0.5) / 100.0 AS sum_qty,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin,
    // Window form (cnt DESC, value ASC, keep rank 1) — the same
    // (count, tie-by-value) total order min_by(struct(-cnt, v)) encodes.
    "a21_mode_per_group" ->
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, event_type AS mode_event, cnt AS mode_n
        |FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rn
        |  FROM c)
        |WHERE rn = 1""".stripMargin,
    "j18_pit_join" ->
      """WITH hist AS (
        |  SELECT o_custkey AS h_custkey, o_orderkey AS h_orderkey,
        |    o_totalprice AS h_price, o_orderdate AS valid_from,
        |    lead(o_orderdate) OVER w AS valid_to
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |probes AS (
        |  SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate, o.o_custkey
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT p.l_orderkey, p.l_linenumber, p.l_shipdate, h.h_orderkey,
        |  floor(h.h_price * 100.0 + 0.5) / 100.0 AS h_price
        |FROM probes p JOIN hist h ON p.o_custkey = h.h_custkey
        |  AND p.l_shipdate >= h.valid_from
        |  AND (h.valid_to IS NULL OR p.l_shipdate < h.valid_to)""".stripMargin,
    "j17_scd2_history" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER w AS valid_to,
        |  CAST(lead(o_orderdate) OVER w IS NULL AS INTEGER) AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "j16_snapshot_diff" ->
      """WITH older AS (
        |  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
        |  WHERE c_custkey % 97 <> 0),
        |newer AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 10.0 ELSE c_acctbal END AS c_acctbal,
        |    c_mktsegment FROM customer WHERE c_custkey % 89 <> 0)
        |SELECT * FROM (
        |  SELECT coalesce(n.c_custkey, o.c_custkey) AS c_custkey,
        |    CASE WHEN o.c_custkey IS NULL THEN 'added'
        |         WHEN n.c_custkey IS NULL THEN 'deleted'
        |         WHEN NOT (o.c_acctbal IS NOT DISTINCT FROM n.c_acctbal
        |               AND o.c_mktsegment IS NOT DISTINCT FROM n.c_mktsegment)
        |           THEN 'changed' END AS change_type,
        |    o.c_acctbal AS old_c_acctbal, n.c_acctbal AS new_c_acctbal,
        |    o.c_mktsegment AS old_c_mktsegment, n.c_mktsegment AS new_c_mktsegment
        |  FROM older o FULL OUTER JOIN newer n ON o.c_custkey = n.c_custkey)
        |WHERE change_type IS NOT NULL""".stripMargin,
    "a17_histogram" ->
      """WITH bins AS (SELECT CAST(range AS BIGINT) AS bin FROM range(25)),
        |counts AS (
        |  SELECT CAST(least(greatest(floor(value / 25.0), 0.0), 24.0) AS BIGINT) AS bin,
        |    count(*) AS n_events,
        |    floor((CAST(sum(CAST(floor((value) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0) * 100.0 + 0.5) / 100.0 AS sum_value
        |  FROM events GROUP BY 1)
        |SELECT b.bin, b.bin * CAST(25.0 AS DOUBLE) AS lo,
        |  CASE WHEN b.bin < 24 THEN (b.bin + 1) * CAST(25.0 AS DOUBLE) END AS hi,
        |  coalesce(c.n_events, 0) AS n_events,
        |  coalesce(c.sum_value, CAST(0.0 AS DOUBLE)) AS sum_value
        |FROM bins b LEFT JOIN counts c USING (bin)""".stripMargin,
    "s7_orc_roundtrip" ->
      """SELECT s_nationkey, count(*) AS n_suppliers,
        |  floor((CAST(sum(CAST(floor((s_acctbal) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0) * 100.0 + 0.5) / 100.0 AS sum_bal
        |FROM supplier WHERE s_acctbal > 0 GROUP BY s_nationkey""".stripMargin,
    "a12_topn_per_group" ->
      """SELECT o_custkey, rank, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
        |  FROM orders) WHERE rank <= 3""".stripMargin,
    "x16_jersey_mod" ->
      "SELECT c_custkey, c_custkey % 100 AS jersey FROM customer",
    "x17_path_template" ->
      """SELECT n_nationkey AS week,
        |  printf('input_2023_w%02d.csv', n_nationkey) AS file_name
        |FROM nation""".stripMargin,
    "p1_project" -> "SELECT p_partkey, p_name, p_size FROM part",
    "p3_in_list" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_12')""".stripMargin,
    "p5_dedup_first_row" ->
      """SELECT l_orderkey, l_partkey, l_quantity FROM (
        |  SELECT l_orderkey, l_partkey, l_quantity,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_linenumber, l_partkey, l_quantity) AS rn
        |  FROM lineitem) WHERE rn = 1""".stripMargin,
    "p6_disjunctive_filter" ->
      """SELECT l_orderkey, l_linenumber, l_discount, l_tax FROM lineitem
        |WHERE l_discount >= 0.09 OR l_tax >= 0.07""".stripMargin,
    "p7_null_fill" ->
      """SELECT c_custkey, coalesce(n, 0) AS n_orders FROM customer
        |LEFT JOIN (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey) o
        |ON c_custkey = o_custkey""".stripMargin,
    "j1_inner_join" ->
      """SELECT o_orderkey, c_name, o_totalprice FROM orders
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "j2_left_join_dim" ->
      """SELECT l_orderkey, l_linenumber, s_name FROM lineitem
        |LEFT JOIN supplier ON l_suppkey = s_suppkey WHERE s_suppkey IS NOT NULL""".stripMargin,
    "j4_join_case_resolve" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderstatus = 'F' THEN c_mktsegment
        |       WHEN o_orderstatus = 'O' THEN 'OPEN' ELSE 'OTHER' END AS resolved_segment
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "j5_left_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)""".stripMargin,
    "j5_left_anti" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)""".stripMargin,
    "j6_self_join_rename" ->
      """SELECT l.l_orderkey, l.l_linenumber,
        |  floor((l.l_quantity - f.first_qty) * 100.0 + 0.5) / 100.0 AS qty_delta,
        |  floor((l.l_extendedprice / nullif(f.first_price, 0.0)) * 10000.0 + 0.5) / 10000.0 AS price_ratio
        |FROM lineitem l JOIN (
        |  SELECT l_orderkey AS fk, l_quantity AS first_qty, l_extendedprice AS first_price
        |  FROM lineitem WHERE l_linenumber = 1) f ON l.l_orderkey = f.fk""".stripMargin,
    "j7_assembly_join" ->
      """SELECT a.user_id, a.avg_value, coalesce(e.n, 0) AS n_errors FROM
        |(SELECT user_id, floor((CAST(sum(CAST(floor((value) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0 / count(value)) * 10000.0 + 0.5) / 10000.0
        |   AS avg_value FROM events GROUP BY user_id) a
        |LEFT JOIN (SELECT user_id, count(*) AS n FROM events WHERE event_type = 'error'
        |  GROUP BY user_id) e ON a.user_id = e.user_id""".stripMargin,
    "a1_count_distinct" ->
      """SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_suppliers,
        |  count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,
    "a2_a3_avg_max" ->
      """SELECT user_id,
        |  floor((CAST(sum(CAST(floor((value) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0 / count(value)) * 10000.0 + 0.5) / 10000.0 AS avg_value,
        |  max(value) AS max_value,
        |  max(event_id) AS last_event_id
        |FROM events GROUP BY user_id""".stripMargin,
    "a4_argmin_per_group" ->
      """SELECT l_orderkey, l_suppkey, l_extendedprice AS min_price, s_name FROM (
        |  SELECT l_orderkey, l_suppkey, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_extendedprice, l_linenumber, l_suppkey) AS rn
        |  FROM lineitem) li JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rn = 1""".stripMargin,
    "a5_last_row_per_group" ->
      """SELECT o_custkey, o_orderkey, o_orderdate FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin,
    "a6_group_size_filter" ->
      """SELECT o_custkey, o_orderkey FROM orders
        |WHERE o_custkey IN (
        |  SELECT o_custkey FROM orders GROUP BY o_custkey HAVING count(*) >= 12)""".stripMargin,
    // IS NOT DISTINCT FROM, not IN: a NULL l_orderkey is a GROUP
    // (engine window partition / SQL GROUP BY semantics), and an
    // IN-subquery silently drops it (NULL = NULL is unknown).
    "a7_distinct_count_filter" ->
      """SELECT l.l_orderkey, l.l_linenumber FROM lineitem l
        |JOIN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING count(DISTINCT l_suppkey) = 1) g
        |ON l.l_orderkey IS NOT DISTINCT FROM g.l_orderkey""".stripMargin,
    "a8_entity_means" ->
      """SELECT n_name, floor((CAST(sum(CAST(floor((c_acctbal) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0 / count(c_acctbal)) * 100.0 + 0.5) / 100.0 AS avg_acctbal, count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "a9_value_counts" ->
      """SELECT event_type, count(*) AS n FROM events GROUP BY event_type
        |ORDER BY n DESC, event_type ASC""".stripMargin,
    "a10_pivot" ->
      """SELECT l_returnflag,
        |  floor((sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END)) * 100.0 + 0.5) / 100.0 AS qty_o,
        |  floor((sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END)) * 100.0 + 0.5) / 100.0 AS qty_f
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "a11_distinct" -> "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "j10_salted_join" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "a13_percentile_exact" ->
      """SELECT l_returnflag,
        |  floor(quantile_cont(l_extendedprice, 0.25) * 10000.0 + 0.5) / 10000.0 AS p25,
        |  floor(quantile_cont(l_extendedprice, 0.5) * 10000.0 + 0.5) / 10000.0 AS p50,
        |  floor(quantile_cont(l_extendedprice, 0.75) * 10000.0 + 0.5) / 10000.0 AS p75
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // a14: the engine asserts its own sketch error bounds per group; the
    // oracle pins the exact cardinality and the all-bits-1 invariant.
    "a14_approx_sketches" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS orders_exact,
        |  CAST(1 AS INTEGER) AS hll_within_5pct,
        |  CAST(1 AS INTEGER) AS p50_in_rank_window
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "o2_mixed_sort" ->
      """SELECT o_custkey, o_orderkey, o_orderdate FROM orders
        |ORDER BY o_custkey ASC, o_orderdate DESC, o_orderkey ASC""".stripMargin,
    "o3_topk" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 10""".stripMargin,
    "u1_union_by_name" ->
      """SELECT o_orderkey, o_totalprice, 'high_value' AS tag FROM orders
        |  WHERE o_totalprice > 400000
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, 'urgent' AS tag FROM orders
        |  WHERE o_orderpriority = '1-URGENT'""".stripMargin,
    "x1_geometry_exprs" ->
      """SELECT l_orderkey, l_linenumber,
        |  floor((sqrt(pow(x1 - x2, 2) + pow(y1 - y2, 2))) * 100.0 + 0.5) / 100.0 AS dist,
        |  floor((brg) * 10000.0 + 0.5) / 10000.0 AS bearing,
        |  floor((least(fmod(fmod(brg - 45.0, 360) + 360, 360),
        |              360 - fmod(fmod(brg - 45.0, 360) + 360, 360))) * 10000.0 + 0.5) / 10000.0 AS angle_diff,
        |  floor((cos(radians(brg))) * 10000.0 + 0.5) / 10000.0 AS unit_x,
        |  floor((sin(radians(brg))) * 10000.0 + 0.5) / 10000.0 AS unit_y,
        |  floor((least(y1, 53.3 - y1, x1, 120.0 - x1)) * 100.0 + 0.5) / 100.0 AS boundary_dist,
        |  floor((greatest(x2 - x1, 0.01)) * 100.0 + 0.5) / 100.0 AS clamped_gap
        |FROM (
        |  SELECT l_orderkey, l_linenumber, l_quantity AS x1, l_tax * 100 AS y1,
        |    l_discount * 100 AS x2, CAST(l_linenumber AS DOUBLE) AS y2,
        |    degrees(atan2(CAST(l_linenumber AS DOUBLE) - l_tax * 100,
        |                  l_discount * 100 - l_quantity)) AS brg
        |  FROM lineitem)""".stripMargin,
    "x2_flip_standardize" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_returnflag = 'R' THEN floor((120.0 - l_quantity) * 100.0 + 0.5) / 100.0
        |       ELSE l_quantity END AS x_std,
        |  CASE WHEN l_returnflag = 'R' THEN floor((53.3 - l_tax * 100) * 100.0 + 0.5) / 100.0
        |       ELSE l_tax * 100 END AS y_std,
        |  CASE WHEN l_returnflag = 'R'
        |       THEN floor((fmod(fmod(l_discount * 3600 + 180.0, 360) + 360, 360)) * 100.0 + 0.5) / 100.0
        |       ELSE l_discount * 3600 END AS dir_std
        |FROM lineitem""".stripMargin,
    "x10_binary_flags" ->
      """SELECT o_orderkey,
        |  CAST(o_orderstatus <> 'F' AS INTEGER) AS is_open_target,
        |  CAST(o_orderpriority = '1-URGENT' AS INTEGER) AS is_urgent,
        |  CAST(o_totalprice > 200000 AS INTEGER) AS is_large
        |FROM orders""".stripMargin,
    "x12_piecewise_score" ->
      """SELECT l_orderkey, l_linenumber, pass_result,
        |  floor((CASE pass_result WHEN 'C' THEN -p WHEN 'I' THEN 1.0 - p
        |        WHEN 'IN' THEN 1.2 * (1.0 - p) ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS recovery_score
        |FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    CASE l_returnflag WHEN 'A' THEN 'C' WHEN 'R' THEN 'I' ELSE 'IN' END AS pass_result,
        |    l_discount * 10 AS p
        |  FROM lineitem)""".stripMargin,
    "x15_interp_sequence" ->
      """SELECT l_orderkey, l_linenumber, i,
        |  floor((l_quantity * i / 4.0) * 100.0 + 0.5) / 100.0 AS interp
        |FROM lineitem, range(5) t(i)""".stripMargin,
    "k1_featurize_condagg" ->
      """SELECT l_orderkey,
        |  floor((sqrt(pow(rec_x - def_x, 2) + pow(rec_y - def_y, 2))) * 100.0 + 0.5) / 100.0 AS separation,
        |  floor((sqrt(pow(qb_x - rec_x, 2) + pow(qb_y - rec_y, 2))) * 100.0 + 0.5) / 100.0 AS qb_to_rec_dist,
        |  floor((-(def_s * cos(radians(def_dir)) * (rec_x - def_x)
        |          + def_s * sin(radians(def_dir)) * (rec_y - def_y))
        |    / greatest(sqrt(pow(def_x - rec_x, 2) + pow(def_y - rec_y, 2)), 0.01)) * 100.0 + 0.5) / 100.0
        |    AS closing_speed,
        |  floor((pow(sqrt(pow(rec_x - def_x, 2) + pow(rec_y - def_y, 2)), 2)) * 100.0 + 0.5) / 100.0 AS separation_sq
        |FROM (
        |  SELECT l_orderkey,
        |    max(CASE WHEN l_linenumber = 1 THEN l_quantity END) AS qb_x,
        |    max(CASE WHEN l_linenumber = 1 THEN l_tax * 100 END) AS qb_y,
        |    max(CASE WHEN l_linenumber = 2 THEN l_quantity END) AS rec_x,
        |    max(CASE WHEN l_linenumber = 2 THEN l_tax * 100 END) AS rec_y,
        |    max(CASE WHEN l_linenumber = 3 THEN l_quantity END) AS def_x,
        |    max(CASE WHEN l_linenumber = 3 THEN l_tax * 100 END) AS def_y,
        |    max(CASE WHEN l_linenumber = 3 THEN l_discount * 100 END) AS def_s,
        |    max(CASE WHEN l_linenumber = 3 THEN fmod(l_extendedprice, 360) END) AS def_dir
        |  FROM lineitem GROUP BY l_orderkey)
        |WHERE qb_x IS NOT NULL AND rec_x IS NOT NULL AND def_x IS NOT NULL""".stripMargin,
    "k6_logloss_brier" ->
      """SELECT
        |  floor((CAST(sum(CAST(floor((-(y * ln(p) + (1.0 - y) * ln(1.0 - p))) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0
        |    / count(-(y * ln(p) + (1.0 - y) * ln(1.0 - p)))) * 10000.0 + 0.5) / 10000.0 AS logloss,
        |  floor((CAST(sum(CAST(floor((pow(p - y, 2)) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0 / count(pow(p - y, 2))) * 10000.0 + 0.5) / 10000.0 AS brier,
        |  count(*) AS n
        |FROM (
        |  SELECT greatest(least(l_discount * 10, 1 - 1e-6), 1e-6) AS p,
        |    CAST(CAST(l_returnflag = 'R' AS INTEGER) AS DOUBLE) AS y
        |  FROM lineitem)""".stripMargin,
    "k6_calibration_bins" ->
      """SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin,
        |  floor((CAST(sum(CAST(floor((p) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0 / count(p)) * 10000.0 + 0.5) / 10000.0 AS avg_p,
        |  floor((CAST(sum(CAST(floor((y) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0 / count(y)) * 10000.0 + 0.5) / 10000.0 AS avg_y,
        |  count(*) AS n
        |FROM (
        |  SELECT l_discount * 10 AS p,
        |    CAST(CAST(l_returnflag = 'R' AS INTEGER) AS DOUBLE) AS y
        |  FROM lineitem)
        |GROUP BY 1""".stripMargin,
    "w1_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS hour_start, count(*) AS n,
        |  floor((CAST(sum(CAST(floor((value) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0) * 100.0 + 0.5) / 100.0 AS sum_value
        |FROM events WHERE ts IS NOT NULL GROUP BY 1""".stripMargin,
    // json_valid guard: Spark's get_json_object returns NULL for
    // malformed JSON (the engine contract); DuckDB's extractor raises.
    "j8_json_extract" ->
      """SELECT event_id,
        |  CAST(CASE WHEN json_valid(props)
        |    THEN json_extract_string(props, '$.k') END AS BIGINT) AS k
        |FROM events""".stripMargin,
    "w3_interval_join" ->
      """SELECT c.user_id, c.ts AS click_ts, c.event_id AS click_id,
        |  v.ts AS view_ts, v.event_id AS view_id
        |FROM events c JOIN events v
        |  ON c.event_type = 'click' AND v.event_type = 'view'
        |  AND v.user_id = c.user_id
        |  AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 10 MINUTE""".stripMargin,
    // left filter in WHERE (an ON-clause left filter would keep
    // non-click rows as unmatched left rows), right filter in ON
    "w5_interval_left_join" ->
      """SELECT c.user_id, c.ts AS click_ts, c.event_id AS click_id,
        |  v.ts AS view_ts, v.event_id AS view_id
        |FROM events c LEFT JOIN events v
        |  ON v.event_type = 'view' AND v.user_id = c.user_id
        |  AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 10 MINUTE
        |WHERE c.event_type = 'click'""".stripMargin,
    // gaps-and-islands translation of session_window: a new session
    // starts when the gap from the previous event is >= 6h (Spark merges
    // strictly-within-gap events); session_end = last event + gap
    "w2_session_window" ->
      """WITH o AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w >= INTERVAL 6 HOUR THEN 1 ELSE 0 END AS brk
        |  FROM events WHERE ts IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM o)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 6 HOUR AS session_end,
        |  count(*) AS n_events,
        |  floor((CAST(sum(CAST(floor((value) * 10000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000000.0) * 100.0 + 0.5) / 100.0 AS sum_value
        |FROM s GROUP BY user_id, sess""".stripMargin,
    "j11_teams_dim" ->
      s"""WITH teams(team_id, abbr, team_name, primary_color) AS (
         |  VALUES ${graft.domain.Teams.oracleValues})
         |SELECT abbr, team_name, primary_color, count(*) AS n_customers
         |FROM customer JOIN teams ON c_custkey % 32 = team_id
         |GROUP BY 1, 2, 3""".stripMargin,
    "j12_asof_join" ->
      """WITH v AS (
        |  SELECT user_id, ts, max(value) AS pvalue
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |f AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type <> 'purchase')
        |SELECT f.event_id, f.user_id, f.ts, v.pvalue AS asof_pvalue
        |FROM f ASOF LEFT JOIN v ON f.user_id = v.user_id AND f.ts >= v.ts""".stripMargin,
    "j13_merge_upsert" ->
      """WITH u AS (
        |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
        |    DATE '1990-01-01' AS ts, CAST(0 AS BIGINT) AS tie, false AS del
        |  FROM customer
        |  UNION ALL
        |  SELECT o_custkey, 'cdc_update', o_totalprice, 'CDC',
        |    o_orderdate, o_orderkey, o_orderstatus = 'F'
        |  FROM orders),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY c_custkey
        |    ORDER BY ts DESC, tie DESC, c_name DESC NULLS LAST,
        |      c_acctbal DESC NULLS LAST, c_mktsegment DESC NULLS LAST,
        |      del DESC NULLS LAST) AS rn
        |  FROM u)
        |SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM r WHERE rn = 1 AND NOT del""".stripMargin,
    "x18_frame_offset_union" ->
      """WITH before AS (
        |  SELECT user_id, event_id, value FROM events WHERE user_id % 2 = 0),
        |after AS (
        |  SELECT user_id, event_id, value FROM events WHERE user_id % 2 <> 0),
        |m AS (SELECT coalesce(max(event_id), 0) AS mx FROM before)
        |SELECT user_id, event_id, value FROM before
        |UNION ALL
        |SELECT user_id, event_id + (SELECT mx FROM m) AS event_id, value FROM after""".stripMargin
  )
}
